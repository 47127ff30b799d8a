"""The benchmark's own tests: metric names, generator determinism, that
each oracle rejects a corrupted result, and the tail-percentile helper.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

import gen_catalog
import gen_fec
import harness
import oracles
import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_digest(root) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ------------------------------------------------------------ metric names


def test_metric_names_match_benchmark_json():
    bench = run.load_benchmark(ROOT)
    e2e = run.end_to_end_values({"run_s": 2.0, "throughput": 5.0}, 1.0, 100.0)
    assert [n for n, _ in run.end_to_end_names(bench)] == list(e2e)
    assert all(v > 0 for v in e2e.values())
    assert {n for n, _ in run.per_layer_names(bench)} == run.layer_names()


# -------------------------------------------------------------- generators


def test_fec_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    gen_fec.generate(str(a), seed=5, n_itcont=2000, n_itpas2=800)
    gen_fec.generate(str(b), seed=5, n_itcont=2000, n_itpas2=800)
    gen_fec.generate(str(c), seed=6, n_itcont=2000, n_itpas2=800)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)
    assert sorted(_tree_digest(a)) == sorted(f"{t}/{t}.txt" for t in gen_fec.TABLES)


def test_fec_generator_covers_fixture_edge_cases(tmp_path):
    from fec_cn_support_etl_spark.sources.fec import FEC_SCHEMAS

    gen_fec.generate(str(tmp_path), seed=2, n_itcont=5000, n_itpas2=2000)
    t = oracles.load_bulk_dir(str(tmp_path), FEC_SCHEMAS)
    cn, cm = t["cn"], t["cm"]
    assert {"2016", "2016.0", "16", "2014"} <= set(cn["CAND_ELECTION_YR"])
    assert "H" in set(cn["CAND_OFFICE"])
    assert cn["CAND_ID"].duplicated().any()
    assert {"C", "L"} <= set(cm["ORG_TP"].dropna()) and cm["ORG_TP"].isna().any()
    assert cm["CMTE_ID"].duplicated().any()
    amt = t["itcont"]["TRANSACTION_AMT"]
    assert amt.isna().any() and (amt == "0").any() and amt.str.startswith("-").any()
    with open(tmp_path / "itcont" / "itcont.txt") as fh:
        lines = fh.readlines()
    assert any("|N/A|" in line for line in lines)
    assert len({line.count("|") for line in lines}) == 2, "malformed extra-field lines are present"


def test_catalog_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 4), (b, 4), (c, 9)):
        gen_catalog.generate(str(d), seed, scale=0.1)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_wal_generator_is_identical_per_seed(tmp_path):
    """The WAL comes from the package's own generator; part-file names
    carry a random id, so compare the events read back."""
    from fec_cn_support_etl_spark.cdc import events as ev
    from fec_cn_support_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2, driver_memory="1g")
    frames = []
    try:
        for i, seed in enumerate((3, 3, 8)):
            d = str(tmp_path / f"wal{i}")
            ev.write_wal(ev.gen_change_events(spark, 2000, n_repos=10, n_paths=20, epochs=4, seed=seed, partitions=4), d)
            frames.append(oracles.read_wal([d]))
    finally:
        spark.stop()
    pd.testing.assert_frame_equal(frames[0], frames[1])
    assert not frames[0].equals(frames[2])


# ----------------------------------------------------------------- oracles


def test_fec_oracle_rejects_flipped_amount(tmp_path):
    from fec_cn_support_etl_spark.sources.fec import FEC_SCHEMAS

    gen_fec.generate(str(tmp_path / "in"), seed=3, n_itcont=3000, n_itpas2=1000)
    tables = oracles.load_bulk_dir(str(tmp_path / "in"), FEC_SCHEMAS)
    want = oracles.fec_reference(tables, oracles.OFFICE_GROUPS["total"], gen_fec.YEAR)["final_support_table"]
    assert len(want) > 0
    path = str(tmp_path / "final.csv")
    csv = want.drop(columns=[c for c in want.columns if c.startswith("_")]).to_csv(index=False)
    with open(path, "w") as fh:
        fh.write(csv.rstrip("\n"))  # the sink writes no trailing newline
    assert oracles.compare_output(path, want) is None
    oracles.corrupt_csv_amount(path, "TOTAL_SUPPORT", delta=0.05)
    assert "TOTAL_SUPPORT" in oracles.compare_output(path, want)


def _events() -> pd.DataFrame:
    rows = [
        (0, "I", "r0", "a", "c1", "py", "x"),
        (1, "U", "r0", "a", "c2", "Python", "y"),
        (2, "I", "r0", "b", "c3", "rs", "z"),
        (3, "D", "r0", "b", None, None, None),
        (4, "I", "r1", "a", "c4", "md", "w"),
    ]
    return pd.DataFrame(rows, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"])


def test_cdc_oracle_folds_last_writer_wins():
    ev = _events()
    state = oracles.lww_state(ev)
    assert state[["repo", "path", "commit", "lang", "lsn"]].values.tolist() == [
        ["r0", "a", "c2", "python", 1],
        ["r1", "a", "c4", "markdown", 4],
    ]
    idx = oracles.AsOfIndex(ev)
    assert idx.expected(("r0", "b"), 2) == ("c3", "rust", hashlib.sha256(b"z").hexdigest(), 2)
    assert idx.expected(("r0", "b"), 3) is None
    assert idx.expected(("r1", "a"), 3) is None
    assert idx.expected(("r0", "a"), 0)[0] == "c1"


def test_cdc_oracle_rejects_dropped_key():
    want = oracles.lww_state(_events())
    got = want.iloc[1:].reset_index(drop=True)
    assert oracles.state_digest(want) == oracles.state_digest(want.copy())
    assert oracles.state_digest(got) != oracles.state_digest(want)


def test_catalog_oracle_rejects_changed_value():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = want.sample(frac=1.0, random_state=0).reset_index(drop=True)
    assert oracles.compare_frames(got, want) is None
    got.loc[0, "v"] += 0.01
    assert oracles.compare_frames(got, want) == "1 rows differ"
    assert oracles.compare_frames(got.iloc[1:], want).startswith("rows")


# ----------------------------------------------------------------- tracing


class _FakeSparkContext:
    """The job-group calls a span makes, per thread as in Spark."""

    def __init__(self):
        self._props = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._props, "group", None)

    def setLocalProperty(self, key, value):
        self._props.group = value

    def setJobGroup(self, group, description, interruptOnCancel=False):
        self._props.group = group


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSparkContext()


def test_helper_thread_spans_hang_under_the_span_that_handed_work_over():
    """The pipelined-replay shape: the prepare thread opens its span
    while the main thread has the next commit open. The prepare must
    hang under the replay that submitted it, not under that commit, so
    the commit's self time keeps the overlap."""
    submit = ThreadPoolExecutor.submit
    tracer = tracing.Tracer(_FakeSpark(), "t")
    tracer.follow_executor_handoffs()
    commit_open = threading.Event()

    def prepare():
        commit_open.wait(5)
        with tracer.span("prepare"):
            time.sleep(0.1)

    def reader():
        with tracer.span("lookup"):
            pass

    try:
        with tracer.span("run"):
            with tracer.span("replay"):
                with ThreadPoolExecutor(max_workers=1) as pool:
                    fut = pool.submit(prepare)
                    with tracer.span("commit"):
                        commit_open.set()
                        time.sleep(0.15)
                    fut.result()
            th = threading.Thread(target=reader)
            th.start()
            th.join()
    finally:
        tracer.unwrap_all()
    assert ThreadPoolExecutor.submit is submit
    ids = {s["name"]: s for s in tracer.spans}
    assert ids["prepare"]["parent"] == ids["replay"]["id"]
    assert ids["commit"]["parent"] == ids["replay"]["id"]
    assert ids["lookup"]["parent"] == ids["run"]["id"]
    agg = tracer.by_name()
    assert agg["commit"]["self_s"] == pytest.approx(agg["commit"]["s"])
    assert agg["commit"]["s"] >= 0.15
    # the replay's own time excludes the union of its overlapping children
    assert agg["replay"]["self_s"] < agg["replay"]["s"] - 0.15


# -------------------------------------------------------------- statistics


@pytest.mark.parametrize("n", [11, 25, 100, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    xs = list(range(n, 0, -1))
    pct, value, count = harness.tail_percentile(xs)
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    # one rank higher would leave only nine beyond it
    assert pct == int(1000 * (n - 10) / n) / 10
    assert pct < 100 * (n - 9) / n


def test_tail_percentile_falls_back_to_median_when_too_few():
    assert harness.tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)
    assert harness.tail_percentile(list(range(10))) == (50.0, 4.5, 10)
    assert harness.tail_percentile([]) == (50.0, 0.0, 0)


def test_result_line_is_the_contract_shape(capsys):
    run.print_result({"a": 1.5}, [("a", "s")], attempted=3, failed=0)
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(last) == {"correct": True, "attempted": 3, "failed": 0, "metrics": {"a": {"value": 1.5, "unit": "s"}}}
