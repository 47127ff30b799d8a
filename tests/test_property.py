"""Property-based tests (hypothesis): core operators vs pure-python
references on randomized inputs. Bounded example counts — each example
round-trips through Spark."""

from __future__ import annotations

import hashlib

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


# ----------------------------------------------------------- sessionize

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user_id
        st.integers(min_value=0, max_value=10_000),  # offset seconds
        st.integers(min_value=0, max_value=100),  # value
    ),
    min_size=1,
    max_size=40,
)


def py_sessions(rows, gap_s=1800):
    """Reference sessionization: per user, sort by (ts, event_id), split
    on gap, aggregate."""
    by_user = {}
    for eid, (u, off, val) in enumerate(rows):
        by_user.setdefault(u, []).append((off, eid, val))
    out = []
    for u, evs in by_user.items():
        evs.sort()
        cur = None
        for off, _eid, val in evs:
            if cur is None or off - cur[1] > gap_s:
                if cur:
                    out.append((u, *cur))
                cur = [off, off, 0, 0.0]
            cur[1] = max(cur[1], off)
            cur[2] += 1
            cur[3] += float(val)
        out.append((u, *cur))
    return sorted((u, s, e, n, t) for u, s, e, n, t in out)


@SETTINGS
@given(rows=events_strategy)
def test_sessionize_batch_matches_python(spark, rows):
    from fec_cn_support_etl_spark.streaming.sessionize import sessionize_batch

    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "user_id": [r[0] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[1]) for r in rows],
            "value": [float(r[2]) for r in rows],
        }
    )
    df = spark.createDataFrame(pdf)
    got = sorted(
        (
            r["user_id"],
            int((pd.Timestamp(r["session_start"]) - base).total_seconds()),
            int((pd.Timestamp(r["session_end"]) - base).total_seconds()),
            r["n_events"],
            float(r["total_value"]),
        )
        for r in sessionize_batch(df, "30 minutes").collect()
    )
    assert got == py_sessions(rows)


# ------------------------------------------------------------ LWW dedup

lww_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # repo id
        st.integers(min_value=0, max_value=3),  # path id
        st.integers(min_value=0, max_value=1_000_000),  # lsn
        st.sampled_from(["I", "U", "D"]),
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[2],  # unique lsn => total order, no tie ambiguity
)


@SETTINGS
@given(rows=lww_strategy)
def test_lww_dedup_matches_pandas(spark, rows):
    from fec_cn_support_etl_spark.cdc.engine import lww_dedup

    pdf = pd.DataFrame(
        {
            "repo": [f"r{t[0]}" for t in rows],
            "path": [f"p{t[1]}" for t in rows],
            "lsn": [t[2] for t in rows],
            "commit": [f"c{t[2]}" for t in rows],
            "op": [t[3] for t in rows],
        }
    )
    got = {
        (r["repo"], r["path"]): (r["lsn"], r["op"])
        for r in lww_dedup(spark.createDataFrame(pdf)).collect()
    }
    want = {
        (r.repo, r.path): (r.lsn, r.op)
        for r in pdf.sort_values("lsn").groupby(["repo", "path"], as_index=False).last().itertuples()
    }
    assert got == want


# --------------------------------------------------- exact jaccard verify

_ALPHA = "abcd e"


def _with_edits(base: str, edits: list) -> list:
    """base plus one copy per (position, insert) edit of it."""
    return [base] + [base[: p % (len(base) + 1)] + ins + base[p % (len(base) + 1) :] for p, ins in edits]


# a base text and small single-insert edits of it: the pair Jaccards
# straddle the 4/5 verify threshold, so both sides of it are exercised
near_dup_docs = st.builds(
    _with_edits,
    st.text(alphabet=_ALPHA, min_size=20, max_size=60),
    st.lists(st.tuples(st.integers(0, 60), st.text(alphabet=_ALPHA, max_size=4)), min_size=1, max_size=7),
)


@SETTINGS
@given(texts=near_dup_docs)
def test_jaccard_verify_exact_on_all_pairs(spark, texts):
    """jaccard_verify_sets over ALL candidate pairs == python set
    Jaccard of char-5-shingle sets at the VERIFY_FRAC threshold
    (xxhash64 collisions are ~2^-64, i.e. never on these sizes)."""
    from fec_cn_support_etl_spark.operators.dedup import VERIFY_FRAC, char_shingle_sets, jaccard_verify_sets
    from sketch_oracle import py_shingles

    num, den = VERIFY_FRAC
    sets = [py_shingles(t) for t in texts]
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if inter * den >= union * num:
                want[(i, j)] = inter / union

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    ss = char_shingle_sets(df, "doc_id", "text")
    pairs = spark.createDataFrame(
        [(i, j) for i in range(len(texts)) for j in range(i + 1, len(texts))], ["id_a", "id_b"]
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_verify_sets(pairs, ss).collect()}
    assert got == want


# ------------------------------------------------------------ exact dedup

@SETTINGS
@given(texts=st.lists(st.text(alphabet="xyz", max_size=5), min_size=1, max_size=30))
def test_exact_dedup_keeps_one_per_content(spark, texts):
    from fec_cn_support_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = sorted((r["id"], r["text"]) for r in exact_dedup(df, "text", "id").collect())
    first_ids = {}
    for i, t in enumerate(texts):
        h = hashlib.sha256(t.encode()).hexdigest()
        first_ids.setdefault(h, (i, t))
    assert got == sorted(first_ids.values())


# ----------------------------------------------------- asof / range join

asof_strategy = st.tuples(
    st.lists(  # probe: (key, ts_off)
        st.tuples(st.integers(1, 3), st.integers(0, 5000)),
        min_size=1, max_size=25,
    ),
    st.lists(  # quotes: (key, ts_off, price)
        st.tuples(st.integers(1, 3), st.integers(0, 5000), st.integers(1, 999)),
        min_size=1, max_size=25,
    ),
)


def py_asof(probe, quotes):
    """Reference backward as-of: latest quote with same key, ts <= probe
    ts (quotes unique per (key, ts): keep max price on collision so the
    reference is deterministic like the operator input contract)."""
    best = {}
    for k, ts, p in quotes:
        best[(k, ts)] = max(best.get((k, ts), -1), p)
    out = []
    for i, (k, ts) in enumerate(probe):
        cands = [(qts, p) for (qk, qts), p in best.items() if qk == k and qts <= ts]
        out.append((i, max(cands)[1] if cands else None))
    return sorted(out)


@given(asof_strategy)
@SETTINGS
def test_asof_join_matches_python_reference(spark, data):
    from fec_cn_support_etl_spark.operators.joins import asof_join

    probe, quotes = data
    dedup_quotes = {}
    for k, ts, p in quotes:
        dedup_quotes[(k, ts)] = max(dedup_quotes.get((k, ts), -1), p)
    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(probe)], "lid long, k int, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [(k, ts, float(p)) for (k, ts), p in dedup_quotes.items()], "k int, ts long, price double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    got = sorted(
        (r.lid, int(r.price) if r.price is not None else None)
        for r in asof_join(left, right, key="k", ts="ts", payload=["price"]).collect()
    )
    assert got == py_asof(probe, quotes)


range_strategy = st.tuples(
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 5000)), min_size=1, max_size=25),
    st.lists(  # intervals: (key, start, length)
        st.tuples(st.integers(1, 3), st.integers(0, 5000), st.integers(0, 1500)),
        min_size=1, max_size=15,
    ),
    st.sampled_from([37, 600, 4000]),  # bin width exercises 1..many bins/interval
)


@given(range_strategy)
@SETTINGS
def test_range_join_matches_python_reference(spark, data):
    from fec_cn_support_etl_spark.operators.joins import binned_range_join

    probe, intervals, bin_sec = data
    p_df = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(probe)], "pid long, k int, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    i_df = spark.createDataFrame(
        [(j, k, s, s + ln) for j, (k, s, ln) in enumerate(intervals)],
        "iid long, k int, start long, end long",
    ).withColumn("start", F.timestamp_seconds("start")).withColumn("end", F.timestamp_seconds("end"))
    got = sorted(
        (r.iid, r.pid)
        for r in binned_range_join(p_df, i_df, key="k", ts="ts", start="start", end="end", bin_sec=bin_sec).collect()
    )
    want = sorted(
        (j, i)
        for j, (ik, s, ln) in enumerate(intervals)
        for i, (pk, ts) in enumerate(probe)
        if pk == ik and s <= ts <= s + ln
    )
    assert got == want
