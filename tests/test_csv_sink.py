"""S6: byte-exact CSV sink (reference scripts/config.py:126-141) and
the 18-file output layout (scripts/merge_support.py:105-107,311-313)."""

from __future__ import annotations

import hashlib
import os
import shutil

import pandas as pd
import pytest

from fec_cn_support_etl_spark.plans import fec_pipeline as P
from fec_cn_support_etl_spark.sources import fec as fec_src
from fec_cn_support_etl_spark.sources.csv_sink import (
    write_csv_no_blank_line,
    write_pipeline_outputs,
)

from fec_fixture import YEAR, write_fixture


def sha(p):
    with open(p, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


ROWS = [
    (1, "alpha", 719.75, "VA"),
    (2, "beta, quoted", 25.0, None),
    (3, "gamma", 10000000.0, "TX"),
    (4, "", 0.5, "NY"),
]
COLS = ["id", "name", "amount", "state"]


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(ROWS, COLS).coalesce(1).sortWithinPartitions("id")


def reference_golden(tmp_path) -> str:
    """The reference helper verbatim-in-spirit: pandas to_csv, then
    strip trailing newline bytes (config.py:126-141)."""
    g = str(tmp_path / "golden.csv")
    pd.DataFrame(ROWS, columns=COLS).to_csv(g, index=False)
    with open(g, "rb") as fh:
        content = fh.read()
    with open(g, "wb") as fh:
        fh.write(content.rstrip(b"\r\n"))
    return g


def test_driver_sink_sha_matches_reference_helper(small_df, tmp_path):
    p = write_csv_no_blank_line(small_df, str(tmp_path / "out.csv"), mode="driver")
    assert sha(p) == sha(reference_golden(tmp_path))
    with open(p, "rb") as fh:
        data = fh.read()
    assert not data.endswith(b"\n") and data  # contract: no trailing blank line


def test_distributed_sink_same_contract(small_df, tmp_path):
    """Distributed path: same rows, same no-trailing-newline contract;
    byte parity with pandas asserted on the string/int columns (float
    repr is engine-specific — 1e7 formats differently, documented)."""
    p = write_csv_no_blank_line(small_df, str(tmp_path / "dist.csv"), mode="distributed")
    with open(p, "rb") as fh:
        data = fh.read()
    assert not data.endswith(b"\n")
    got = pd.read_csv(p).fillna({"name": ""})
    want = pd.DataFrame(ROWS, columns=COLS).fillna({"name": ""})
    assert got[["id", "name", "state"]].equals(want[["id", "name", "state"]])
    assert got["amount"].tolist() == pytest.approx(want["amount"].tolist())
    # string/int-only frames are byte-exact vs the pandas golden
    p2 = write_csv_no_blank_line(small_df.select("id", "name", "state"), str(tmp_path / "d2.csv"), mode="distributed")
    p3 = write_csv_no_blank_line(small_df.select("id", "name", "state"), str(tmp_path / "d3.csv"), mode="driver")
    assert sha(p2) == sha(p3)


def test_strip_handles_tails_longer_than_one_chunk(tmp_path):
    """r2-ADVICE: a file ending in more than 64 CR/LF bytes must still
    strip ALL of them (the reference helper strips the full tail; the
    sink's contract is sha256 byte parity)."""
    from fec_cn_support_etl_spark.sources.csv_sink import _strip_trailing_newlines

    p = str(tmp_path / "tail.csv")
    with open(p, "wb") as fh:
        fh.write(b"id,name\n1,alpha" + b"\r\n" * 100)
    _strip_trailing_newlines(p)
    with open(p, "rb") as fh:
        assert fh.read() == b"id,name\n1,alpha"
    # all-newline file degenerates to empty, not an infinite loop
    with open(p, "wb") as fh:
        fh.write(b"\n" * 200)
    _strip_trailing_newlines(p)
    assert os.path.getsize(p) == 0


def test_pipeline_output_layout(spark, tmp_path):
    """run_all_offices -> the reference's 18 CSVs, every one stripped."""
    root = tmp_path / "fec"
    write_fixture(root)
    inputs = P.FecInputs(
        cn=fec_src.read_fec_dir(spark, root / "cn", "cn"),
        cm=fec_src.read_fec_dir(spark, root / "cm", "cm"),
        ccl=fec_src.read_fec_dir(spark, root / "ccl", "ccl"),
        itcont=fec_src.read_fec_dir(spark, root / "itcont", "itcont"),
        itpas2=fec_src.read_fec_dir(spark, root / "itpas2", "itpas2"),
    )
    groups = P.run_all_offices(inputs, YEAR)
    written = write_pipeline_outputs(groups, str(tmp_path / "out"), suffix="16")
    assert len(written) == 18
    names = {os.path.basename(p) for p in written}
    assert "senate_final_support_table_16.csv" in names
    assert "presidential_candidates_no_support_16.csv" in names
    assert "total_individual_support_16.csv" in names
    for p in written:
        with open(p, "rb") as fh:
            data = fh.read()
        assert data and not data.endswith(b"\n"), p


def test_outputs_read_tables_materialized_once(spark, tmp_path):
    """run_all_offices stores the four support tables, so the 18 writes
    run one Spark job per CSV and scan no fact file: with itcont and
    itpas2 deleted after run_all_offices, every CSV is still written
    byte-identical to a run over the intact files. The tables it cached
    are gone again after caching.release_all()."""
    from fec_cn_support_etl_spark.operators import caching

    root = tmp_path / "fec"
    write_fixture(root)
    inputs = P.FecInputs(
        **{t: fec_src.read_fec_dir(spark, root / t, t) for t in ("cn", "cm", "ccl", "itcont", "itpas2")}
    )
    want = {
        os.path.relpath(p, tmp_path / "want"): sha(p)
        for p in write_pipeline_outputs(P.run_all_offices(inputs, YEAR), str(tmp_path / "want"), suffix="16")
    }
    caching.release_all()

    sc = spark.sparkContext
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    groups = P.run_all_offices(inputs, YEAR)
    for t in ("itcont", "itpas2"):
        shutil.rmtree(root / t)
    sc.setJobGroup("csv-writes", "write_pipeline_outputs over stored tables")
    try:
        written = write_pipeline_outputs(groups, str(tmp_path / "got"), suffix="16")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("csv-writes")) == len(written) == 18
    assert {os.path.relpath(p, tmp_path / "got"): sha(p) for p in written} == want

    cached = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()} - before
    assert cached
    caching.release_all()
    assert not cached & {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
