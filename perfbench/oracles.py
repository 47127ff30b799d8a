"""Independent, untimed oracles. None of them calls the package's
engine code: the FEC oracle re-implements the reference's four scripts
in pandas, the CDC oracle is a pandas last-writer-wins fold, and the
catalog oracle runs each query's DuckDB SQL (``catalog.ORACLE``)."""

from __future__ import annotations

import bisect
import hashlib
import math
import os

import numpy as np
import pandas as pd

# =============================================================== FEC

SUPPORT_COLS = ["INDIVIDUAL_SUPPORT", "CORP_PAC_SUPPORT", "NONCONNECTED_PAC_SUPPORT", "SUPERPAC_IE_SUPPORT"]
MONEY_COLS = set(SUPPORT_COLS) | {"TOTAL_SUPPORT"}
OFFICE_GROUPS = {"total": ("S", "P"), "senate": ("S",), "presidential": ("P",)}
OUTPUT_NAMES = (
    "individual_support",
    "superpac_ie_support",
    "pac_support_corp_nonconnected",
    "final_support_table",
    "candidates_no_support",
    "candidates_all_with_flag",
)


def read_bulk(path: str, cols: list[str]) -> pd.DataFrame:
    """pandas read of a headerless pipe file, all strings, lines with
    too many fields skipped (the reference's read_csv settings)."""
    return pd.read_csv(path, sep="|", header=None, names=cols, dtype=str, on_bad_lines="skip", engine="c")


def _year(s: pd.Series) -> pd.Series:
    return s.str.extract(r"(\d{4})", expand=False)


def _amount(s: pd.Series) -> pd.Series:
    return pd.to_numeric(s, errors="coerce")


def _candidates(cn: pd.DataFrame, offices, year: str) -> pd.DataFrame:
    c = cn[cn["CAND_OFFICE"].isin(offices)].copy()
    c["CAND_ELECTION_YR"] = _year(c["CAND_ELECTION_YR"])
    return c[c["CAND_ELECTION_YR"] == year]


def fec_reference(tables: dict[str, pd.DataFrame], offices, year: str) -> dict[str, pd.DataFrame]:
    """The four reference scripts for one office group."""
    cn, cm, ccl, itcont, itpas2 = (tables[k] for k in ("cn", "cm", "ccl", "itcont", "itpas2"))
    cands = _candidates(cn, offices, year)
    valid = set(cands["CAND_ID"])

    # individual_support: committee -> candidate, principal first, else first seen
    link = ccl.dropna(subset=["CMTE_ID", "CAND_ID"]).copy()
    link["_p"] = (link["CMTE_DSGN"].fillna("") == "P").astype(int)
    link["_o"] = np.arange(len(link))
    link = link.sort_values(["_p", "_o"], ascending=[False, True]).drop_duplicates("CMTE_ID")
    cmte_to_cand = dict(zip(link["CMTE_ID"], link["CAND_ID"]))
    f = itcont[itcont["TRANSACTION_TP"].isin(["15", "15E"]) & (itcont["ENTITY_TP"] == "IND")].copy()
    f["CAND_ID"] = f["CMTE_ID"].map(cmte_to_cand)
    f = f[f["CAND_ID"].isin(valid)]
    f["amt"] = _amount(f["TRANSACTION_AMT"])
    f = f[f["amt"] > 0]
    indiv = f.groupby("CAND_ID", as_index=False)["amt"].sum().rename(columns={"amt": "INDIVIDUAL_SUPPORT"})
    indiv = indiv.merge(cands, on="CAND_ID", how="left")

    # superpac_ie_support: CMTE_TP 'O' committees, TP 24E
    superpacs = set(cm.loc[cm["CMTE_TP"] == "O", "CMTE_ID"])
    s = itpas2[(itpas2["TRANSACTION_TP"] == "24E") & itpas2["CMTE_ID"].isin(superpacs) & itpas2["CAND_ID"].isin(valid)].copy()
    s["amt"] = _amount(s["TRANSACTION_AMT"])
    s = s[s["amt"] > 0]
    superpac = s.groupby("CAND_ID", as_index=False)["amt"].sum().rename(columns={"amt": "SUPERPAC_IE_SUPPORT"})
    superpac = superpac.merge(cands, on="CAND_ID", how="left")

    # pac_support_corp_union: Q/N committees, ORG_TP 'C' vs '' (last cm row wins)
    cmf = cm.dropna(subset=["CMTE_ID"]).copy()
    cmf["CMTE_TP"] = cmf["CMTE_TP"].fillna("")
    cmf["ORG_TP"] = cmf["ORG_TP"].fillna("")
    org = dict(zip(cmf["CMTE_ID"], cmf["ORG_TP"]))
    pacs = set(cmf.loc[cmf["CMTE_TP"].isin(["Q", "N"]), "CMTE_ID"])
    p = itpas2[~itpas2["TRANSACTION_TP"].isin(["24E", "24A"]) & itpas2["CMTE_ID"].isin(pacs) & itpas2["CAND_ID"].isin(valid)].copy()
    p["amt"] = _amount(p["TRANSACTION_AMT"])
    p = p[p["amt"] > 0]
    p["org"] = p["CMTE_ID"].map(org).fillna("")
    p["corp"] = np.where(p["org"] == "C", p["amt"], 0.0)
    p["nonconn"] = np.where(p["org"] == "", p["amt"], 0.0)
    keys = set(p.loc[p["org"].isin(["C", ""]), "CAND_ID"])
    pac = p[p["CAND_ID"].isin(keys)].groupby("CAND_ID", as_index=False)[["corp", "nonconn"]].sum()
    pac = pac.rename(columns={"corp": "CORP_PAC_SUPPORT", "nonconn": "NONCONNECTED_PAC_SUPPORT"})
    pac = pac.merge(cands, on="CAND_ID", how="left")

    # merge_support: spine dedup (has PCC, then status C, then first seen)
    sp = cands.copy()
    sp["_pcc"] = (sp["CAND_PCC"].fillna("").str.len() > 0).astype(int)
    sp["_c"] = (sp["CAND_STATUS"].fillna("") == "C").astype(int)
    sp["_o"] = np.arange(len(sp))
    sp = sp.sort_values(["_pcc", "_c", "_o"], ascending=[False, False, True])
    sp = sp.drop_duplicates(["CAND_ID", "CAND_ELECTION_YR"])
    spine = sp[["CAND_ID", "CAND_ELECTION_YR", "CAND_NAME", "CAND_PTY_AFFILIATION", "CAND_OFFICE", "CAND_OFFICE_ST"]]
    key = ["CAND_ID", "CAND_ELECTION_YR"]
    merged = spine
    for df, cols in ((indiv, ["INDIVIDUAL_SUPPORT"]), (pac, ["CORP_PAC_SUPPORT", "NONCONNECTED_PAC_SUPPORT"]), (superpac, ["SUPERPAC_IE_SUPPORT"])):
        collapsed = df[key + cols].fillna({c: 0.0 for c in cols}).groupby(key, as_index=False)[cols].sum()
        merged = merged.merge(collapsed, on=key, how="left")
    merged[SUPPORT_COLS] = merged[SUPPORT_COLS].fillna(0.0)
    merged["TOTAL_SUPPORT"] = merged[SUPPORT_COLS].sum(axis=1)
    merged["HAS_MONEY"] = (merged["TOTAL_SUPPORT"] > 0).astype(int)
    return {
        "individual_support": indiv,
        "superpac_ie_support": superpac,
        "pac_support_corp_nonconnected": pac,
        "final_support_table": merged[merged["HAS_MONEY"] == 1],
        "candidates_no_support": merged[merged["HAS_MONEY"] == 0],
        "candidates_all_with_flag": merged,
    }


def load_bulk_dir(root: str, schemas: dict[str, list[str]]) -> dict[str, pd.DataFrame]:
    return {t: read_bulk(os.path.join(root, t, f"{t}.txt"), cols) for t, cols in schemas.items()}


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    """Strings as written to CSV (nulls empty), money as float."""
    out = pd.DataFrame(index=range(len(df)))
    for c in df.columns:
        if c.startswith("_"):
            continue
        if c in MONEY_COLS:
            out[c] = pd.to_numeric(df[c].reset_index(drop=True), errors="coerce").fillna(0.0).astype(float)
        else:
            out[c] = df[c].reset_index(drop=True).fillna("").astype(str)
    return out


def compare_output(got_csv: str, want: pd.DataFrame, tol: float = 0.01) -> str | None:
    """None when the written CSV matches the oracle frame: same columns,
    same rows (as a multiset of string cells) and money within ``tol``;
    else a one-line reason."""
    if not os.path.exists(got_csv):
        return "missing file"
    with open(got_csv, "rb") as fh:
        if fh.read().endswith(b"\n"):
            return "trailing newline"
    got = pd.read_csv(got_csv, dtype=str, keep_default_na=False)
    got.columns = [str(c) for c in got.columns]
    got, want = _normalise(got), _normalise(want)
    if set(got.columns) != set(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    strs = sorted(c for c in got.columns if c not in MONEY_COLS)
    money = sorted(c for c in got.columns if c in MONEY_COLS)
    g =got.sort_values(strs + money, kind="stable").reset_index(drop=True)
    w = want.sort_values(strs + money, kind="stable").reset_index(drop=True)
    if not g[strs].equals(w[strs]):
        bad = (g[strs] != w[strs]).any(axis=1)
        return f"{int(bad.sum())} rows differ in key columns"
    for c in money:
        diff = (g[c] - w[c]).abs()
        if (diff >= tol).any():
            return f"{c}: {int((diff >= tol).sum())} rows off by >= {tol}"
    return None


def final_sort_ok(csv_path: str) -> bool:
    """Final tables are sorted by CAND_OFFICE_ST (empty last), then
    TOTAL_SUPPORT descending."""
    df = pd.read_csv(csv_path, dtype=str, keep_default_na=False)
    st = df["CAND_OFFICE_ST"].tolist()
    tot = pd.to_numeric(df["TOTAL_SUPPORT"]).tolist()
    keys = [((s == ""), s, -t) for s, t in zip(st, tot)]
    return all(a <= b for a, b in zip(keys, keys[1:]))


def corrupt_csv_amount(path: str, column: str = "TOTAL_SUPPORT", delta: float = 1.0) -> None:
    """Test helper: add ``delta`` to one amount of a written CSV."""
    df = pd.read_csv(path, dtype=str, keep_default_na=False)
    df.loc[0, column] = repr(float(df.loc[0, column]) + delta)
    df.to_csv(path, index=False)
    with open(path, "rb+") as fh:
        data = fh.read().rstrip(b"\r\n")
        fh.seek(0)
        fh.write(data)
        fh.truncate()


# =============================================================== CDC

LANG_ALIASES = {
    "py": "python", "python3": "python", "rs": "rust", "md": "markdown",
    "c++": "cpp", "golang": "go", "js": "javascript", "ts": "typescript",
}
STATE_COLS = ["repo", "path", "commit", "lang", "content_sha", "lsn"]


def _lang(v: str) -> str:
    v = v.strip().lower()
    return LANG_ALIASES.get(v, v)


def _sha(c) -> str | None:
    return hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None


def read_wal(wal_dirs: list[str]) -> pd.DataFrame:
    cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    frames = [pd.read_parquet(d, columns=cols) for d in wal_dirs]
    return pd.concat(frames, ignore_index=True).sort_values("lsn", kind="stable").reset_index(drop=True)


def lww_state(events: pd.DataFrame, upto_lsn: int | None = None) -> pd.DataFrame:
    """Fold events by (repo, path): max lsn wins, a delete drops the key."""
    ev = events if upto_lsn is None else events[events["lsn"] <= upto_lsn]
    last = ev.sort_values("lsn", kind="stable").groupby(["repo", "path"], as_index=False).last()
    alive = last[last["op"] != "D"].copy()
    alive["content_sha"] = alive["content"].map(_sha)
    alive["lang"] = alive["lang"].map(_lang)
    return alive[STATE_COLS].sort_values(["repo", "path"]).reset_index(drop=True)


def state_digest(df: pd.DataFrame) -> str:
    payload = "\n".join("|".join("" if pd.isna(v) else str(v) for v in row) for row in df[STATE_COLS].itertuples(index=False))
    return hashlib.sha256(payload.encode()).hexdigest()


class AsOfIndex:
    """Per-key event history, to answer "what did key k hold once every
    event with lsn <= L was applied" for point lookups."""

    def __init__(self, events: pd.DataFrame):
        self._hist: dict[tuple[str, str], tuple[list[int], list[tuple]]] = {}
        for row in events.itertuples(index=False):
            lsns, vals = self._hist.setdefault((row.repo, row.path), ([], []))
            lsns.append(int(row.lsn))
            vals.append((row.op, row.commit, row.lang, row.content))

    def expected(self, key: tuple[str, str], upto_lsn: int):
        """(commit, lang, content_sha, lsn) or None when absent/deleted."""
        h = self._hist.get(key)
        if not h:
            return None
        i = bisect.bisect_right(h[0], upto_lsn) - 1
        if i < 0:
            return None
        op, commit, lang, content = h[1][i]
        if op == "D":
            return None
        return (commit, _lang(lang), _sha(content), h[0][i])


# =========================================================== catalog

CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def duck_frame(sql: str, data_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon_val(v):
    if v is None:
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_val(x) for x in v)
    return v


def canon_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_val(v) for v in tup) for tup in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive canonical-row compare; None when equal."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    gc, gr = canon_rows(got)
    wc, wr = canon_rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    bad = sum(1 for a, b in zip(gr, wr) if not _close(a, b))
    return f"{bad} rows differ" if bad else None
