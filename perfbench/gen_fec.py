"""Seeded FEC bulk-file generator (pipe-delimited, headerless, the public
FEC layouts of ``sources.fec.FEC_SCHEMAS``).

It reproduces the edge cases of the unit-test fixture at scale:

- year variants ``2016``, ``2016.0``, ``16`` (no 4-digit run) and ``2014``;
- House candidates (filtered by office) and duplicate candidate rows
  that differ in ``CAND_PCC`` / ``CAND_STATUS`` (spine dedup);
- committees linked to two candidates with designation ``P`` vs ``A``;
- ``ORG_TP`` in ``C``, ``''``, ``L``, ``M``, ``T`` (null and empty are the
  same empty field on disk) and repeated committee rows (last row wins);
- junk (``N/A``, empty), negative and zero amounts, excluded transaction
  and entity types, unknown committee and candidate ids;
- malformed lines with too many fields (dropped by the reader);
- zipf skew of contributions over committees and candidates.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

YEAR = "2016"
TABLES = ("cn", "cm", "ccl", "itcont", "itpas2")
_STATES = np.array(["AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MI", "NC", "NY", "OH", "PA", "TX", "VA", "WA"])


def _pick(rng, values, probs, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=probs)]


def _zipf_index(rng, n_items: int, n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=n, p=w / w.sum())


def _amounts(rng, n: int) -> np.ndarray:
    """Positive dollar strings with junk, negative and zero values mixed in."""
    cents = np.round(rng.lognormal(mean=8.0, sigma=1.2, size=n)).astype(np.int64) + 1
    whole = rng.random(n) < 0.4
    out = np.where(whole, (cents // 100 + 1).astype(str), np.char.mod("%.2f", cents / 100.0)).astype(object)
    u = rng.random(n)
    out[u < 0.01] = "N/A"
    out[(u >= 0.01) & (u < 0.02)] = ""
    neg = (u >= 0.02) & (u < 0.04)
    out[neg] = np.char.add("-", out[neg].astype(str))
    out[(u >= 0.04) & (u < 0.05)] = "0"
    return out


def _lines(cols: list[np.ndarray]) -> list[str]:
    return ["|".join(r) for r in zip(*cols)]


def gen_cn(rng, n_cand: int):
    office = _pick(rng, ["S", "P", "H"], [0.35, 0.15, 0.5], n_cand)
    ids = np.array([f"{o}{i % 10}{_STATES[i % len(_STATES)]}{i:05d}" for i, o in enumerate(office)], dtype=object)
    year = _pick(rng, ["2016", "2016.0", "16", "2014"], [0.8, 0.05, 0.03, 0.12], n_cand)
    # one extra row for 6% of candidates: same id, other PCC / status
    dup = np.flatnonzero(rng.random(n_cand) < 0.06)
    idx = np.sort(np.concatenate([np.arange(n_cand), dup]), kind="stable")
    n = len(idx)
    status = _pick(rng, ["C", "N", "F", "P"], [0.4, 0.3, 0.2, 0.1], n)
    pcc = np.where(rng.random(n) < 0.5, np.char.mod("C%08d", rng.integers(0, 10**8, n)), "").astype(object)
    st = _STATES[rng.integers(0, len(_STATES), n)].astype(object)
    st[(office[idx] == "P") & (rng.random(n) < 0.5)] = ""
    cols = [
        ids[idx],
        np.char.mod("NAME %d", np.arange(n)).astype(object),
        _pick(rng, ["DEM", "REP", "LIB", "GRE"], [0.45, 0.45, 0.05, 0.05], n),
        year[idx],
        st,
        office[idx],
        np.where(office[idx] == "H", "01", "00").astype(object),
        _pick(rng, ["I", "C", "O"], [0.4, 0.4, 0.2], n),
        status,
        pcc,
        np.full(n, "ST1", dtype=object),
        np.full(n, "", dtype=object),
        np.full(n, "CITY", dtype=object),
        st,
        np.full(n, "00000", dtype=object),
    ]
    return _lines(cols), np.unique(ids)


def gen_cm(rng, n_cmte: int):
    ids = np.char.mod("C%08d", np.arange(n_cmte)).astype(object)
    tp = _pick(rng, ["P", "Q", "N", "O", "H", "X"], [0.4, 0.2, 0.2, 0.1, 0.05, 0.05], n_cmte)
    org = _pick(rng, ["C", "", "L", "M", "T"], [0.45, 0.3, 0.1, 0.05, 0.1], n_cmte)
    # 2% of committees appear again later with another ORG_TP
    dup = np.flatnonzero(rng.random(n_cmte) < 0.02)
    idx = np.concatenate([np.arange(n_cmte), dup])
    org_all = np.concatenate([org, _pick(rng, ["C", "", "L"], [0.4, 0.4, 0.2], len(dup))])
    n = len(idx)
    cols = [
        ids[idx],
        np.char.mod("CMTE %d", idx).astype(object),
        np.full(n, "TRES", dtype=object),
        np.full(n, "ST1", dtype=object),
        np.full(n, "", dtype=object),
        np.full(n, "CITY", dtype=object),
        _STATES[idx % len(_STATES)].astype(object),
        np.full(n, "00000", dtype=object),
        _pick(rng, ["P", "U", "A", "B"], [0.3, 0.5, 0.1, 0.1], n),
        tp[idx],
        np.full(n, "", dtype=object),
        np.full(n, "Q", dtype=object),
        org_all,
        np.full(n, "", dtype=object),
        np.full(n, "", dtype=object),
    ]
    return _lines(cols), ids, tp


def gen_ccl(rng, cand_ids: np.ndarray, cmte_ids: np.ndarray, cmte_tp: np.ndarray):
    principal = cmte_ids[cmte_tp == "P"]
    n = len(principal)
    cand = cand_ids[rng.integers(0, len(cand_ids), n)]
    # 10% of committees get a second linkage to another candidate
    second = np.flatnonzero(rng.random(n) < 0.1)
    cm_all = np.concatenate([principal, principal[second]])
    cand_all = np.concatenate([cand, cand_ids[rng.integers(0, len(cand_ids), len(second))]])
    order = np.argsort(rng.random(len(cm_all)), kind="stable")
    cm_all, cand_all = cm_all[order], cand_all[order]
    m = len(cm_all)
    cols = [
        cand_all,
        np.full(m, YEAR, dtype=object),
        np.full(m, YEAR, dtype=object),
        cm_all,
        np.full(m, "P", dtype=object),
        _pick(rng, ["P", "A"], [0.6, 0.4], m),
        np.char.mod("L%07d", np.arange(m)).astype(object),
    ]
    return _lines(cols), principal


def _fact(rng, n: int, cmte: np.ndarray, tp: np.ndarray, entity: np.ndarray, cand=None):
    amt = _amounts(rng, n)
    cols = [
        cmte,
        np.full(n, "N", dtype=object),
        np.full(n, "Q1", dtype=object),
        np.full(n, "P2016", dtype=object),
        np.char.mod("IMG%d", rng.integers(0, 10**6, n)).astype(object),
        tp,
        entity,
        np.full(n, "DOE, JANE", dtype=object),
        np.full(n, "CITY", dtype=object),
        _STATES[rng.integers(0, len(_STATES), n)].astype(object),
        np.full(n, "00000", dtype=object),
        np.full(n, "EMP", dtype=object),
        np.full(n, "OCC", dtype=object),
        np.full(n, "01012016", dtype=object),
        amt,
        np.full(n, "", dtype=object),
    ]
    if cand is not None:
        cols.append(cand)
    cols += [
        np.char.mod("T%d", np.arange(n)).astype(object),
        np.full(n, "1", dtype=object),
        np.full(n, "", dtype=object),
        np.full(n, "", dtype=object),
        np.char.mod("%d", np.arange(n)).astype(object),
    ]
    return _lines(cols)


def _with_malformed(rng, lines: list[str], rate: float) -> list[str]:
    bad = set(np.flatnonzero(rng.random(len(lines)) < rate).tolist())
    out = []
    for i, line in enumerate(lines):
        out.append(line)
        if i in bad:
            out.append("|".join(["X"] * 30))
    return out


def gen_itcont(rng, n: int, principal: np.ndarray):
    cmte = principal[_zipf_index(rng, len(principal), n)].astype(object)
    cmte[rng.random(n) < 0.03] = "C99999999"  # no linkage
    tp = _pick(rng, ["15", "15E", "22Y", "10", "11"], [0.7, 0.15, 0.05, 0.05, 0.05], n)
    entity = _pick(rng, ["IND", "ORG", "PAC"], [0.9, 0.05, 0.05], n)
    return _with_malformed(rng, _fact(rng, n, cmte, tp, entity), 0.005)


def gen_itpas2(rng, n: int, cmte_ids: np.ndarray, cmte_tp: np.ndarray, cand_ids: np.ndarray):
    spenders = cmte_ids[np.isin(cmte_tp, ["Q", "N", "O"])]
    cmte = spenders[_zipf_index(rng, len(spenders), n)].astype(object)
    cand = cand_ids[_zipf_index(rng, len(cand_ids), n, s=0.9)].astype(object)
    cand[rng.random(n) < 0.02] = "S9ZZ99999"  # unknown candidate
    tp = _pick(rng, ["24K", "24Z", "24E", "24A", "24C"], [0.6, 0.1, 0.2, 0.05, 0.05], n)
    entity = _pick(rng, ["PAC", "ORG", "CCM"], [0.8, 0.1, 0.1], n)
    return _with_malformed(rng, _fact(rng, n, cmte, tp, entity, cand=cand), 0.002)


def generate(root: str, seed: int, n_itcont: int, n_itpas2: int, n_cand: int = 1500, n_cmte: int = 2500) -> dict:
    """Write the five bulk files under ``root/<table>/<table>.txt``.
    Returns {table: path}."""
    rng = np.random.default_rng(seed)
    cn, cand_ids = gen_cn(rng, n_cand)
    cm, cmte_ids, cmte_tp = gen_cm(rng, n_cmte)
    ccl, principal = gen_ccl(rng, cand_ids, cmte_ids, cmte_tp)
    tables = {
        "cn": cn,
        "cm": cm,
        "ccl": ccl,
        "itcont": gen_itcont(rng, n_itcont, principal),
        "itpas2": gen_itpas2(rng, n_itpas2, cmte_ids, cmte_tp, cand_ids),
    }
    paths = {}
    for name, lines in tables.items():
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{name}.txt")
        with open(p, "w", encoding="ascii", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        paths[name] = p
    return paths
