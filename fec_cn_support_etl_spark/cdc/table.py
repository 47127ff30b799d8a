"""LakeTable — a minimal Iceberg-shaped copy-on-write table format.

Why it exists: the north rule targets Iceberg MERGE INTO, but the
Iceberg Spark runtime jar cannot be fetched in this sandbox (no
network). LakeTable reproduces the semantics the engine needs —
snapshot isolation, atomic commits, bucket-level copy-on-write,
merge-on-read deltas, schema evolution, and an embedded idempotent
commit manifest — on plain parquet + JSON, so the CDC engine above it
is lake-format-agnostic (see engine.iceberg_merge_sql for the real-
Iceberg path).

Layout:
    root/
      snapshots/v{N}.json   -- compare-and-swap commit (``os.link``
                               fails if v{N} exists); the table IS the
                               latest v{N}. Contains: schema (per
                               schema_id), bucket -> [data files],
                               applied epoch manifest, lineage refs.
      data/v{N}-{attempt}/bucket={b}/*.parquet   -- files written by an
                               attempt at commit N. The attempt suffix
                               (uuid) makes data paths unique PER
                               WRITER, mirroring Iceberg's unique data-
                               file names: two writers racing from base
                               v{N-1} each write their own directory,
                               so the CAS loser's overwrite can never
                               clobber the winner's already-published
                               files. Loser dirs are orphans reclaimed
                               by vacuum.

Copy-on-write at *bucket* granularity: a commit rewrites only the hash
buckets its keys touch; untouched buckets are carried by reference.
With B buckets and a batch touching k keys, write amplification is
O(k/B * table) instead of O(table) — the same economics as Iceberg
COW with a bucket partition spec.

One scan path: every read lists its files per schema id and hands them
to ``_scan``. One successor path: every commit derives snapshot N+1
from its base with ``dataclasses.replace`` and publishes it through
``_write_snapshot``. One entry path: every written bucket dir gets its
manifest entry (footer stats, blooms) from ``_dir_entry``, and every
copy-on-write rewrite (merge, compaction, purge, rebucket, staged merge)
writes through ``_build_merge``. One pruning path: both predicate reads
pick an entry's files with ``_select_files``.

Crash safety: data files land first, the snapshot JSON is linked into
place last (atomic on POSIX). A crash in between leaves orphan files
that a replayed epoch simply ignores (manifest check), matching
Iceberg's commit protocol.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "__bucket"
DELETED_COL = "_deleted"


class CommitConflict(Exception):
    """Another writer already published this snapshot version. The
    caller must re-read the current snapshot (its epoch may have been
    applied by the winner — check ``applied_epochs`` first) and retry
    the merge against the new state, mirroring Iceberg's optimistic-
    concurrency commit protocol."""


class EpochAlreadyApplied(CommitConflict):
    """A competing writer applied this epoch while we were committing.
    Subclasses CommitConflict so optimistic retry loops re-read the
    snapshot, see the epoch in the manifest, and report a SKIPPED
    apply — the loser must not double-count the epoch in metrics."""


def bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    version: int
    schema_json: dict[str, str]  # schema_id -> StructType json string
    current_schema_id: str
    buckets: dict[str, list[dict]]  # bucket -> [base file(s) + delta files]
    applied: dict[str, dict]  # epoch -> {snapshot, partitions, ts}
    key_cols: list[str]
    n_buckets: int
    props: dict = field(default_factory=dict)
    # LWW resolution order for merge-on-read buckets (a bucket with >1
    # file entry is base + appended deltas; reads resolve per-key by
    # max(order_cols)). Empty = pure-COW table, no read-time merge.
    order_cols: list[str] = field(default_factory=list)

    def current_schema_json(self) -> str:
        return self.schema_json[self.current_schema_id]

    def is_applied(self, epoch) -> bool:
        """Manifest membership, honoring the epoch watermark: numeric
        epochs at or below ``props['epoch_watermark']`` are applied even
        after their individual entries were compacted away."""
        e = str(epoch)
        if e in self.applied:
            return True
        # non-negative numerals only: the watermark collapsed epochs
        # 0..W, so a dash-prefixed or otherwise exotic epoch name must
        # never compare numerically against it (it was never collapsed)
        wm = self.props.get("epoch_watermark")
        return wm is not None and e.isdigit() and int(e) <= int(wm)


def _next_schema(snap: Snapshot, new_schema: T.StructType | None) -> tuple[dict, str]:
    """(schema_json, current_schema_id) for a data commit on ``snap``: a
    ``new_schema`` that differs from the current one is registered under
    the next ``s{N}`` id; old ids stay, so older files keep their schema."""
    schema_json, schema_id = dict(snap.schema_json), snap.current_schema_id
    if new_schema is not None and new_schema.json() != schema_json[schema_id]:
        schema_id = f"s{len(schema_json)}"
        schema_json[schema_id] = new_schema.json()
    return schema_json, schema_id


def _record_epoch(snap: Snapshot, epoch: str, lineage: dict | None = None) -> dict:
    """``snap``'s applied manifest plus ``epoch``, committed as v{N+1}."""
    entry = {"snapshot": snap.version + 1, "ts": time.time(), **(lineage or {})}
    return {**snap.applied, str(epoch): entry}


def _json_safe(v, widen: str | None = None):
    """Footer stats must survive the snapshot's JSON round trip with
    their VALUE ORDER intact — pruning compares these later.  JSON-native
    scalars pass; bytes become hex (equal-radix hex strings compare like
    the byte arrays); temporal values become ISO-8601 strings
    (lexicographic == chronological).  Decimals become floats, WIDENED
    one ulp outward per ``widen`` ('down' for a min, 'up' for a max) so
    double rounding can never shrink the recorded range and cause a
    wrong prune.  Anything else is stored as None (= no stats, never
    pruned): a str() fallback would compare lexicographically, not by
    value, and silently prune matching files."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if widen == "down":
            return math.nextafter(f, -math.inf)
        if widen == "up":
            return math.nextafter(f, math.inf)
        return f
    iso = getattr(v, "isoformat", None)
    return iso() if callable(iso) else None


# --------------------------------------------------- per-file bloom index
# Zone maps (min/max) prune RANGE predicates but are useless for equality
# on a high-cardinality, hash-distributed column (every file's min/max
# spans the whole domain).  The lakehouse answer (Delta's bloom filter
# index, Iceberg puffin blobs) is a small per-file bloom over the
# column's distinct values, consulted driver-side for point predicates.
# Fixed geometry (props['bloom_bits'], k=6 double-hashing) so per-file
# blooms OR together into the entry-level bloom — merge stays closed,
# exactly like the min/max fold.  A saturated bloom stops pruning but
# never lies; a file whose schema lacks the column gets the EMPTY bloom
# (its rows are all-NULL there, and `col = v` never matches NULL).
_BLOOM_K = 6


def _bloom_key_bytes(v) -> bytes | None:
    """Canonical hash input; must be identical at build (pyarrow value)
    and probe (user literal) time.  Only int/str/bytes columns are
    bloom-indexable — the high-cardinality identifier case; anything
    else returns None and the column records no bloom (never pruned)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, bytes):
        return v
    if isinstance(v, int):
        return str(v).encode("ascii")
    return None


def _bloom_positions(key: bytes, m: int) -> list[int]:
    import hashlib

    d = hashlib.blake2b(key, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-cycle stride
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build(values, m: int) -> dict | None:
    """{"m": bits, "k": hashes, "b64": bitset} over the values' canonical
    encodings, or None when the column's type is not bloom-indexable.

    ``m`` must be a power of two: position math is vectorized in numpy
    uint64 (the digests wrap mod 2**64), and ``x % m`` for power-of-two
    ``m`` depends only on the low bits — so the wrapped arithmetic and
    the probe side's arbitrary-precision Python ints agree exactly.
    Cost is one blake2b per DISTINCT value (C speed) plus vectorized
    position/bit work — the build stays O(distinct) with a small
    constant, which is what lets it ride the commit path."""
    import base64
    import hashlib

    import numpy as np

    if m & (m - 1):
        raise ValueError(f"bloom_bits must be a power of two, got {m}")
    keys = []
    for v in values:
        key = _bloom_key_bytes(v)
        if key is None:
            if v is None:
                continue  # NULLs never match an equality predicate
            # unsupported type (bool, float, ...): NO bloom at all — an
            # empty bloom would "prove" absence and wrongly prune files
            # whose rows can match under the engine's value coercions
            return None
        keys.append(key)
    if keys:
        digs = b"".join(hashlib.blake2b(k, digest_size=16).digest() for k in keys)
        arr = np.frombuffer(digs, dtype="<u8").reshape(-1, 2)
        h1, h2 = arr[:, 0], arr[:, 1] | np.uint64(1)
        hit = np.zeros(m, dtype=bool)
        for i in range(_BLOOM_K):
            hit[((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)] = True
        bits = np.packbits(hit, bitorder="little").tobytes()
    else:
        bits = bytes(m // 8)
    return {"m": m, "k": _BLOOM_K, "b64": base64.b64encode(bits).decode("ascii")}


def _bloom_probe_type_ok(dtype, value) -> bool:
    """True when an eq probe literal's Python type matches the column's
    Spark type, i.e. the bloom's canonical encoding and the probe's
    agree byte-for-byte. Unknown column / unsupported type -> False
    (callers then skip the bloom test — conservative keep)."""
    if dtype is None or isinstance(value, bool):
        return False
    if isinstance(value, int):
        return isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    if isinstance(value, str):
        return isinstance(dtype, T.StringType)
    if isinstance(value, bytes):
        return isinstance(dtype, T.BinaryType)
    return False


def _bloom_may_contain(bloom: dict | None, value) -> bool:
    """False only on a PROVEN miss; any malformed/missing bloom or
    un-encodable probe value keeps the file (conservative)."""
    import base64

    if not bloom or bloom.get("k") != _BLOOM_K:
        return True
    key = _bloom_key_bytes(value)
    if key is None:
        return True
    try:
        bits = base64.b64decode(bloom["b64"])
        m = int(bloom["m"])
        if len(bits) * 8 != m:
            return True
    except Exception:
        return True
    return all(bits[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(key, m))


def _bloom_or(a: dict | None, b: dict | None) -> dict | None:
    """OR-merge two blooms (entry-level = union of its files); geometry
    mismatch or a missing side yields None — no entry bloom, no pruning."""
    import base64

    if not a or not b or a.get("m") != b.get("m") or a.get("k") != b.get("k"):
        return None
    ba = bytes(x | y for x, y in zip(base64.b64decode(a["b64"]), base64.b64decode(b["b64"])))
    return {"m": a["m"], "k": a["k"], "b64": base64.b64encode(ba).decode("ascii")}


def _one_file_blooms(path: str, bloom_cols: list[str], m: int) -> dict:
    """Per-column blooms for one parquet file: ONE single-column read per
    indexed column (distinct-reduced before hashing).  This is the only
    stats path that reads data pages, which is why bloom_cols is opt-in;
    it runs at write/maintenance time, mirroring how Delta/Iceberg build
    their file-level blooms inline with the write."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    names = set(pf.schema_arrow.names)
    out: dict = {}
    for c in bloom_cols:
        if c not in names:
            out[c] = _bloom_build([], m)  # schema-evolved file: all-NULL column
            continue
        col = pf.read(columns=[c]).column(0)
        bl = _bloom_build(pc.unique(col).to_pylist(), m)
        if bl is not None:
            out[c] = bl
    return out


BLOOM_SIDECAR = "_blooms.json"


def _write_dir_blooms(bdir: str, bloom_cols: list[str], m: int) -> dict:
    """Build per-file blooms for every parquet file in ``bdir``, write
    them to a ``_blooms.json`` SIDECAR inside the dir, and return the
    entry-level OR-merge (bounded — one bloom per column per entry —
    safe to inline in the snapshot manifest).

    Why a sidecar (Iceberg's puffin-blob shape) and not the manifest:
    per-FILE blooms grow with file count, and the snapshot JSON is
    rewritten on every commit — inlining them would put O(files) bytes
    on the commit critical path forever.  The underscore prefix makes
    Spark/Hadoop scans ignore the sidecar as a hidden file; it lives
    and dies with its directory (vacuumed as part of the orphan dir,
    rewritten by compaction), and the planner loads it lazily, only
    for entries that survive zone-map + entry-bloom pruning.

    Builds run on a small thread pool — pyarrow releases the GIL in the
    column read, which is the bulk of the cost."""
    from concurrent.futures import ThreadPoolExecutor

    if not bloom_cols:
        return {}
    names = [n for n in sorted(os.listdir(bdir)) if n.endswith(".parquet")]
    if not names:
        return {}
    with ThreadPoolExecutor(max_workers=min(8, len(names))) as ex:
        per_file = dict(
            zip(
                names,
                ex.map(lambda n: _one_file_blooms(os.path.join(bdir, n), bloom_cols, m), names),
            )
        )
    entry: dict = {}
    for c in bloom_cols:
        blooms = [fb.get(c) for fb in per_file.values()]
        if all(b is not None for b in blooms):
            merged = blooms[0]
            for b in blooms[1:]:
                merged = _bloom_or(merged, b)
            if merged is not None:
                entry[c] = merged
    with open(os.path.join(bdir, BLOOM_SIDECAR), "w") as fh:
        json.dump({"files": per_file, "entry": entry}, fh)
    return entry


def _read_dir_blooms(entry_path: str) -> dict:
    """Per-file blooms from an entry dir's sidecar; {} when absent or
    unreadable (pruning then simply keeps every file — conservative)."""
    try:
        with open(os.path.join(entry_path, BLOOM_SIDECAR)) as fh:
            return json.load(fh).get("files") or {}
    except Exception:
        return {}


def _one_file_stats(md, stat_cols: list[str]) -> dict:
    """Footer min/max of ``stat_cols`` from one file's parquet metadata."""
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in stat_cols:
        if c not in idx:
            continue
        for rg in range(md.num_row_groups):
            try:
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    continue
                st.min, st.max  # noqa: B018 — force extraction; may raise
            except Exception:  # pyarrow: "Cannot extract statistics for type"
                # unsupported physical type (e.g. decimal on this
                # pyarrow): record NO stats — the column is simply never
                # pruned, which is the conservative direction
                out.pop(c, None)
                break
            lo, hi = out.get(c, (None, None))
            out[c] = (
                st.min if lo is None else min(lo, st.min),
                st.max if hi is None else max(hi, st.max),
            )
    return {
        c: {"min": _json_safe(v[0], widen="down"), "max": _json_safe(v[1], widen="up")}
        for c, v in out.items()
    }


def _agg_stats(per_file: dict) -> dict:
    """Fold per-file stats into one entry-level {col: {min, max}}."""
    out: dict = {}
    for st in per_file.values():
        for c, v in st.items():
            cur = out.get(c)
            if cur is None:
                out[c] = dict(v)
            else:
                try:
                    cur["min"] = min(cur["min"], v["min"])
                    cur["max"] = max(cur["max"], v["max"])
                except TypeError:  # mixed types across files: no safe bound
                    out[c] = {"min": None, "max": None}
    return out


def _footers(bdir: str) -> dict:
    """File name -> parquet footer metadata for one bucket directory."""
    import pyarrow.parquet as pq

    return {
        name: pq.ParquetFile(os.path.join(bdir, name)).metadata
        for name in sorted(os.listdir(bdir))
        if name.endswith(".parquet")
    }


def _file_stats(footers: dict, stat_cols: list[str]) -> dict:
    """Per-FILE footer stats of one bucket directory's ``_footers`` —
    recorded by any commit whose bucket dir holds more than one file
    (and always by clustered compaction's range slicing), so files
    inside a resolved bucket can be pruned individually (Iceberg
    per-data-file manifest stats)."""
    return {name: _one_file_stats(md, stat_cols) for name, md in footers.items()}


def _delta_counts(footers) -> tuple[int, int]:
    """(rows, deletes) of merge-on-read delta files from their footers
    alone. Delta tombstones are True and live rows NULL in
    ``DELETED_COL``, so a row group's deletes are its rows minus that
    column's null count; a row group without that statistic counts zero
    deletes, never all of its rows."""
    n_rows = n_del = 0
    for md in footers:
        n_rows += md.num_rows
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if DELETED_COL not in idx:
            continue
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(idx[DELETED_COL]).statistics
            if st is not None and st.has_null_count:
                n_del += rgm.num_rows - st.null_count
    return n_rows, n_del


def _overlaps(stats: dict | None, bounds: dict) -> bool:
    """Could a file/bucket with these recorded stats hold a row
    satisfying the conjunction of ``bounds``?  Conservative: a missing
    column, missing stats, or an incomparable bound keeps the file —
    pruning is only ever an optimization, never a correctness gamble."""
    if not stats:
        return True
    for col, (lo, hi) in bounds.items():
        st = stats.get(col)
        if not st or st.get("min") is None or st.get("max") is None:
            continue
        try:
            if lo is not None and st["max"] < lo:
                return False
            if hi is not None and st["min"] > hi:
                return False
        except TypeError:
            continue
    return True


def _keep(stats: dict | None, all_bounds: dict, eq: dict, blooms: dict | None = None) -> bool:
    """The one keep predicate of the pruned reads, for an entry or one
    of its files: its min/max ``stats`` overlap every bound and its
    ``blooms`` (column -> bloom) may contain every eq value.  ``blooms``
    defaults to the entry-level blooms folded into ``stats``; a file
    passes its sidecar blooms.  A missing stat or bloom keeps."""
    st = stats or {}
    if blooms is None:
        blooms = {c: (st.get(c) or {}).get("bloom") for c in eq}
    return _overlaps(st, all_bounds) and all(_bloom_may_contain(blooms.get(c), v) for c, v in eq.items())


def _select_files(entry: dict, all_bounds: dict, eq: dict) -> tuple[list[str] | None, int]:
    """The one per-entry file selector of the pruned reads:
    ``(paths, n_pruned)``, the entry's files that may hold a matching row
    (None when the entry is pruned whole) and how many it skipped.  An
    entry with per-file stats (``fstats``) is narrowed file by file on
    footer min/max and sidecar blooms, loaded lazily: only for a
    surviving entry, only under an eq probe ({} = keep, conservative)."""
    fst = entry.get("fstats")
    if not _keep(entry.get("stats"), all_bounds, eq):
        return None, len(fst or [1])
    if not fst:
        return [entry["path"]], 0
    fb = _read_dir_blooms(entry["path"]) if eq else {}
    kept = [n for n in sorted(fst) if _keep(fst[n], all_bounds, eq, fb.get(n) or {})]
    return [os.path.join(entry["path"], n) for n in kept], len(fst) - len(kept)


def _predicate(bounds: dict, eq: dict) -> Column:
    """The filter a pruned read re-applies: every inclusive bound
    (None = open side) and every equality, ANDed."""
    cond = F.lit(True)
    for c, (lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    for c, v in eq.items():
        cond = cond & (F.col(c) == F.lit(v))
    return cond


def _tombstone() -> Column:
    """True on a tombstone row; a NULL ``_deleted`` is a live row."""
    return F.coalesce(F.col(DELETED_COL), F.lit(False))


def _hide_tombstones(df: DataFrame) -> DataFrame:
    """A final-state read's rows without tombstones or ``_deleted``."""
    if DELETED_COL not in df.columns:
        return df
    return df.filter(~_tombstone()).drop(DELETED_COL)


def _link_json(path: str, doc: dict, conflict: str) -> None:
    """Compare-and-swap JSON publish: ``doc`` goes to a tmp file that
    ``os.link`` puts at ``path``.  The link fails with EEXIST if
    ``path`` exists (unlike ``os.rename``, which silently clobbers), so
    of two writers racing for one name exactly one wins; the loser gets
    ``CommitConflict(conflict)``.  The tmp file is removed either way."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp.{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1)
    try:
        os.link(tmp, path)  # atomic commit point; EEXIST on race
    except FileExistsError as e:
        raise CommitConflict(conflict) from e
    finally:
        os.unlink(tmp)


def _sortable_proxy(df: DataFrame, col: str) -> Column:
    """Order-preserving DOUBLE proxy for a cluster column — the common
    currency the Z-order builder quantile-buckets.  Numeric/temporal
    types cast directly; strings map their first 6 bytes big-endian to
    an integer (48 bits — exact in a double), so lexicographic string
    order becomes numeric proxy order.  Ties beyond the prefix collapse
    into one Z-cell, which only costs clustering quality: pruning always
    re-checks REAL parquet footer stats, never the proxy."""
    dt = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return c.cast("timestamp").cast("double")
    if isinstance(dt, T.StringType):
        return F.expr(
            f"cast(conv(rpad(hex(substring(cast(`{col}` as binary), 1, 6)), 12, '0'), 16, 10) as bigint)"
        ).cast("double")
    if isinstance(dt, (T.NumericType, T.BooleanType)):
        return c.cast("double")
    raise TypeError(f"cluster_by column {col!r}: un-clusterable type {dt.simpleString()}")


def _zorder_column(df: DataFrame, cols: list[str], bits: int) -> Column:
    """Morton/Z-value over ``cols`` (Delta's OPTIMIZE ZORDER BY, Iceberg's
    multi-dim sort order): per column, rank the value into one of
    ``2**bits`` quantile cells, then interleave the cell indices'
    bits.  Range-partitioning the write on this value makes every output
    file a contiguous run of the space-filling curve, so each file's
    footer min/max is narrow on EVERY cluster column at once — the layout
    that lets zone-map pruning serve predicates on any of the dimensions
    of a 100-TB table, not just the first sort key.

    Cell boundaries come from ONE ``percentile_approx`` aggregate over the
    frame (quantile cells stay balanced under skew, unlike fixed-width
    buckets), and the rank + interleave are pure JVM bit arithmetic —
    no Python touches a row."""
    n_cells = 1 << bits
    proxies = {c: _sortable_proxy(df, c) for c in cols}
    qs = [i / n_cells for i in range(1, n_cells)]
    row = df.agg(
        *[F.percentile_approx(p, F.array(*[F.lit(q) for q in qs]), F.lit(10_000)).alias(c) for c, p in proxies.items()]
    ).first()
    z = F.lit(0).cast("long")
    k = len(cols)
    for ci, c in enumerate(cols):
        cuts = sorted({b for b in (row[c] or []) if b is not None})
        idx = F.lit(0)
        for b in cuts:
            idx = idx + (proxies[c] > F.lit(b)).cast("int")
        idx = F.coalesce(idx, F.lit(0)).cast("long")  # NULLs land in cell 0
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(idx, i).bitwiseAND(F.lit(1)), i * k + ci)
    return z


def resolve_lww(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One image per key: max_by(row, order) — the same algebraic
    (partial-agg, skew-immune) collapse the engine uses for batch dedup,
    applied at read time over base+delta files."""
    row = F.struct(*[F.col(c) for c in df.columns])
    ord_s = F.struct(*[F.col(c) for c in order_cols])
    return df.groupBy(*keys).agg(F.max_by(row, ord_s).alias("r")).select("r.*")


class LakeTable:
    # columns whose footer min/max are recorded per file entry at commit
    # (Iceberg manifest stats); reads with a bound on one of these prune
    # whole files driver-side before any Spark job is planned
    STAT_COLS = ["lsn"]

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._snap_dir = os.path.join(root, "snapshots")
        self._data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
        order_cols: list[str] | None = None,
        props: dict | None = None,
    ) -> "LakeTable":
        t = cls(spark, root)
        os.makedirs(t._snap_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        snap = Snapshot(
            version=0,
            schema_json={"s0": schema.json()},
            current_schema_id="s0",
            buckets={},
            applied={},
            key_cols=list(key_cols),
            n_buckets=n_buckets,
            order_cols=list(order_cols or []),
            props=dict(props or {}),
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        d = os.path.join(root, "snapshots")
        return os.path.isdir(d) and any(f.endswith(".json") for f in os.listdir(d))

    # --------------------------------------------------------- snapshots
    def current_snapshot(self) -> Snapshot:
        versions = [int(f[1:-5]) for f in os.listdir(self._snap_dir) if f.startswith("v") and f.endswith(".json")]
        if not versions:
            raise FileNotFoundError(f"no snapshots under {self._snap_dir}")
        with open(os.path.join(self._snap_dir, f"v{max(versions)}.json")) as fh:
            d = json.load(fh)
        return Snapshot(**d)

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic compare-and-swap publish of v{N} (``_link_json``): two
        writers racing from the same base snapshot cannot both win — the
        loser gets CommitConflict and must re-read + retry (Iceberg's
        commit semantics)."""
        path = os.path.join(self._snap_dir, f"v{snap.version}.json")
        _link_json(path, snap.__dict__, f"snapshot v{snap.version} already published")

    def snapshot_at(self, version: int) -> Snapshot:
        """Load a specific snapshot version (time travel — Iceberg's
        VERSION AS OF). Raises FileNotFoundError if vacuumed away."""
        p = os.path.join(self._snap_dir, f"v{version}.json")
        with open(p) as fh:
            return Snapshot(**json.load(fh))

    def read_version(self, version: int, include_deleted: bool = False) -> DataFrame:
        """Time-travel read: the table exactly as of snapshot
        ``version`` (works until ``vacuum`` reclaims its files)."""
        return self.read(self.snapshot_at(version), include_deleted=include_deleted)

    def schema(self, snap: Snapshot | None = None) -> T.StructType:
        snap = snap or self.current_snapshot()
        return T.StructType.fromJson(json.loads(snap.schema_json[snap.current_schema_id]))

    def _stat_cols(self, snap: Snapshot) -> list[str]:
        """Columns whose footer min/max are recorded in the manifest at
        commit time: the built-ins (:data:`STAT_COLS`) plus any declared
        via ``props['stat_cols']`` (comma-separated) — e.g. an event-time
        column so time-range reads can zone-map-prune."""
        extra = [c.strip() for c in str((snap.props or {}).get("stat_cols", "")).split(",") if c.strip()]
        return list(dict.fromkeys(self.STAT_COLS + extra))

    def _bloom_cols(self, snap: Snapshot) -> list[str]:
        """Columns bloom-indexed per file at commit time, declared via
        ``props['bloom_cols']`` (comma-separated).  Opt-in because the
        build reads the column's data pages once per written file
        (footer min/max are free by comparison); the payoff is equality
        pruning on high-cardinality columns whose min/max span
        everything — ``read_where(eq=...)``."""
        return [c.strip() for c in str((snap.props or {}).get("bloom_cols", "")).split(",") if c.strip()]

    def _bloom_bits(self, snap: Snapshot) -> int:
        """Bloom size in bits (``props['bloom_bits']``, default 8192 =
        1 KB/file/column), rounded up to a power of two.  Size at ~10
        bits per expected distinct value per file for ~1% false-positive
        rate; an undersized bloom saturates and stops pruning, never
        lies.  FIXED per table so per-file blooms OR-merge into entry-
        and bucket-level blooms."""
        m = int((snap.props or {}).get("bloom_bits", 8192))
        return max(64, 1 << (m - 1).bit_length())

    #: codec for ALL state/delta writes. zstd (Iceberg's own modern
    #: parquet default) measured better than snappy at both protocols
    #: that matter: the 16M-event 1->4-core scaling run (COW 446k ->
    #: 491k ev/s, efficiency 0.775 -> 0.84; MOR best-of 509.7k ->
    #: 542.5k — state/delta IO through one disk is the non-scaling
    #: term) AND the 32-core 400k-event COW probe (51.5k -> 56.7k
    #: best-of interleaved; smaller files read back faster on the next
    #: epoch's state scan).  The r5 "COW probe regression" attributed
    #: to zstd was cross-session host contention, not the codec
    #: (scripts/bench_codec_probe.py; BENCH.md round 6).  A size-aware
    #: variant (snappy for small delta appends, where the probe showed
    #: a noise-level snappy edge) was built, measured, and REJECTED:
    #: deciding on pre-commit table size mispicks the first epoch of a
    #: large ingest, and the 16M MOR scaling run dropped 0.82-0.86 ->
    #: 0.77 twice (BENCH.md round 6).  ``props['write_compression']``
    #: overrides per table.
    DEFAULT_COMPRESSION = "zstd"

    def _write_parquet(self, df: DataFrame, snap: Snapshot, out_dir: str) -> None:
        """All state/delta writes funnel here so table props steer the
        file format: ``props['write_compression']`` overrides
        :data:`DEFAULT_COMPRESSION` for base rewrites, delta appends,
        and rebucket copies alike."""
        codec = (snap.props or {}).get("write_compression") or self.DEFAULT_COMPRESSION
        df.write.mode("overwrite").partitionBy(BUCKET_COL).option("compression", codec).parquet(out_dir)

    def state_size_bytes(self, snap: Snapshot | None = None, buckets: list[int] | None = None) -> int:
        """On-disk bytes of the given buckets' current files (base +
        deltas) — manifest-level metadata (os.stat per file, no Spark
        job). Feeds the mode='auto' COW/MOR crossover decision in
        cdc/engine.py: the COW write cost of an epoch is exactly the
        size of the state it must rewrite."""
        snap = snap or self.current_snapshot()
        wanted = None if buckets is None else {str(b) for b in buckets}
        total = 0
        for b, files in snap.buckets.items():
            if wanted is not None and b not in wanted:
                continue
            for entry in files:
                d = entry["path"]
                if not os.path.isdir(d):
                    continue
                for name in os.listdir(d):
                    if name.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(d, name))
        return total

    def applied_epochs(self) -> set[str]:
        """Epochs with EXPLICIT manifest entries. After
        ``compact_manifest`` this is not the full applied set — use
        ``is_applied``/``Snapshot.is_applied`` for idempotency checks."""
        return set(self.current_snapshot().applied.keys())

    def is_applied(self, epoch) -> bool:
        return self.current_snapshot().is_applied(epoch)

    def compact_manifest(self, keep_last: int = 8) -> Snapshot:
        """Bound the embedded epoch manifest: at 10^10 events the
        manifest holds millions of entries and EVERY commit rewrites it
        inside the snapshot JSON. Numeric epochs forming a contiguous
        prefix 0..W collapse into ``props['epoch_watermark'] = W``
        (idempotency for e <= W becomes a comparison); the newest
        ``keep_last`` numeric entries stay for observability, and
        non-numeric entries (stream-*, compact-*, purge-*) are kept
        as-is. Publishes a new snapshot; no data files change."""
        snap = self.current_snapshot()
        numeric = sorted(int(e) for e in snap.applied if e.isdigit())
        wm = int(snap.props.get("epoch_watermark", -1))
        for e in numeric:
            if e == wm + 1:
                wm = e
            elif e > wm + 1:
                break
        keep_cut = numeric[-keep_last:] if keep_last else []
        applied = {
            e: meta
            for e, meta in snap.applied.items()
            if not (e.isdigit() and int(e) <= wm and int(e) not in keep_cut)
        }
        if wm < 0 or applied == snap.applied:
            return snap
        new_snap = replace(
            snap, version=snap.version + 1, applied=applied, props={**snap.props, "epoch_watermark": wm}
        )
        self._write_snapshot(new_snap)
        return new_snap

    # -------------------------------------------------------------- read
    def _scan(self, snap: Snapshot, by_schema: dict[str, list[str]]) -> DataFrame:
        """The one file scan under every read: each schema id's files
        are read with the schema they were written with (no inference),
        cast up to ``snap``'s current schema, and unioned — schema
        evolution on read, the reference's _safe_read_csv generalized
        (scripts/merge_support.py:17-36). No files: an empty frame of
        the current schema, so callers see the same columns either way."""
        cur_schema = self.schema(snap)
        out = None
        for sid, paths in sorted(by_schema.items()):
            s = T.StructType.fromJson(json.loads(snap.schema_json[sid]))
            df = _conform(self.spark.read.schema(s).parquet(*paths), cur_schema)
            out = df if out is None else out.unionByName(df)
        return self.spark.createDataFrame([], cur_schema) if out is None else out

    def read(
        self,
        snap: Snapshot | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Current table state (see ``_scan`` for schema evolution).

        Deletes are stored as tombstone rows (``_deleted`` true) so that
        out-of-order batches can still lose LWW against a delete; normal
        reads filter them out and hide the column. ``include_deleted``
        exposes them (the merge path needs them)."""
        snap = snap or self.current_snapshot()
        wanted = {str(b) for b in buckets} if buckets is not None else None
        # merge-on-read split: only buckets holding delta files (>1
        # entry) pay the read-time LWW shuffle; clean single-file
        # buckets stream through untouched — one dirty bucket must not
        # re-shuffle the whole table.
        clean: dict[str, list[str]] = {}
        dirty: dict[str, list[str]] = {}
        for b, files in snap.buckets.items():
            if wanted is not None and b not in wanted:
                continue
            target = dirty if (len(files) > 1 and snap.order_cols) else clean
            for f in files:
                target.setdefault(f["schema_id"], []).append(f["path"])
        out = None
        if dirty:
            # base + appended deltas may carry several images of a key;
            # resolve LWW BEFORE tombstone hiding so a delete delta
            # suppresses an older base upsert
            out = resolve_lww(self._scan(snap, dirty), snap.key_cols, snap.order_cols)
        if clean or out is None:
            cdf = self._scan(snap, clean)
            out = cdf if out is None else out.unionByName(cdf)
        return out if include_deleted else _hide_tombstones(out)

    def read_keys(
        self,
        keys,
        snap: Snapshot | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Point / key-set lookup with hash-bucket pruning: the table is
        hash-bucketed on ``key_cols`` (bucket_expr), so a lookup only
        ever needs the buckets its keys hash into — at 4096 buckets a
        10-key probe plans a scan over ~10 bucket directories, not the
        table.  The bucket ids come from one tiny Spark job over the
        key set itself (bounded by #keys — this is read *planning*, the
        same class of driver-side work as the manifest walk), then the
        pruned ``read`` resolves MOR deltas/tombstones for just those
        buckets and a broadcast LEFT SEMI drops same-bucket neighbors.

        ``keys``: a DataFrame containing ``key_cols``, or a list of
        tuples (key_cols order) / dicts.  Key values are cast to the
        table's key column types first — xxhash64 is type-sensitive, so
        probing an int key with a string literal must not silently miss
        its bucket."""
        snap = snap or self.current_snapshot()
        key_fields = [self.schema(snap)[c] for c in snap.key_cols]
        if isinstance(keys, DataFrame):
            kdf = keys
        else:
            rows = [
                tuple(k[c] for c in snap.key_cols) if isinstance(k, dict)
                else (k if isinstance(k, (tuple, list)) else (k,))
                for k in keys
            ]
            kdf = self.spark.createDataFrame(rows, T.StructType(key_fields))
        kdf = kdf.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in key_fields]
        ).distinct()
        wanted = [
            r["b"]
            for r in kdf.select(
                bucket_expr(snap.key_cols, snap.n_buckets).alias("b")
            ).distinct().collect()
        ]
        base = self.read(snap=snap, buckets=wanted, include_deleted=include_deleted)
        return base.join(F.broadcast(kdf), on=snap.key_cols, how="left_semi")

    # ------------------------------------------------------------ commit
    def commit_merge(
        self,
        new_bucket_data: DataFrame,
        touched_buckets: list[int],
        epoch: str,
        new_schema: T.StructType | None = None,
        lineage: dict | None = None,
        base_snap: Snapshot | None = None,
        fstat_cols: list[str] | None = None,
    ) -> Snapshot:
        """Write the new state of ``touched_buckets`` (COW), carry every
        other bucket by reference, record the epoch in the manifest, and
        atomically publish snapshot N+1. Replay-safe: caller must check
        ``epoch in applied_epochs()`` first (engine does).

        ``base_snap``: the snapshot the caller DERIVED the new state
        from. Publishing targets base.version+1, so any commit that
        landed in between makes the CAS fail with CommitConflict
        instead of silently merging stale state — pass it whenever the
        new data was computed from a read of the table (optimistic
        concurrency, Iceberg-style). Defaults to the current snapshot
        (safe only for state-independent writes)."""
        _, new_snap = self._build_merge(
            new_bucket_data, touched_buckets, epoch, new_schema, lineage, base_snap, fstat_cols
        )
        self._write_snapshot(new_snap)
        return new_snap

    def _build_merge(
        self,
        new_bucket_data: DataFrame,
        touched_buckets: list[int],
        epoch: str,
        new_schema: T.StructType | None = None,
        lineage: dict | None = None,
        base_snap: Snapshot | None = None,
        fstat_cols: list[str] | None = None,
    ):
        """Everything commit_merge does EXCEPT the publish: write the
        touched buckets' data and derive the would-be snapshot. Returns
        ``(base_snap, new_snap)``. Shared by the atomic publish path
        (commit_merge, and through it compact and purge_tombstones),
        rebucket, and the staged write-audit-publish path (stage_merge)."""
        snap = base_snap or self.current_snapshot()
        version = snap.version + 1
        schema_json, schema_id = _next_schema(snap, new_schema)

        # Unique attempt dir (Iceberg-style unique data-file names): a
        # racing writer deriving the same target version writes its OWN
        # directory, so losing the snapshot CAS below never corrupts the
        # winner's published files; the loser dir is vacuumed as orphan.
        out_dir = os.path.join(self._data_dir, f"v{version}-{uuid.uuid4().hex[:8]}")
        self._write_parquet(new_bucket_data, snap, out_dir)
        touched = {int(b) for b in touched_buckets}
        buckets = {b: files for b, files in snap.buckets.items() if int(b) not in touched}
        stat_cols = list(dict.fromkeys(self._stat_cols(snap) + list(fstat_cols or [])))
        for b in touched_buckets:
            bdir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.isdir(bdir):
                # COW entries are RESOLVED by contract: new_bucket_data is
                # the bucket's full final state — one image per key, so
                # files inside the entry hold disjoint key sets and may be
                # pruned individually by zone-map reads (read_where).
                buckets[str(b)] = [self._dir_entry(snap, bdir, schema_id, stat_cols, resolved=True)[0]]
            # empty bucket (all rows deleted) -> no files, bucket absent
        return snap, replace(
            snap,
            version=version,
            schema_json=schema_json,
            current_schema_id=schema_id,
            buckets=buckets,
            applied=_record_epoch(snap, epoch, lineage),
        )

    def _dir_entry(
        self, snap: Snapshot, bdir: str, schema_id: str, stat_cols: list[str], resolved: bool = False
    ) -> tuple[dict, dict]:
        """Manifest entry for one freshly written bucket dir, plus the
        footers it was built from: footer min/max per file and folded,
        the dir's bloom sidecar folded into the entry stats, and
        per-file stats (``fstats``) when the dir holds more than one
        file — the footers are already parsed for the entry stats; for
        a single-file dir they would duplicate them."""
        footers = _footers(bdir)
        fst = _file_stats(footers, stat_cols)
        stats = _agg_stats(fst)
        for c, bl in _write_dir_blooms(bdir, self._bloom_cols(snap), self._bloom_bits(snap)).items():
            stats.setdefault(c, {})["bloom"] = bl
        entry = {"path": bdir, "schema_id": schema_id, "stats": stats}
        if resolved:
            entry["resolved"] = True
        if len(fst) > 1:
            entry["fstats"] = fst
        return entry, footers

    # ------------------------------------------------ write-audit-publish
    @property
    def _staged_dir(self) -> str:
        return os.path.join(self.root, "staged")

    def stage_merge(
        self,
        new_bucket_data: DataFrame,
        touched_buckets: list[int],
        epoch: str,
        name: str | None = None,
        new_schema: T.StructType | None = None,
        lineage: dict | None = None,
        base_snap: Snapshot | None = None,
        fstat_cols: list[str] | None = None,
    ) -> str:
        """Write-audit-publish, step 1 (Iceberg's WAP / staged branch):
        write the epoch's data files and the would-be snapshot, but park
        the snapshot under ``staged/<name>.json`` instead of publishing
        — readers of the MAIN table never see it.  Step 2 is the audit:
        ``read_staged(name)`` exposes the staged state to any validation
        (the reference runs validate_outputs.py before shipping files —
        scripts/validate_outputs.py:1 — this is that discipline at the
        table layer).  Step 3: ``publish_staged`` (atomic CAS) or
        ``discard_staged`` (data dir becomes a vacuumable orphan).
        Returns the staged name."""
        snap, new_snap = self._build_merge(
            new_bucket_data, touched_buckets, epoch, new_schema, lineage, base_snap, fstat_cols
        )
        name = name or f"wap-{epoch}"
        os.makedirs(self._staged_dir, exist_ok=True)
        # a second stage under the same name loses the CAS
        _link_json(
            os.path.join(self._staged_dir, f"{name}.json"),
            {"base_version": snap.version, "snapshot": new_snap.__dict__},
            f"staged snapshot {name!r} already exists",
        )
        return name

    def list_staged(self) -> list[str]:
        d = self._staged_dir
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def _staged_doc(self, name: str) -> dict:
        with open(os.path.join(self._staged_dir, f"{name}.json")) as fh:
            return json.load(fh)

    def staged_snapshot(self, name: str) -> Snapshot:
        return Snapshot(**self._staged_doc(name)["snapshot"])

    def read_staged(self, name: str, include_deleted: bool = False) -> DataFrame:
        """The table as it WOULD look after ``publish_staged(name)`` —
        the audit surface: run validation against this before
        publishing."""
        return self.read(self.staged_snapshot(name), include_deleted=include_deleted)

    def publish_staged(self, name: str) -> Snapshot:
        """Atomically promote a staged snapshot to the table's current
        version (WAP step 3).  Strict fast-forward: the staged state was
        DERIVED from its base version, so any foreign commit since makes
        it stale — raises CommitConflict (re-stage from the new base)
        rather than silently merging; the staged entry is left in place
        for inspection.  The CAS publish makes a concurrent
        publish/commit race safe."""
        doc = self._staged_doc(name)
        cur = self.current_snapshot()
        if cur.version != doc["base_version"]:
            raise CommitConflict(
                f"staged {name!r} was derived from v{doc['base_version']} but the table "
                f"is at v{cur.version} — re-stage from the current base"
            )
        snap = Snapshot(**doc["snapshot"])
        self._write_snapshot(snap)  # CAS: loses cleanly to a racing commit
        os.remove(os.path.join(self._staged_dir, f"{name}.json"))
        return snap

    def discard_staged(self, name: str) -> None:
        """Drop a staged snapshot that failed its audit.  Its data dir
        is no longer referenced by anything and is reclaimed by the next
        ``vacuum`` like any crashed-commit orphan."""
        os.remove(os.path.join(self._staged_dir, f"{name}.json"))

    def update_props(self, props: dict, max_retries: int = 5) -> Snapshot:
        """Publish a metadata-only snapshot with ``props`` merged over
        the current ones (Iceberg's ALTER TABLE SET TBLPROPERTIES).
        A None value removes the key.  Data, schema, and the applied-
        epoch manifest are carried unchanged; concurrent commits are
        handled by CAS rebase (props updates commute with data commits)."""
        for _ in range(max_retries):
            snap = self.current_snapshot()
            merged = {**(snap.props or {}), **props}
            merged = {k: v for k, v in merged.items() if v is not None}
            if merged == (snap.props or {}):
                return snap
            new_snap = replace(snap, version=snap.version + 1, props=merged)
            try:
                self._write_snapshot(new_snap)
                return new_snap
            except CommitConflict:
                continue  # rebase on the fresh snapshot and retry
        raise CommitConflict(f"props update lost {max_retries} races")

    def commit_append_delta(
        self,
        delta_rows: DataFrame,
        touched_buckets: list[int] | None,
        epoch: str,
        new_schema: T.StructType | None = None,
        lineage: dict | Callable[[list[dict]], dict] | None = None,
        base_snap: Snapshot | None = None,
        max_retries: int = 5,
    ) -> Snapshot:
        """Merge-on-read commit: APPEND the epoch's LWW winners as delta
        files to their buckets — no table state is read and no existing
        file is rewritten, so commit cost is O(batch), not O(touched
        state). Reads resolve base+deltas per key by ``order_cols``
        (Iceberg v2 MOR economics; ``compact`` folds deltas back into
        the base to bound read amplification).

        Requires ``order_cols`` on the table (read-time resolution).

        ``lineage`` is the epoch's applied entry: a dict, or a callable
        that takes one footer row per written bucket dir —
        ``{BUCKET_COL, "n_rows", "n_deletes", "stats"}`` (``stats`` are
        the entry's manifest stats, e.g. ``stats["lsn"]["min"]``;
        deletes as in ``_delta_counts``) — and returns the dict.
        ``touched_buckets=None`` takes the touched set from the written
        dir's bucket listing.

        Concurrency: appends COMMUTE, so a CommitConflict is rebased
        internally — the already-written delta dir is re-attached to
        the fresh snapshot and the CAS retried; the data job never
        re-runs. Cases that cannot rebase blindly re-raise for the
        caller to re-derive (mirrors commit_merge's contract): a
        foreign schema change (delta rows were conformed to a stale
        schema) and a foreign structural change — rebucket() changing
        ``n_buckets`` (the delta files are bucketed under the OLD
        hash), or key/order column changes (read-time LWW would
        resolve by the wrong columns). A foreign writer applying THIS
        epoch raises EpochAlreadyApplied so the caller reports a
        skipped apply instead of double-counting it."""
        snap = base_snap or self.current_snapshot()
        if not snap.order_cols:
            raise ValueError("merge-on-read append requires order_cols on the table")
        out_dir = os.path.join(self._data_dir, f"v{snap.version + 1}-{uuid.uuid4().hex[:8]}-delta")
        if delta_rows is not None and (touched_buckets is None or touched_buckets):
            self._write_parquet(delta_rows, snap, out_dir)
        listed = touched_buckets is None
        if listed:
            # lazy path: the written delta dirs ARE the touched set —
            # no pre-write stats job ever computed it
            touched_buckets = (
                sorted(
                    int(d.split("=", 1)[1])
                    for d in os.listdir(out_dir)
                    if d.startswith(f"{BUCKET_COL}=")
                )
                if os.path.isdir(out_dir)
                else []
            )
        base_schema_id, base_schema_json = snap.current_schema_id, snap.current_schema_json()
        base_layout = (snap.n_buckets, tuple(snap.key_cols), tuple(snap.order_cols))
        # Footer stats + blooms are pure functions of the already-written
        # (immutable) delta dirs — computed ONCE, outside the CAS retry
        # loop, so a rebased attempt never re-reads data pages or
        # rewrites sidecars. The same footer pass yields the per-bucket
        # rows a callable lineage is built from: zero extra jobs. Delta
        # entries are NOT resolved (final-state reads must take the whole
        # bucket — stale-image trap), but RAW reads (read_images_where)
        # prune per file, so multi-file delta dirs record per-file stats
        # too. Their schema id is set per attempt, against the rebased
        # snapshot.
        entries: list[tuple[str, dict]] = []
        footer_rows = []
        for b in touched_buckets:
            bdir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.isdir(bdir):
                e, footers = self._dir_entry(snap, bdir, base_schema_id, self._stat_cols(snap))
                n_rows, n_del = _delta_counts(footers.values())
                footer_rows.append({BUCKET_COL: int(b), "n_rows": n_rows, "n_deletes": n_del, "stats": e["stats"]})
                entries.append((str(b), e))
        if callable(lineage):
            lineage = lineage(footer_rows)
        if listed:
            lineage = {**(lineage or {}), "touched_buckets": len(touched_buckets)}
        for _attempt in range(max_retries):
            if snap.is_applied(epoch):
                # competing writer applied it; our dir is a vacuumable orphan
                raise EpochAlreadyApplied(f"epoch {epoch} applied by a competing writer")
            if snap.current_schema_json() != base_schema_json:
                raise CommitConflict(
                    f"schema changed under append (base {base_schema_id}, now {snap.current_schema_id})"
                )
            if (snap.n_buckets, tuple(snap.key_cols), tuple(snap.order_cols)) != base_layout:
                raise CommitConflict(
                    f"table layout changed under append (base n_buckets/keys/order {base_layout}, "
                    f"now ({snap.n_buckets}, {tuple(snap.key_cols)}, {tuple(snap.order_cols)})) — "
                    "delta placement must be re-derived"
                )
            schema_json, schema_id = _next_schema(snap, new_schema)
            buckets = {b: list(files) for b, files in snap.buckets.items()}
            for b, e in entries:
                buckets.setdefault(b, []).append(dict(e, schema_id=schema_id))
            new_snap = replace(
                snap,
                version=snap.version + 1,
                schema_json=schema_json,
                current_schema_id=schema_id,
                buckets=buckets,
                applied=_record_epoch(snap, epoch, lineage),
            )
            try:
                self._write_snapshot(new_snap)
            except CommitConflict:
                snap = self.current_snapshot()  # rebase: appends commute
                continue
            return self._auto_compact(new_snap)
        raise CommitConflict(f"append for epoch {epoch} lost {max_retries} races")

    # Backstop against unbounded snapshot growth: without scheduled
    # compaction every MOR append adds a file entry per touched bucket,
    # and at 10^5 epochs the snapshot JSON itself becomes the bottleneck
    # (every commit rewrites it). Overridable per table via
    # props['max_delta_files'] (0 disables).
    DEFAULT_MAX_DELTA_FILES = 64

    def _auto_compact(self, snap: Snapshot) -> Snapshot:
        """Fold any bucket whose delta chain exceeds the table's
        ``max_delta_files`` bound back to a single base file. State
        digest is unchanged (compact is LWW-preserving, test-pinned);
        only read amplification and snapshot size shrink."""
        limit = int(snap.props.get("max_delta_files", self.DEFAULT_MAX_DELTA_FILES) or 0)
        if not limit or all(len(fs) <= limit for fs in snap.buckets.values()):
            return snap
        try:
            compacted = self.compact(max_files=limit)
        except CommitConflict:
            return snap  # best-effort backstop: a foreign commit will re-trigger
        return compacted if compacted is not None else snap

    def compact(
        self,
        max_files: int = 1,
        buckets: list[int] | None = None,
        cluster_by: str | list[str] | None = None,
        slices: int | None = None,
    ) -> Snapshot | None:
        """Fold delta files back into one base file per bucket: rewrite
        every bucket holding more than ``max_files`` entries with its
        LWW-resolved state (tombstones kept — they still defend against
        late arrivals until purge_tombstones). Returns the new snapshot,
        or None when nothing qualifies. Scheduled like vacuum (the
        runner's --compact-every); read amplification between runs is
        bounded by epochs-since-compaction.

        ``cluster_by`` (default ``props['cluster_col']``): Iceberg-style
        rewrite-with-sort-order — the resolved state is range-partitioned
        on that column before the write, so each bucket directory holds
        up to ``slices`` files covering DISJOINT value ranges, and
        per-file footer stats land in the manifest (``fstats``).
        ``read_where`` then prunes files inside resolved buckets —
        the layout that makes time-range reads on a 100-TB hash-bucketed
        CDC table touch only the matching time slices.  Use
        ``compact(max_files=0, cluster_by=...)`` for a full re-layout
        (every non-empty bucket qualifies).

        MULTIPLE cluster columns (a list, or comma-separated in
        ``props['cluster_col']``) switch the layout to Z-ORDER (Delta's
        ``OPTIMIZE ... ZORDER BY``): the range exchange runs on an
        interleaved-bit Morton value (:func:`_zorder_column`), so every
        file is narrow on EVERY cluster column and ``read_where`` prunes
        on any of them — a single-column sort would leave the second
        dimension un-prunable.  ``props['zorder_bits']`` (default 6)
        sets the per-dimension cell resolution (``2**bits`` quantile
        cells).  Costs one extra pass over the resolved state (the
        boundary aggregate) — a maintenance-time price, like
        ``repartitionByRange``'s own sampling job."""
        snap = self.current_snapshot()
        cluster_by = cluster_by or (snap.props or {}).get("cluster_col") or None
        cluster_cols = (
            [c.strip() for c in cluster_by.split(",") if c.strip()]
            if isinstance(cluster_by, str)
            else list(cluster_by or [])
        )
        cand = [
            int(b)
            for b, files in snap.buckets.items()
            if len(files) > max_files and (buckets is None or int(b) in set(buckets))
        ]
        if not cand:
            return None
        resolved = (
            self.read(snap, buckets=cand, include_deleted=True)
            .withColumn(BUCKET_COL, bucket_expr(snap.key_cols, snap.n_buckets))
        )
        if len(cluster_cols) == 1:
            n_slices = int(slices or (snap.props or {}).get("cluster_slices", 8))
            # range exchange on the cluster column: every write task owns
            # one value slice, so the file it emits into each bucket dir
            # is range-disjoint from its siblings (NULLs sort first)
            resolved = resolved.repartitionByRange(n_slices, F.col(cluster_cols[0]))
        elif cluster_cols:
            n_slices = int(slices or (snap.props or {}).get("cluster_slices", 8))
            bits = int((snap.props or {}).get("zorder_bits", 6))
            # Z-order: range exchange on the Morton value — each write task
            # owns a contiguous curve segment, narrow on ALL cluster columns
            zv = _zorder_column(resolved, cluster_cols, bits)
            resolved = resolved.withColumn("_zval", zv).repartitionByRange(n_slices, F.col("_zval")).drop("_zval")
        else:
            n_write = max(1, min(len(cand), self.spark.sparkContext.defaultParallelism * 2))
            resolved = resolved.repartition(n_write, F.col(BUCKET_COL))
        return self.commit_merge(
            resolved,
            cand,
            epoch=f"compact-{snap.version}",
            base_snap=snap,
            fstat_cols=cluster_cols or None,
        )

    # ------------------------------------------------- zone-map pruned reads
    def _plan_pruned_scan(self, bounds: dict, snap: Snapshot, eq: dict | None = None):
        """Driver-side zone-map + bloom planning for a FINAL-STATE read
        under a conjunction of column bounds and equality predicates.
        Returns ``(clean_by_schema, dirty_buckets, n_pruned_files,
        n_pruned_buckets)``.

        Pruning granularity is dictated by LWW safety:

        * a bucket whose every entry is disjoint from the bounds holds
          no satisfying row image at all — its final images cannot
          satisfy the predicate either, so the WHOLE bucket is skipped;
        * a bucket made only of RESOLVED entries (COW commits /
          compaction output) holds exactly one final image per key,
          and a clustered entry's range-sliced files hold disjoint key
          sets — individual files prune safely;
        * a mixed base+delta bucket must be read whole: dropping one
          out-of-bounds file could drop the WINNING image of a key and
          let a stale in-bounds delta image surface.  All-or-nothing
          only."""
        all_bounds, eq_bloom = self._prune_set(snap, bounds, eq)
        clean: dict[str, list[str]] = {}
        dirty: list[int] = []
        pruned_files = pruned_buckets = 0
        for b, files in snap.buckets.items():
            if not any(_keep(f.get("stats"), all_bounds, eq_bloom) for f in files):
                pruned_buckets += 1
                pruned_files += sum(len(f.get("fstats") or [1]) for f in files)
            elif all(f.get("resolved") for f in files):
                for f in files:
                    paths, n = _select_files(f, all_bounds, eq_bloom)
                    pruned_files += n
                    if paths is not None:
                        clean.setdefault(f["schema_id"], []).extend(paths)
            else:
                dirty.append(int(b))
        return clean, dirty, pruned_files, pruned_buckets

    def _prune_set(self, snap: Snapshot, bounds: dict, eq: dict | None) -> tuple[dict, dict]:
        """``(all_bounds, eq_bloom)``, what the pruned reads test entries
        and files against.  ``all_bounds`` is the min/max predicate set:
        an equality is also a degenerate range; explicit bounds on the
        same column win the merge (both are re-applied as filters, so
        pruning may use either soundly).

        ``eq_bloom`` holds the eq probes the blooms may answer: only
        those whose literal's Python type matches the column's Spark
        type.  The bloom was built over the column's canonical encodings
        (e.g. b'0123' for a string column), while a mismatched probe
        hashes its own encoding (b'123' for int 123) — a PROVEN-miss
        verdict would then prune files whose rows match under the
        engine's ANSI coercion in the re-applied filter (ADVICE r6).
        Mismatches skip the bloom test; min/max pruning already keeps
        on cross-type comparisons via its TypeError guard."""
        eq = dict(eq or {})
        by_name = {f.name: f.dataType for f in self.schema(snap).fields}
        return (
            {**{c: (v, v) for c, v in eq.items()}, **bounds},
            {c: v for c, v in eq.items() if _bloom_probe_type_ok(by_name.get(c), v)},
        )

    def read_where(
        self,
        bounds: dict | None = None,
        snap: Snapshot | None = None,
        include_deleted: bool = False,
        eq: dict | None = None,
    ) -> DataFrame:
        """Final-state read restricted to ``bounds`` — a dict
        ``{col: (lo, hi)}`` of inclusive bounds (None = open side) —
        and ``eq`` — a dict ``{col: value}`` of equality predicates —
        all ANDed together.  Result is EXACTLY ``read().filter(...)``
        (test-pinned), but files/buckets provably disjoint from the
        predicates are pruned driver-side from the manifest stats before
        any Spark job is planned — on a clustered table
        (``compact(cluster_by=...)``) a narrow time-range read touches
        only the matching range slices of each bucket, and an ``eq``
        probe on a ``props['bloom_cols']`` column prunes by per-file
        bloom filters, which works where zone maps cannot: equality on
        a high-cardinality column whose min/max span every file.
        Bounds must be JSON-stat-comparable literals (ints, strings;
        temporal stats are stored as ISO strings — pass ISO strings);
        eq values must be int/str/bytes (the bloom-indexable types).
        Rows, including tombstones under ``include_deleted``, must
        satisfy the predicates."""
        bounds = dict(bounds or {})
        snap = snap or self.current_snapshot()
        clean, dirty, _, _ = self._plan_pruned_scan(bounds, snap, eq)
        out = self._scan(snap, clean) if clean or not dirty else None
        if dirty:
            ddf = self.read(snap, buckets=dirty, include_deleted=True)
            out = ddf if out is None else out.unionByName(ddf, allowMissingColumns=True)
        out = out.filter(_predicate(bounds, eq or {}))
        return out if include_deleted else _hide_tombstones(out)

    def read_images_where(
        self, bounds: dict | None = None, snap: Snapshot | None = None, eq: dict | None = None
    ) -> DataFrame:
        """RAW row images (not LWW-resolved, tombstones included)
        satisfying ``bounds`` and ``eq`` over any manifest-stat column
        (``{"lsn": (min_lsn, None)}`` is the incremental "every image
        since lsn" read; files from pre-stats snapshots are kept).  Raw reads
        need no merge, so pruning is always file-granular: every entry
        (base, slice, or delta) disjoint from the predicates is skipped —
        MOR delta dirs are epoch-local in event time and lsn, so
        incremental audits / late-consumer catch-up over a time window
        list only that window's files.  ``eq`` probes consult the bloom
        index (``props['bloom_cols']``) exactly as :meth:`read_where`
        does — the same ``_prune_set`` (type-mismatched probes never
        bloom-prune) and the same ``_select_files``, including inside
        delta dirs, whose commits write the same sidecars — so "every
        image this key/path ever had" audits touch only files that may
        contain the value."""
        bounds = dict(bounds or {})
        snap = snap or self.current_snapshot()
        all_bounds, eq_bloom = self._prune_set(snap, bounds, eq)
        by_schema: dict[str, list[str]] = {}
        for files in snap.buckets.values():
            for f in files:
                paths, _ = _select_files(f, all_bounds, eq_bloom)
                if paths is not None:
                    by_schema.setdefault(f["schema_id"], []).extend(paths)
        return self._scan(snap, by_schema).filter(_predicate(bounds, eq or {}))

    # ---------------------------------------------------- change data feed
    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change-data-feed read: every row image committed AFTER
        ``from_version`` up to and including ``to_version`` (default:
        current) — the incremental-consumer surface (Iceberg/Delta CDF):
        downstream syncs read only what changed instead of diffing
        snapshots.

        Output: the table schema + ``_change_type`` ('upsert'|'delete')
        + ``_commit_version``. Per commit in range:

        - merge-on-read append: the delta files ARE the change set —
          emitted by reference, zero compute;
        - copy-on-write merge: the rewritten buckets are full states,
          so the change set is ``new exceptAll old`` over the touched
          buckets (deletes appear as tombstone images);
        - compaction / purge / rebucket: state-preserving maintenance,
          contributes nothing.

        Requires the snapshots in range to still exist (``vacuum
        keep_last`` must cover it — same retention contract as
        time travel)."""
        cur = self.current_snapshot()
        to_version = cur.version if to_version is None else to_version
        out = None
        if to_version > from_version:
            # each snapshot JSON carries the whole manifest: load each
            # once and carry it forward as the next version's ``prev``
            cur = self.snapshot_at(from_version)
        for v in range(from_version + 1, to_version + 1):
            prev, cur = cur, self.snapshot_at(v)
            epoch_name = next((k for k, e in cur.applied.items() if e.get("snapshot") == v), "")
            if epoch_name.startswith(("compact-", "purge-", "rebucket-")):
                continue
            prev_paths = {f["path"] for fs in prev.buckets.values() for f in fs}
            added: dict[str, list[str]] = {}
            appended_buckets = []
            for b, files in cur.buckets.items():
                for f in files:
                    if f["path"] not in prev_paths:
                        added.setdefault(f["schema_id"], []).append(f["path"])
                        appended_buckets.append(int(b))
            if not added:
                continue
            new_rows = self._scan(cur, added)
            # MOR classification must survive manifest compaction (the
            # applied entry carrying lineage 'mode' is prunable): delta
            # append dirs are named v{N}-{uuid}-delta, so the added
            # paths themselves say how the commit was made.
            is_mor_append = all(
                os.path.basename(os.path.dirname(p)).endswith("-delta")
                for paths in added.values()
                for p in paths
            )
            if not is_mor_append:
                # COW rewrite: subtract the buckets' previous full state
                old_rows = _conform(
                    self.read(prev, buckets=sorted(set(appended_buckets)), include_deleted=True),
                    self.schema(cur),
                )
                new_rows = new_rows.exceptAll(old_rows)
            changes = new_rows.withColumn(
                "_change_type",
                F.when(_tombstone(), F.lit("delete")).otherwise(F.lit("upsert")),
            ).withColumn("_commit_version", F.lit(v).cast("long"))
            out = changes if out is None else out.unionByName(changes)
        if out is None:
            # no change rows: the same columns, from the last snapshot read
            out = self._scan(cur, {}).select(
                "*",
                F.lit(None).cast("string").alias("_change_type"),
                F.lit(None).cast("long").alias("_commit_version"),
            )
        return out.drop(DELETED_COL)

    # ------------------------------------------------------- maintenance
    def purge_tombstones(self, below_lsn: int) -> Snapshot:
        """Rewrite every bucket containing tombstones with lsn <
        ``below_lsn`` (the ingest watermark: no event below it can still
        arrive, so the tombstones have no one left to defend against).
        Publishes a new snapshot; a no-op when nothing qualifies."""
        snap = self.current_snapshot()
        cur_schema = self.schema(snap)
        if DELETED_COL not in cur_schema.fieldNames():
            return snap
        full = self.read(snap, include_deleted=True)
        doomed = full.filter(_tombstone() & (F.col("lsn") < below_lsn))
        touched = [
            r[0]
            for r in doomed.select(bucket_expr(snap.key_cols, snap.n_buckets).alias("b")).distinct().collect()
        ]
        if not touched:
            return snap
        kept = (
            full.withColumn(BUCKET_COL, bucket_expr(snap.key_cols, snap.n_buckets))
            .filter(F.col(BUCKET_COL).isin(touched))
            .filter(~(_tombstone() & (F.col("lsn") < below_lsn)))
            .repartition(max(1, len(touched)), F.col(BUCKET_COL))
        )
        return self.commit_merge(kept, touched, epoch=f"purge-{snap.version}-{below_lsn}", base_snap=snap)

    def rebucket(self, n_buckets: int) -> Snapshot:
        """Bucket-count evolution: rewrite the whole table into
        ``n_buckets`` hash buckets in ONE copy-on-write commit and
        record the new count in the snapshot (subsequent merges bucket
        against it automatically — engine reads n_buckets per epoch).

        At 100x growth the per-bucket rewrite unit outgrows the target
        file size and every merge rewrites huge files; splitting 64 ->
        256 restores O(touched_keys/B) write amplification. Run it like
        a compaction (maintenance window); state digest is invariant
        (test-pinned) and tombstones are carried.

        It commits through ``_build_merge`` like every COW rewrite, so
        its entries carry the same manifest stats (lsn min/max, blooms
        of ``props['bloom_cols']``, ``resolved``) and pruned reads keep
        pruning after it; it pays the same footer and bloom pass as
        every COW commit."""
        snap = self.current_snapshot()
        if n_buckets == snap.n_buckets:
            return snap
        full = self.read(snap, include_deleted=True).withColumn(BUCKET_COL, bucket_expr(snap.key_cols, n_buckets))
        n_write = max(1, min(n_buckets, self.spark.sparkContext.defaultParallelism))
        # touched = old layout + new layout: a shrinking rebucket must
        # not carry the old layout's high buckets into the new snapshot
        touched = sorted({int(b) for b in snap.buckets} | set(range(n_buckets)))
        _, new_snap = self._build_merge(
            full.repartition(n_write, BUCKET_COL), touched, f"rebucket-{snap.version}-{n_buckets}", base_snap=snap
        )
        new_snap = replace(new_snap, n_buckets=n_buckets)
        self._write_snapshot(new_snap)
        return new_snap

    def vacuum(self, keep_last: int = 1) -> int:
        """Delete data dirs not referenced by the ``keep_last`` newest
        snapshots, plus superseded snapshot JSONs. Returns dirs removed.
        Orphans from crashed commits are collected here too."""
        import shutil

        versions = sorted(
            int(f[1:-5]) for f in os.listdir(self._snap_dir) if f.startswith("v") and f.endswith(".json")
        )
        keep_versions = versions[-keep_last:]
        kept_snaps = [self.snapshot_at(v) for v in keep_versions]
        # staged (write-audit-publish) snapshots reference data dirs too
        # — a vacuum during the audit window must not eat them
        for name in self.list_staged():
            kept_snaps.append(self.staged_snapshot(name))
        referenced = _referenced_dirs(kept_snaps)
        removed = 0
        for vdir in os.listdir(self._data_dir):
            vpath = os.path.join(self._data_dir, vdir)
            if not os.path.isdir(vpath):
                continue
            bucket_dirs = {os.path.join(vpath, d) for d in os.listdir(vpath) if d.startswith(BUCKET_COL + "=")}
            if bucket_dirs and bucket_dirs.isdisjoint(referenced):
                shutil.rmtree(vpath, ignore_errors=True)
                removed += 1
            else:
                for bd in sorted(bucket_dirs - referenced):
                    shutil.rmtree(bd, ignore_errors=True)
        for v in versions[:-keep_last]:
            os.remove(os.path.join(self._snap_dir, f"v{v}.json"))
        return removed


def _referenced_dirs(snaps: list[Snapshot]) -> set[str]:
    out = set()
    for s in snaps:
        for files in s.buckets.values():
            for f in files:
                out.add(f["path"])
    return out


def _conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast df to the target schema: missing columns -> typed
    nulls, widened types -> cast (int->long, float->double)."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
