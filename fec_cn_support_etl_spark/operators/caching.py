"""Session cache hygiene for multi-consumer intermediates.

The registry also holds the FEC pipeline's four candidate-level tables
(``plans.fec_pipeline.run_pipeline`` materializes the three support
tables and the merged final table through :func:`cache`, and every
output CSV reads them). Whoever writes those outputs releases them
with :func:`release_all`; a caller that never does leaves them to the
FIFO bound below, or to the next catalog-query construction.

The sketch pipelines (minhash / simhash / LSH verify) persist small
intermediates (shingles, signatures, candidate pairs) because several
plan branches consume them. A catalog query returns a LAZY DataFrame,
so the query function itself can never unpersist — the action hasn't
run yet. Left alone, every sweep over the catalog accumulates cache
blocks until the caller remembers ``spark.catalog.clearCache()``.

This registry makes the release automatic without nuking unrelated
user caches: intermediates persist through :func:`cache`, and the next
catalog-query construction calls :func:`release_all` (see
``plans.catalog._q``) — by then the previous query's result has been
consumed (the sequential build→collect pattern of the driver, bench,
and tests). Two consecutive full-catalog sweeps therefore hold at most
one query's cache blocks at a time.

Thread-safety: the registry is process-global, and concurrent catalog-
query construction (multi-threaded bench use) may register/release
from several threads — all mutation happens under ``_LOCK``. Releasing
another in-flight query's intermediates remains possible by design
(it costs a recompute, never correctness); what the lock prevents is
racy list mutation dropping a registration on the floor, which would
pin its cache blocks forever. Frames whose SparkSession has been
stopped are dropped instead of unpersisted (the RPC would fail), so a
restarted-session process doesn't accumulate dead entries.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_REGISTRY: list[DataFrame] = []
_LOCK = threading.Lock()

# FIFO backstop for callers that never construct a catalog query (the
# operator API used directly in a long-lived session): registrations
# beyond this bound release the OLDEST entries at cache() time. A
# single query registers a handful of frames, so the bound never fires
# inside one query's multi-consumer lifetime; without it the strong
# references here would pin cache blocks forever (the ContextCleaner
# cannot reclaim what the registry still holds).
MAX_REGISTERED = 16


def _session_active(df: DataFrame) -> bool:
    try:
        return not df.sparkSession.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _release(df: DataFrame) -> None:
    try:
        if _session_active(df):
            df.unpersist()
    except Exception:
        pass  # session torn down mid-release; nothing to reclaim


def cache(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist (MEMORY_AND_DISK by default) and register for the next
    :func:`release_all` sweep."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    # liveness probes are py4j RPCs — do them on a snapshot OUTSIDE the
    # lock (holding it would serialize every concurrent registration on
    # up to MAX_REGISTERED JVM round trips), then prune exactly the
    # entries found dead; entries registered in between are live by
    # construction
    with _LOCK:
        snapshot = list(_REGISTRY)
    dead = {id(d) for d in snapshot if not _session_active(d)}
    overflow = []
    with _LOCK:
        if dead:
            # drop dead-session entries first — they hold no reclaimable
            # blocks and would only age out live entries
            _REGISTRY[:] = [d for d in _REGISTRY if id(d) not in dead]
        _REGISTRY.append(df)
        while len(_REGISTRY) > MAX_REGISTERED:
            overflow.append(_REGISTRY.pop(0))
    for old in overflow:  # unpersist RPCs outside the lock
        _release(old)
    return df


def release_all() -> None:
    """Unpersist every registered intermediate (non-blocking). Safe to
    call at any time; already-released frames are no-ops."""
    with _LOCK:
        drained, _REGISTRY[:] = _REGISTRY[:], []
    for df in drained:
        _release(df)
