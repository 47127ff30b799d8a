"""Vectorized pandas/Arrow UDFs — the only Python that ever touches rows.

BASELINE.json input_hint mandates exactly two content transforms as
vectorized pandas UDFs: sha256 digesting and language normalization.
Both operate on a whole Arrow batch (``pd.Series``) per call; there is
no row-at-a-time Python UDF anywhere in this repo.

Note: for plain string columns Spark's native ``F.sha2(col, 256)`` is
equivalent and fully JVM-side; the pandas UDF exists for the CDC
content path (``cdc/engine.py`` always enriches through both UDFs) and
for binary/multimodal payloads where a JVM builtin doesn't apply.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# canonical language names: case-fold + alias table (deterministic).
_LANG_ALIASES = {
    "py": "python",
    "python3": "python",
    "rs": "rust",
    "md": "markdown",
    "c++": "cpp",
    "golang": "go",
    "js": "javascript",
    "ts": "typescript",
}


@pandas_udf(StringType())
def sha256_udf(content: pd.Series) -> pd.Series:
    """Hex sha256 of each string/bytes value; None stays None.

    Arrow-batched: one Python call per ~10k-row batch, hashing via
    OpenSSL's C implementation per element.  The element loop stays
    because the installed stack (pyarrow 16.1.0, pandas 2.2.2) has no
    vectorized sha256 kernel.
    """

    def _h(v):
        if v is None:
            return None
        if isinstance(v, bytes):
            return hashlib.sha256(v).hexdigest()
        return hashlib.sha256(str(v).encode("utf-8", "surrogatepass")).hexdigest()

    return content.map(_h)


@pandas_udf(StringType())
def lang_normalize_udf(lang: pd.Series) -> pd.Series:
    """Normalize language labels: strip, casefold, alias-map.

    Vectorized: pandas `.str` kernels + an exact-match dict replace; no
    per-row Python.  None stays None.
    """
    s = lang.astype("string").str.strip().str.lower()
    return s.astype(object).replace(_LANG_ALIASES)
