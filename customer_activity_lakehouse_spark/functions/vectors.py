"""Vector expressions over array<float> embedding columns.

Built on higher-order functions (zip_with / aggregate) so the arithmetic runs
JVM-side per row — no Python, no UDF serialization. ``dot`` and ``l2_norm``
are the package's one float dot/norm fold: every catalog entry that needs an
exact cosine uses them, and a source scan in tests/test_vector_kernels.py
keeps copies from growing back. The Arrow-batched pandas_udf paths use the
order-exact NumPy folds of plans/vector_kernels.py, the one module that
keeps their numeric contract with these expressions.

All math in double precision regardless of the stored float32 — matches what
DuckDB's list functions do, keeping oracle hashes stable. The left fold from
0.0 is the op order of the DuckDB twins (``llm_ops._SQL_DOT``); a cast of an
already-double element is a no-op, so the same expressions serve pre-cast
arrays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length numeric arrays (double)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of a numeric array (double)."""
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))
