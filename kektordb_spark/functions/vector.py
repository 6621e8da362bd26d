"""Vector distance expressions and f16 compression (SURVEY.md §2.3
V3-V6, S12).

The distances are dialect.dot_sql / l2sq_sql folds (``zip_with`` +
``aggregate``), so they stay JVM-side inside whole-stage codegen — no
Python UDF in the hot path. Reference semantics: squared euclidean and cosine = 1 - dot on
normalized vectors (pkg/core/distance/distance_go.go:35-89); plus the
``dot`` metric the reference documents but never shipped
(DOCUMENTATION.md:870 — SURVEY.md §1.2 discrepancy note).

Fold order is deterministic (array index order), which makes these
expressions bit-identical to a DuckDB ``list_reduce`` oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kektordb_spark.dialect import dot_sql, l2sq_sql


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql("spark", a, b))


def euclidean_sq(a: str, b: str) -> Column:
    """Squared L2 (the reference never takes the sqrt — distance_go.go:56-68)."""
    return F.expr(l2sq_sql("spark", a, b))


def cosine_dist(a: str, b: str, a_norm: str, b_norm: str) -> Column:
    """1 - dot/(|a||b|). The reference normalizes at insert time and
    computes 1-dot (hnsw_index.go:390-398); hoisting the norms into
    columns is the same optimization in columnar form."""
    return 1.0 - dot(a, b) / (F.col(a_norm) * F.col(b_norm))


def quantize_f16(col: Column) -> Column:
    """S12 float16 compression (reference hnsw_index.go:187-213: f16 is
    Euclidean-only; storage halves, distance decodes to f32). Spark has
    no half type, so values are IEEE-754 binary16 round-tripped (numpy,
    round-half-even — bit-exact with the reference's f16 encode/decode)
    and stored widened; an Arrow-batched pandas UDF because the
    round-to-nearest-even-at-11-bit-significand step has no built-in
    SQL equivalent. Not oracle-checkable in DuckDB (no half type) —
    pinned instead by tests/test_f16.py against numpy directly."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    def _f16(s):
        return s.map(
            lambda v: np.asarray(v, dtype=np.float64)
            .astype(np.float16)
            .astype(np.float64)
            .tolist()
        )

    # Explicit eval type (no type hints): the module uses postponed
    # annotation evaluation, which pandas_udf cannot introspect for a
    # locally-imported pd alias.
    from pyspark.sql.functions import PandasUDFType

    udf = pandas_udf(_f16, ArrayType(DoubleType()), PandasUDFType.SCALAR)
    return udf(col)
