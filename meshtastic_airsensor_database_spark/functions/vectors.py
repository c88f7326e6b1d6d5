"""Vector math over array<float|double> columns (SURVEY.md §2.11).

Dot product / norms / cosine via ``zip_with`` + ``aggregate`` — JVM
built-ins, no UDF, so embedding similarity scans stay in whole-stage
codegen. Inputs are cast to double so results are bit-stable against a
DuckDB double oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def double_sql_literal(x: float) -> str:
    """A Python double as Spark SQL expression text. Finite values go
    through ``repr`` (shortest repr re-parses to the identical double
    — the centroid_local_relation exactness argument). Non-finite
    values need the cast form: ``repr(nan)``/``repr(inf)`` produce
    ``nan``/``inf``, which the SQL parser rejects as double literals,
    so one NaN-poisoned centroid mean would turn a previously
    NaN-propagating plan into an AnalysisException (r11 verdict #1);
    ``CAST('NaN' AS DOUBLE)`` parses everywhere and evaluates to the
    same IEEE value the broadcast path would carry."""
    v = float(x)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-order dot product (parity with a SQL list_dot_product)."""
    prods = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (|a||b|); zero-norm input -> null (not NaN)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def quantize_int8(col: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: ``q[i] = round_half_up(
    v[i] / scale)`` with ``scale = max|v| / 127`` — the
    memory-bandwidth lever for 100-TB similarity scans (4x smaller
    vectors than float32, 8x than float64; SIMD int8 dot products on
    real hardware).

    Returns ``array<int>`` with every element in [-127, 127]; the
    all-zero vector quantizes to all zeros. Cosine needs NO
    dequantization: the per-vector scale multiplies every element, so
    it cancels in ``cos(a,b) = a.b / (|a||b|)`` — compute cosine
    directly on the int arrays. Rounding is floor(x + 0.5) (half toward
    +inf), chosen because both Spark and DuckDB evaluate it identically
    on doubles (plain round() is HALF_UP on decimal strings in Spark
    but banker's/C-rounding elsewhere).
    """
    v = _as_double_array(col)
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = maxabs / F.lit(127.0)
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    zeros = F.transform(v, lambda x: F.lit(0))
    return F.when(maxabs > 0, q).otherwise(zeros)


def cosine_similarity_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow/BLAS row-wise cosine — the bulk-verify twin of
    ``cosine_similarity`` for stages that score MILLIONS of candidate
    pairs (LSH/cluster verify joins), where the higher-order-function
    formulation evaluates interpreted per element (measured 159 s for
    5M 64-dim pairs vs ~2 s vectorized).

    Semantics match the expression path at filter level: a zero-norm
    side yields NaN (the expression path yields NULL) — both fail any
    ``>= threshold`` predicate, which is the only way verify stages
    consume the value. Raw doubles differ from the sequential
    reduction only in the last ulp (einsum pairwise summation);
    callers round through the decimal route before comparison like
    every other scored column.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _rowcos(va, vb):
        A = np.stack([np.asarray(x, dtype=np.float64) for x in va])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in vb])
        num = np.einsum("ij,ij->i", A, B)
        denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.where(denom > 0, num / denom, np.nan))

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _rowcos(ca, cb)


# --- derandomized sign-LSH banding ------------------------------------------
#
# Shared by plans/vectorq.py's semantic-decontamination tiers (whose
# DuckDB twins derive the SAME signs element by element, so oracle hash
# parity pins this precompute) and operators/decon_index.py's persisted
# band index. Planes are md5-derived ±1 vectors — data-independent,
# reproducible on any engine, no RNG state to ship.

HPLSH_SALT = "hplsh7"


def hplsh_sign_py(p: int, i: int, salt: str = HPLSH_SALT) -> float:
    """±1 component of hyperplane ``p`` at dim index ``i`` — bit 0 of
    the first hex digit of md5('{salt}:{p}:{i}'), identically
    computable in DuckDB (``CAST(concat('0x', substr(md5(...), 1, 1))
    AS INTEGER) & 1``)."""
    h = hashlib.md5(f"{salt}:{p}:{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) & 1 else -1.0


def sign_matrix_literal(n_planes: int, dim: int, salt: str = HPLSH_SALT) -> Column:
    """The whole ``n_planes`` x ``dim`` ±1 sign matrix as ONE SQL-text
    nested-array literal. Builder cost mattered here (measured r10):
    plane-by-plane ``lit()`` Columns = thousands of py4j calls (~10 s
    at 80x64); one nested ``F.lit`` = ~3 s of element-wise py4j
    conversion; this SQL-text literal parses in ~0.35 s. The values are
    ±1.0 exactly, so the text round-trip is lossless."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"{hplsh_sign_py(p, i, salt):.1f}D" for i in range(dim))
            + ")"
            for p in range(n_planes)
        )
        + ")"
    )


def sign_band_rows(
    df: DataFrame,
    vec_col: str,
    n_bands: int,
    band_bits: int,
    dim: int,
    carry: tuple[str, ...],
    salt: str = HPLSH_SALT,
) -> DataFrame:
    """Band rows ``(*carry, band_idx, band_hash)`` of each vector:
    project ``vec_col`` (array<double>, length ``dim``) onto the
    ``n_bands * band_bits`` md5 hyperplanes and pack each band's sign
    bits little-endian (bit j = plane ``band_idx*band_bits + j`` > 0)
    into a bigint ``band_hash``.

    Per-row work is ``n_planes`` dim-length multiply-folds against the
    literal sign matrix — no per-element md5 in the plan (the measured
    cost driver the literal precompute removes). Two vectors share a
    ``(band_idx, band_hash)`` key iff all ``band_bits`` planes of that
    band agree in sign, the standard LSH collision structure for
    cosine similarity."""
    projs = F.transform(
        sign_matrix_literal(n_bands * band_bits, dim, salt),
        lambda row: F.aggregate(
            F.zip_with(F.col(vec_col), row, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )

    def _band_hash(b):
        # sum of bit_j << j over the band's projections (j is a bounded
        # python int, b a Column) — same value a SQL CASE ... THEN 1<<j
        # sum derives
        acc = F.lit(0).cast("long")
        for j in range(band_bits):
            idx = b * band_bits + (j + 1)  # 1-based element_at
            acc = acc + F.when(
                F.element_at(F.col("_p"), idx) > 0,
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return acc

    return (
        df.select(*carry, projs.alias("_p"))
        .select(
            *carry,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bands - 1)),
                    lambda b: F.struct(
                        b.cast("int").alias("band_idx"),
                        _band_hash(b).alias("band_hash"),
                    ),
                )
            ).alias("band"),
        )
        .select(*carry, "band.band_idx", "band.band_hash")
    )


def dot_raw(a: Column, b: Column) -> Column:
    """Sequential dot product over PRE-CAST double-array expressions.

    The hoisted-capture variant of ``dot``: both arguments must already
    be array<double> (a materialized column, a lambda variable, or a
    pack field) — no cast is applied, so capturing the result inside a
    HOF lambda re-evaluates nothing but the bare references
    (functions/text.py::zipped_ngrams documents the trap this exists
    to avoid)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dist2_raw(a: Column, b: Column) -> Column:
    """Sequential squared-L2 over PRE-CAST double-array expressions
    (same no-cast contract as ``dot_raw``; DuckDB twin:
    ``list_sum(list_transform(range(...), i -> (a[i]-b[i])^2))``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
