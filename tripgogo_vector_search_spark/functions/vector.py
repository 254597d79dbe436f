"""Vector column expressions — the engine's core capability (SURVEY.md §2.C).

Everything here is a Catalyst ``Column`` built from higher-order functions
(``zip_with`` / ``aggregate`` / ``transform``) so distance math runs
JVM-side inside whole-stage codegen — the Spark-idiomatic replacement for
the reference's server-side ``COSINE_DISTANCE(addr_vec, TO_VECTOR(:q, 384))``
(streamlit_app.py:64-67). No Python executes per row.

Accumulation is a sequential left-to-right fold over the array in double
precision, which makes per-row results deterministic (unlike a
partition-order-dependent double aggregate).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def vector_lit(values: Sequence[float]) -> Column:
    """A constant query vector as an array<double> literal.

    Reference analogue: the client-serialized ``"[0.1,...]"`` bind +
    ``TO_VECTOR(:query_vec, 384)`` (streamlit_app.py:53,66) — in Spark the
    vector is passed natively, no string round-trip.
    """
    return F.array(*[F.lit(float(v)) for v in values])


def to_vector(col: ColumnOrName, dim: int | None = None) -> Column:
    """Parse a bracketed string literal ``"[0.1, 0.2, ...]"`` into
    array<float> — capability parity with Oracle's ``TO_VECTOR``
    (streamlit_app.py:66; ingest_hotels.py:29).

    When ``dim`` is given, a wrong-dimension vector yields NULL (the
    engine-level analogue of TO_VECTOR's declared-dimension check, kept
    null-on-error like the reference's LOB fallback, streamlit_app.py:97-99).
    """
    cleaned = F.regexp_replace(_c(col), r"[\[\]\s]", "")
    arr = F.transform(F.split(cleaned, ","), lambda x: x.cast("float"))
    arr = F.when(F.length(cleaned) > 0, arr).otherwise(F.array().cast("array<float>"))
    if dim is not None:
        arr = F.when(F.size(arr) == dim, arr)
    return arr


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v: ColumnOrName) -> Column:
    return F.sqrt(dot(v, v))


def l2_normalize(v: ColumnOrName) -> Column:
    """Unit-normalize (reference: ``normalize_embeddings=True`` at embed
    time, ingest_hotels.py:23). Zero vectors normalize to NULL elements
    rather than NaN/inf.

    The (vector, norm) pair is bound ONCE as a lambda variable (r10 HOF
    sweep): referencing the norm expression inside the per-element
    lambda re-evaluates the O(dim) dot-product fold per element —
    O(dim^2) per vector, measured 30x slower (25.7 s -> 0.87 s on 200k
    64-dim vectors) than this bound shape."""
    bound = F.array(F.struct(_c(v).alias("v"), l2_norm(v).alias("n")))
    return F.transform(
        bound,
        lambda p: F.transform(
            p["v"],
            lambda x: F.when(p["n"] > 0, x.cast("double") / p["n"])))[0]


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Oracle ``COSINE_DISTANCE`` semantics: 1 - cosine similarity
    (streamlit_app.py:64-67). With unit vectors this equals ``1 - dot``."""
    return F.lit(1.0) - cosine_similarity(a, b)


def py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side :func:`dot`: the same left-to-right double fold
    (an explicit loop — ``sum()`` compensates float rounding on Python
    3.12+)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_cosine_distance(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side :func:`cosine_distance` for choosing IVF probe cells:
    the same folds and operation order, so every double equals the
    engine's bit for bit. A zero-norm side gives NaN, the IEEE
    ``1 - 0/0`` the numpy kernels compute and the NULL of the engines'
    ``try_divide`` form (operators/simjoin.py)."""
    import math
    den = math.sqrt(py_dot(a, a)) * math.sqrt(py_dot(b, b))
    return 1.0 - py_dot(a, b) / den if den else math.nan


def euclidean_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    diffs = F.zip_with(_c(a), _c(b),
                       lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


def l2_sq(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared L2 distance as the same sequential double fold as
    :func:`euclidean_distance` without the sqrt — the PQ/kmeans
    assignment metric, engine-exact because both engines fold the
    element order left-to-right (oracle_helpers.sql_l2_sq)."""
    diffs = F.zip_with(_c(a), _c(b),
                       lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def match_score(dist: ColumnOrName) -> Column:
    """The reference's derived similarity percentage:
    ``round((1 - distance) * 100, 2)`` (streamlit_app.py:221)."""
    return F.round((F.lit(1.0) - _c(dist)) * 100, 2)


def quantize_scale(v: ColumnOrName, bits: int = 8) -> Column:
    """Per-vector symmetric scalar-quantization scale: ``max|x| / qmax``
    with ``qmax = 2^(bits-1) - 1`` (127 for int8). Zero vectors get a
    NULL scale (nothing to quantize)."""
    qmax = float(2 ** (bits - 1) - 1)
    mx = F.array_max(F.transform(_c(v), lambda x: F.abs(x.cast("double"))))
    return F.when(mx > 0, mx / qmax)


def quantize(v: ColumnOrName, scale: ColumnOrName) -> Column:
    """Symmetric scalar quantization to integer codes:
    ``floor(x/scale + 0.5)`` — explicit round-half-up, chosen over
    engine-native round() so every engine (and the DuckDB oracle)
    reproduces codes bit-for-bit. NULL scale (zero vector) -> all-zero
    codes."""
    # scale bound once as a lambda variable (r10 HOF sweep): a caller
    # passing the quantize_scale(...) EXPRESSION would otherwise
    # re-evaluate that array_max fold per element
    bound = F.array(F.struct(_c(v).alias("v"), _c(scale).alias("s")))
    return F.transform(
        bound,
        lambda p: F.transform(
            p["v"],
            lambda x: F.when(p["s"].isNotNull(),
                             F.floor(x.cast("double") / p["s"] + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("long")))[0]


def dequantize_error(v: ColumnOrName, scale: ColumnOrName) -> Column:
    """Max absolute reconstruction error ``max|x - q*scale|`` of the
    round-trip; bounded by scale/2 for in-range values. Zero vectors
    reconstruct exactly (error 0)."""
    # same one-element binding as quantize (r10 HOF sweep)
    bound = F.array(F.struct(_c(v).alias("v"), _c(scale).alias("s")))
    err = F.transform(
        bound,
        lambda p: F.array_max(F.transform(
            p["v"],
            lambda x: F.when(
                p["s"].isNotNull(),
                F.abs(x.cast("double")
                      - F.floor(x.cast("double") / p["s"] + F.lit(0.5))
                      * p["s"]))
            .otherwise(F.lit(0.0)))))
    return err[0]
