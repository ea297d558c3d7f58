"""Vector expressions over array<float> embedding columns.

Built-in higher-order functions (``zip_with`` + ``aggregate``) keep the
math JVM-side and codegen-friendly — no UDF, no VectorUDT conversion.
At 100 TB these evaluate per-row inside the scan stage; the only
shuffles in similarity pipelines come from the grouping/join strategy
around them (see operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length float arrays.

    Elements are cast to double *before* multiplying and the fold runs
    left-to-right — bit-identical to the DuckDB mirror
    ``list_sum(list_transform(list_zip(a,b), x -> x[1]::DOUBLE * x[2]::DOUBLE))``.
    """
    return F.aggregate(
        F.zip_with(
            _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    """L2 norm (double accumulation, left-to-right)."""
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


# --- redundant-fold elimination (r11) ---------------------------------------
# Spark evaluates higher-order functions (zip_with / aggregate lambdas)
# in INTERPRETED mode, so every fold costs per-element Invoke overhead
# per evaluation. A cosine ``dot(a, b) / (norm(a) * norm(b))`` pays
# THREE folds per row (dot + two norms); in the common shapes that is
# mostly waste: a literal query vector's norm is a driver-computable
# constant, and a join input's per-row norm can be computed once in a
# projection instead of once per PAIR. Both substitutions are bit-identical — same left-to-right
# IEEE-double accumulate, same operands into the final divide.
# (An alternative — unrolling the folds into flat codegen arithmetic —
# was ABBA-measured and REJECTED: at bench row counts the multi-
# thousand-node expression trees cost more in codegen/planning than
# interpreted folds cost to run; ivf_topk regressed 3.5 s → 11-15 s.
# See OPTIMIZATION_r11.md.)


def norm_value(values) -> float:
    """Driver-side float twin of ``norm`` on a literal vector — the
    same left-to-right IEEE-double accumulate and correctly-rounded
    sqrt, so the result is bitwise what the JVM fold produces."""
    import math

    acc = 0.0
    for v in values:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def cosine_lit(a: Column | str, values) -> Column:
    """Cosine of ``a`` against a driver-known query vector, NULL when
    either norm is zero. Bit-identical to ``dot / (norm(a) * norm(q))``
    over ``q = F.array(*lits)``: the literal side's norm collapses to a
    precomputed double (one fewer interpreted fold per row; the
    ``nb > 0`` guard constant-folds away)."""
    nb = norm_value(values)
    if not nb > 0:
        # original guard (na > 0) & (nb > 0) is constant-false
        return F.lit(None).cast("double")
    q = F.array(*[F.lit(float(v)) for v in values])
    na = norm(a)
    return F.when(na > 0, dot(_c(a), q) / (na * F.lit(nb)))


def sign_lsh_bucket(a: Column | str, n_bits: int = 16) -> Column:
    """Axis-aligned sign-LSH bucket: bit i set iff component i > 0.

    A deterministic, engine-portable LSH family (hyperplanes = axis
    planes of the first ``n_bits`` dimensions). Nearby unit vectors
    agree on most signs → collide in coarse buckets. For production
    randomized hyperplanes, seed a projection matrix and broadcast it;
    the bucketing/join structure stays identical.

    Vectors SHORTER than ``n_bits`` contribute 0 for the missing bits
    (``F.get`` is null-safe; the ``> 0`` predicate is false on null) —
    under Spark 4's default ANSI mode the previous ``element_at(arr,
    i+1)`` threw INVALID_ARRAY_INDEX on the first short vector and
    killed the job, while the driver-side query mirror silently
    truncated; now both sides agree that absent dimensions hash as
    non-positive.
    """
    arr = _c(a)
    acc = F.lit(0).cast("long")
    for i in range(n_bits):
        acc = acc + F.when(
            F.get(arr, i) > 0, F.lit(2**i).cast("long")
        ).otherwise(0)
    return acc
