"""Vector functions over array<float|double> embedding columns — pure Column
expressions (zip_with/aggregate fold JVM-side; no UDF, no shuffle)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_micro(a: Column | str) -> Column:
    """array<long> of FLOOR(x*1e6 + 0.5) per component — the repo's 'd'
    canon applied to the embedding itself.  Pure IEEE double ops on the
    same input floats, so every engine produces the identical integers."""
    return F.transform(
        _c(a),
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
            "long"
        ),
    )


def cosine_micro_exact(a: Column | str, b: Column | str) -> Column:
    """Cross-engine BIT-IDENTICAL cosine: quantize components to micro
    ints, fold dot and norms as exact BIGINT sums (order-independent),
    and finish with fixed IEEE double ops (cast<2^53 is exact, sqrt and
    div are correctly rounded everywhere).  A plain double fold's sum
    depends on accumulation order, and a ≤1-ulp disagreement is enough
    to flip a nearest-centroid assignment and swap entire IVF probe
    cells — observed at the sf1.0 scale run (r6) on near-parallel
    vectors; this ranking key cannot drift."""
    qa, qb = quantize_micro(a), quantize_micro(b)
    zero = F.lit(0).cast("long")

    def isum(arr):
        return F.aggregate(arr, zero, lambda acc, x: acc + x)

    d = isum(F.zip_with(qa, qb, lambda x, y: x * y))
    na = isum(F.transform(qa, lambda x: x * x))
    nb = isum(F.transform(qb, lambda x: x * x))
    den = F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    # zero-norm guard: under Spark 4's default ANSI mode 0/0 THROWS
    # DIVIDE_BY_ZERO — one failed-encoder all-zero embedding would kill
    # the whole job (and pre-ANSI it NaN'd, which both engines rank
    # ABOVE every real cosine).  -2.0 sits below the cosine range, so a
    # zero vector ranks last in every top-k and fails every >= threshold
    # filter — in DuckDB replays the same rows produce NaN, which also
    # fails thresholds and ties-to-tiebreak in all-zero partitions; the
    # few oracles that RANK mixed zero/non-zero candidates carry an
    # explicit ISNAN→-2.0 CASE twin.
    return F.when(den > 0, d.cast("double") / den).otherwise(F.lit(-2.0))


def normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding (array<double> out)."""
    n = l2_norm(a)
    return F.transform(_c(a), lambda x: x.cast("double") / n)


def quantize_micro_unit(a: Column | str) -> Column:
    """array<long>: micro-quantized components of the UNIT-normalized
    vector — floor(q_i / ||q|| * 1e6 + 0.5) where q_i = floor(x_i*1e6+0.5)
    and ||q|| = sqrt(exact BIGINT sum of q_i²).  Every step is a single
    correctly-rounded IEEE op on engine-identical inputs, so the integers
    match across engines, retries, and partitionings (the
    cosine_micro_exact discipline).  Squared L2 on these is monotone with
    cosine (||u-v||² = 2-2·cos for unit u,v), which is what lets PQ's ADC
    — an L2 machine — answer cosine queries."""
    qa = quantize_micro(a)
    zero = F.lit(0).cast("long")
    nsq = F.aggregate(
        F.transform(qa, lambda x: x * x), zero, lambda acc, x: acc + x
    )
    # zero-norm guard: an all-zero (or sub-micro) embedding — a classic
    # failed-encoder artifact — would divide 0/0 into NaN components and
    # poison every distance against it.  Divisor 1 pins its unit form to
    # all-zero components, identically in both engines (the oracle's CASE
    # twin); downstream it is then equidistant-by-zero, never NaN.
    nrm = F.when(nsq > 0, F.sqrt(nsq.cast("double"))).otherwise(F.lit(1.0))
    return F.transform(
        qa,
        lambda x: F.floor(
            x.cast("double") / nrm * 1_000_000 + F.lit(0.5)
        ).cast("long"),
    )
