"""Vector functions over array<float|double> embedding columns — pure Column
expressions (zip_with/aggregate fold JVM-side; no UDF, no shuffle)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


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


def micro_dot(qa: Column | str, qb: Column | str) -> Column:
    """Exact BIGINT dot product of two :func:`quantize_micro` arrays
    (``micro_dot(q, q)`` is the micro norm-square).  NULL when either
    array is NULL, holds a NULL, or the two differ in length —
    ``zip_with`` pads the shorter one with NULLs."""
    return F.aggregate(
        F.zip_with(_c(qa), _c(qb), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def micro_mean(s: Column, n: Column) -> Column:
    """BIGINT mean of ``n`` micro values summing to ``s``, rounded
    half-up onto the micro grid: floor((2s+n)/(2n)) in exact integers.
    ``num - pmod(num, den)`` is a multiple of ``den``, so the integer
    division is exact and truncating equals flooring in every engine —
    no float quotient to disagree by an ulp at a .5 boundary (DuckDB
    twin: ``queries.sql_micro_mean``)."""
    num, den = 2 * s + n, 2 * n
    return F.call_function("div", num - F.pmod(num, den), den)


def micro_cosine(dot: Column, na: Column, nb: Column) -> Column:
    """The one cosine finish: exact BIGINT micro dot and norm-squares to a
    double through fixed IEEE ops (a cast below 2^53 is exact; sqrt and
    division are correctly rounded in every engine), so any engine and
    any accumulation order give the identical bits.

    Malformed input gets the -2.0 sentinel, below the cosine range: a
    zero norm (under Spark 4's default ANSI mode 0/0 throws
    DIVIDE_BY_ZERO, so one failed-encoder all-zero embedding would kill
    the job), and a NULL sum — a NULL vector, a NULL component, or two
    vectors of different length.  Such a pair ranks after every real
    cosine in a top-k and fails every similarity threshold."""
    den = F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    return F.coalesce(
        F.when(den > 0, dot.cast("double") / den), F.lit(-2.0)
    )


def cosine_micro_exact(a: Column | str, b: Column | str) -> Column:
    """Cross-engine BIT-IDENTICAL cosine of two embeddings: quantize the
    components to micro ints, fold dot and norms as exact BIGINT sums
    (order-independent), then :func:`micro_cosine`.  A plain double
    fold's sum depends on accumulation order, and a ≤1-ulp disagreement
    is enough to flip a nearest-centroid assignment and swap entire IVF
    probe cells — observed at the sf1.0 scale run (r6) on near-parallel
    vectors; this ranking key cannot drift."""
    qa, qb = quantize_micro(a), quantize_micro(b)
    return micro_cosine(micro_dot(qa, qb), micro_dot(qa, qa),
                        micro_dot(qb, qb))


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
    nsq = micro_dot(qa, qa)
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
