"""Vector math over array<float>/array<double> embedding columns —
similarity-search building blocks (north-star extension, SURVEY.md §2.3
similarity join row). All JVM higher-order functions; no Python.

Performance caveat (measured, r5): zip_with/aggregate are
CodegenFallback — they evaluate INTERPRETED, outside whole-stage
codegen, so per-row cost is fine for a single dot/norm per row but
M*K folds per row (PQ encode, brute-force fan-outs) run ~6x slower
than an Arrow pandas-UDF kernel. The hot ANN paths
(operators/similarity.py) therefore use Arrow kernels that replicate
these formulas bit-for-bit; these Column forms remain the
cross-engine-replayable reference and the right choice for
one-evaluation-per-row plans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product via zip_with + aggregate (interpreted — see the
    module caveat; use the Arrow kernels for M*K-per-row fan-outs)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    d = dot(a, b)
    n = norm(a) * norm(b)
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def as_double_array(a: Column | str) -> Column:
    """Promote array<float> to array<double> so all arithmetic happens
    in double (deterministic across engines)."""
    return _c(a).cast("array<double>")


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes for SimHash/LSH
    bucketing. Pure Python at plan-build time (tiny, broadcast as
    literals into the plan)."""
    import math
    import random as _random

    rng = _random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / s for x in v])
    return planes


def checked_dim(v: Column, dim: int, op: str) -> Column:
    """Pass ``v`` through iff its length equals ``dim``, else raise per
    row. A silent mismatch NULL-pads (or truncates) the hyperplane
    zip, every dot product goes NULL, every sign bit falls to 0, and
    ALL signatures collapse into one bucket — the bucketed join
    silently degenerates to the full quadratic cross product."""
    return F.when(F.size(v) == dim, v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: dim={dim} but embedding has "),
                F.size(v).cast("string"),
                F.lit(" dimensions"),
            )
        )
    )


def simhash_signature(a: Column | str, planes: list[list[float]]) -> Column:
    """Sign-random-projection signature as a BIGINT bit-pack (<=63
    planes): bit i set iff dot(v, plane_i) > 0."""
    if len(planes) > 63:
        raise ValueError("simhash_signature supports at most 63 planes")
    sig = F.lit(0).cast("bigint")
    v = _c(a)
    for i, plane in enumerate(planes):
        prods = F.zip_with(
            v,
            F.array(*[F.lit(float(x)) for x in plane]),
            lambda x, y: x * y,
        )
        d = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(d > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return sig
