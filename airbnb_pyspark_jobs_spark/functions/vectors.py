"""Vector math over array columns — JVM-side, no UDFs.

``F.zip_with`` + ``F.aggregate`` fold in array-index order with a double
accumulator, which matches an in-order SQL summation — the basis for the
cross-engine-reproducible similarity oracles. Elements are cast to
double FIRST so both engines accumulate in float64.

Scale: these are interpreted higher-order functions evaluated per row;
bulk scoring (many vectors × many centroids/queries) runs instead in
operators/similarity.py's Arrow vector-pass kernel, which reproduces
this fold order bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sum over zip_with products, folded in index order (float64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def abs_max(a: Column) -> Column:
    """Per-vector max |x| — the symmetric int8 quantization scale."""
    return F.array_max(F.transform(a, lambda x: F.abs(x)))


def quantize_int8(a: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: round(x / scale * 127). ``scale``
    MUST be a pre-projected column (lambda-inlining trap: an inlined
    array_max would re-reduce the array once per element). Zero vectors
    (scale = 0) quantize to all zeros."""
    return F.transform(
        a,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.round(x / scale * 127).cast("int"))
        .cast("int"),
    )


def int8_reconstruction_error(a: Column, scale: Column) -> Column:
    """Mean |x - dequantize(quantize(x))| per vector, computed
    element-wise from the original values (no zip needed) and folded in
    index order — reproducible cross-engine."""
    err = F.transform(
        a,
        lambda x: F.when(scale == 0.0, F.lit(0.0)).otherwise(
            F.abs(x - F.round(x / scale * 127) * scale / 127)
        ),
    )
    total = F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
    return total / F.size(a).cast("double")


def jl_signs(comp_idx: int, dims: int) -> list[int]:
    """Deterministic ±1 Johnson-Lindenstrauss projection row: parity of
    md5('jl{comp_idx}:{dim}') — the Achlioptas (2003) database-friendly
    JL construction (±1 entries, no Gaussians), made cross-engine
    reproducible the same way as the LSH hyperplanes."""
    import hashlib

    return [
        1
        if int(hashlib.md5(f"jl{comp_idx}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1
        for d in range(dims)
    ]


def jl_project(vec: Column, out_dim: int, dims: int) -> Column:
    """Project a ``dims``-d double array to ``out_dim`` components:
    y_j = dot(v, signs_j) / sqrt(out_dim). Each component is one
    index-order fold over ±1 literals — exact products, deterministic
    sum order, so projections are bitwise cross-engine. Scan-side only:
    no shuffle, the projection matrix lives in the plan as literals."""
    import math

    comps = [
        dot(vec, F.array(*[F.lit(float(s)) for s in jl_signs(j, dims)]))
        / F.lit(math.sqrt(float(out_dim)))
        for j in range(out_dim)
    ]
    return F.array(*comps)
