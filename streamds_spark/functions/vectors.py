"""Vector math over array<float>/array<double> columns — pure Catalyst
higher-order functions (zip_with + aggregate), no UDFs, so similarity scans
stay inside whole-stage codegen at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- random-hyperplane LSH primitives (shared by the ann_lsh_topk query and
# the persisted ANN index in operators/ann.py) ------------------------------


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible in any
    process (driver, executor, or a different engine) without sharing state."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane-{p}-{d}".encode()).hexdigest()[:7], 16)
            row.append((h % 2000) / 1000.0 - 1.0)  # uniform-ish in [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket_col(vcol: Column, planes: list[list[float]]) -> Column:
    """Hyperplane signature as an integer column (pure expressions): bit i is
    the sign of dot(v, plane_i)."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        pl = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(vcol, pl) >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_bucket_py(vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side twin of lsh_bucket_col — same left-to-right double math, so
    a probe's bucket can be computed WITHOUT Spark and pushed into the scan as
    a static partition filter."""
    bucket = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, p in zip(vec, plane):
            acc += float(x) * p
        if acc >= 0:
            bucket += 1 << i
    return bucket


# DuckDB fragment with matching semantics (explicit double math, same
# left-to-right summation; round(..., 4) on both sides absorbs FP noise).
def duckdb_cosine(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
    )
