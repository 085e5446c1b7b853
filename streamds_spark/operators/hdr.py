"""Log-linear (HDR-style) quantile sketch as a first-class MERGEABLE relation.

The repo already has two quantile paths: exact distributed ranks
(`operators/ranking.py`) and the GK-style `approx_percentile` twins
(`equidepth_approx_audit`). Both answer a one-shot question; neither yields
a PERSISTABLE, MERGEABLE quantile state. This module adds the third shape —
the one a 100 TB streaming ingest needs: a fixed-size register table
(bucket, cnt) in the family of HdrHistogram (Gil Tene, public domain) and
DDSketch (Masson, Rim & Lee, VLDB 2019), with guaranteed relative error,
merged across shards/batches by plain `union → groupBy(bucket).sum(cnt)`.

Unlike DDSketch's float `ceil(log_gamma(x))` bucketing — whose last-ulp
`ln()` differences across engines would break hash-exact checking — the
bucket function here is PURE INTEGER arithmetic (bit length + right shift),
so registers, merges, AND extracted quantiles are reproduced bit-for-bit by
the DuckDB oracle:

  k = 5 (SUBBITS), 2^k = 32 sub-buckets per octave
  x < 32        -> bucket = x                    (exact: lo = hi = x)
  x >= 32       -> shift  = bitlen(x) - 1 - k    (bitlen via bin()/printf %b)
                   bucket = shift * 32 + (x >> shift)
  inverse        : shift  = bucket DIV 32 - 1,  m = bucket - shift * 32
                   lo = m << shift,  hi = ((m + 1) << shift) - 1

The map is monotone and contiguous (x = 31 -> 31, x = 32 -> 32, the top
k+1 bits index within each octave), so rank queries against bucket order are
rank queries against value order. Relative error: a bucket's width is
2^shift - 1 over lo >= 32 * 2^shift, i.e. < 1/32 ~= 3.1%. Register count is
bounded by construction — at most 32 + 32 * 58 = 1888 buckets over the full
non-negative BIGINT range REGARDLESS of input size — which is why the
quantile extraction may run a cumulative window over it (allowlisted; the
window input is a fixed-size sketch, never the data).

Contract: values must be non-negative integers (cast/scale floats first —
e.g. centi-units via floor(value * 100), which is deterministic IEEE double
arithmetic both engines share). NULLs and negatives are excluded, matching
aggregate semantics. For general SIGNED metrics (deltas, P&L, z-scores) use
the `hdr_registers_signed` / `signed_bucket_expr` / `signed_bounds_exprs`
twins: negatives mirror into negative bucket ids (still monotone, still
pure-integer, register bound 2 × 1888) and only NULLs are excluded.

Reference parity: StreamDS has no sketch surface at all (its aggregates are
exact per-key counts, core_process_stream_DS.go); this extends the engine
the same way `operators/hll.py` extends distinct-counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUBBITS = 5
SUB = 1 << SUBBITS  # 32 sub-buckets per octave; rel. error < 1/32


def bucket_expr_spark(col: str) -> str:
    """Spark SQL expression mapping a non-negative bigint column to its bucket."""
    return (
        f"CASE WHEN {col} < {SUB} THEN CAST({col} AS INT) "
        f"ELSE CAST((length(bin({col})) - 1 - {SUBBITS}) * {SUB} "
        f"+ shiftright({col}, length(bin({col})) - 1 - {SUBBITS}) AS INT) END"
    )


def bucket_expr_duckdb(col: str) -> str:
    """DuckDB twin of bucket_expr_spark, character-for-character arithmetic."""
    return (
        f"CASE WHEN {col} < {SUB} THEN CAST({col} AS INTEGER) "
        f"ELSE CAST((length(printf('%b', {col})) - 1 - {SUBBITS}) * {SUB} "
        f"+ ({col} >> (length(printf('%b', {col})) - 1 - {SUBBITS})) AS INTEGER) END"
    )


def bounds_exprs(bucket_col: str = "bucket") -> tuple[str, str, str]:
    """(lo, hi, mid) SQL expressions inverting a bucket to its value range.

    Valid VERBATIM in both Spark and DuckDB, and engine-divergence-proof:
    - integer division is floor()+CAST (DuckDB CAST(double AS INT) ROUNDS
      while Spark truncates — never cast a fractional double);
    - pow(2, shift) is exact in IEEE doubles for any shift here, so its
      CAST is the same integer under both truncate and round semantics;
    - mid is built additively from exact power-of-two terms, never from
      (lo + hi) / 2, whose double sum degrades past 2^53.
    """
    b = bucket_col
    shift = f"(CAST(floor({b} / {SUB}) AS INT) - 1)"
    m = f"({b} - {shift} * {SUB})"
    p2 = f"CAST(pow(2, {shift}) AS BIGINT)"
    p2h = f"CAST(pow(2, {shift} - 1) AS BIGINT)"
    lo = (
        f"CASE WHEN {b} < {SUB} THEN CAST({b} AS BIGINT) "
        f"ELSE CAST({m} AS BIGINT) * {p2} END"
    )
    # hi = (m+1) * 2^shift - 1, but spelled lo + (2^shift - 1): the naive
    # order overflows INT64 on the topmost bucket ((m+1) * 2^shift = 2^63)
    hi = (
        f"CASE WHEN {b} < {SUB} THEN CAST({b} AS BIGINT) "
        f"ELSE CAST({m} AS BIGINT) * {p2} + ({p2} - 1) END"
    )
    mid = (
        f"CASE WHEN {b} < {SUB} THEN CAST({b} AS BIGINT) "
        f"WHEN {shift} = 0 THEN CAST({m} AS BIGINT) "
        f"ELSE CAST({m} AS BIGINT) * {p2} + {p2h} END"
    )
    return lo, hi, mid


def signed_bucket_expr(col: str, dialect: str) -> str:
    """Signed-value bucket map, valid in Spark ('spark') or DuckDB ('duckdb').

    Negative values mirror into negative bucket ids with no gap:

      v >= 0  ->  bucket(v)                      (ids 0 .. 1887)
      v <  0  ->  -1 - bucket(-(v + 1))          (ids -1 .. -1888)

    The mirrored operand is |v| - 1 spelled as -(v + 1), which is safe at
    BIGINT min (-(2^63) + 1 negates within range; a bare -v would overflow).
    The composite map is monotone over the whole signed range: v = -2 -> -2,
    v = -1 -> -1, v = 0 -> 0, v = 1 -> 1 — so cumulative-rank extraction
    works unchanged on bucket order. Relative error on the magnitude is the
    same < 1/32; register bound doubles to <= 2 * 1888.
    """
    base = bucket_expr_spark if dialect == "spark" else bucket_expr_duckdb
    mirrored = base(f"(-({col} + 1))")
    return (
        f"CASE WHEN {col} >= 0 THEN {base(col)} "
        f"ELSE -1 - ({mirrored}) END"
    )


def signed_bounds_exprs(bucket_col: str = "bucket") -> tuple[str, str, str]:
    """(lo, hi, mid) inverting a SIGNED bucket id to its value range.

    A negative id b holds the values whose mirrored operand |v| - 1 fell in
    the non-negative bucket -b - 1 with range [lo_p, hi_p], i.e.
    v in [-(hi_p + 1), -(lo_p + 1)] — the positive bounds flip AND swap.
    Valid verbatim in both engines, like bounds_exprs."""
    b = bucket_col
    lo_p, hi_p, mid_p = bounds_exprs(b)
    neg = f"(-({b}) - 1)"  # |bucket| mirror, >= 0 whenever b < 0
    lo_n, hi_n, mid_n = bounds_exprs(neg)
    lo = f"CASE WHEN {b} >= 0 THEN {lo_p} ELSE -({hi_n}) - 1 END"
    hi = f"CASE WHEN {b} >= 0 THEN {hi_p} ELSE -({lo_n}) - 1 END"
    mid = f"CASE WHEN {b} >= 0 THEN {mid_p} ELSE -({mid_n}) - 1 END"
    return lo, hi, mid


def hdr_registers_signed(
    df: DataFrame, value_expr: str, by: list[str] | None = None
) -> DataFrame:
    """(…by, bucket, cnt) register table for a SIGNED integer SQL expr —
    deltas, P&L, z-scored metrics. Same map-only + bounded-agg plan shape as
    hdr_registers; only NULLs are excluded."""
    by = by or []
    vals = df.selectExpr(*by, f"CAST({value_expr} AS BIGINT) AS v").where(
        "v IS NOT NULL"
    )
    b = vals.selectExpr(*by, f"{signed_bucket_expr('v', 'spark')} AS bucket")
    return b.groupBy(*by, "bucket").agg(F.count("*").alias("cnt"))


def hdr_registers(df: DataFrame, value_expr: str, by: list[str] | None = None) -> DataFrame:
    """(…by, bucket, cnt) register table for a non-negative integer SQL expr.

    One map-only pass + a bounded-key aggregate: partial (map-side) combine
    collapses every task's output to <= 1888 rows per group before the
    exchange, so the shuffle is kilobytes at any corpus size. The result IS
    the sketch — persist it per batch, union across shards, re-aggregate.
    """
    by = by or []
    vals = df.selectExpr(*by, f"CAST({value_expr} AS BIGINT) AS v").where(
        "v IS NOT NULL AND v >= 0"
    )
    b = vals.selectExpr(*by, f"{bucket_expr_spark('v')} AS bucket")
    return b.groupBy(*by, "bucket").agg(F.count("*").alias("cnt"))


def hdr_merge(*registers: DataFrame) -> DataFrame:
    """Merge sketches: union register tables, sum counts per bucket.
    Associative + commutative; NOT idempotent (counts add), so streaming
    replay safety comes from the appendlog's committed-batch manifests, the
    same discipline every counting aggregate in the pipeline relies on."""
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def hdr_quantiles(
    registers: DataFrame, qs: dict[str, float], signed: bool = False
) -> DataFrame:
    """(tag, rank, n, bucket, lo, hi, mid) per requested quantile.

    rank = ceil(q * n) clamped to >= 1; the answer bucket is the first whose
    cumulative count reaches the rank (cumulative window over the register
    table — bounded by construction, see module docstring — then a broadcast
    qs-join). All outputs are BIGINT: hash-exact across engines. With
    signed=True the registers came from hdr_registers_signed and bucket
    order still equals value order (the signed map is monotone), so only
    the bounds inversion changes.
    """
    spark = registers.sparkSession
    w_cum = (
        "SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    cum = registers.selectExpr("bucket", f"{w_cum} AS cum").crossJoin(
        F.broadcast(registers.agg(F.sum("cnt").alias("n")))
    )
    qdf = spark.createDataFrame(
        [(tag, float(q)) for tag, q in qs.items()], "tag string, q double"
    )
    hit = (
        F.broadcast(qdf)
        .join(
            cum,
            F.col("cum") >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n"))),
        )
        .groupBy("tag", "q")
        .agg(F.min("bucket").alias("bucket"), F.max("n").alias("n"))
    )
    lo, hi, mid = (signed_bounds_exprs if signed else bounds_exprs)("bucket")
    return hit.selectExpr(
        "tag",
        "CAST(greatest(1, ceil(q * n)) AS BIGINT) AS rank",
        "n",
        "CAST(bucket AS BIGINT) AS bucket",
        f"{lo} AS lo",
        f"{hi} AS hi",
        f"{mid} AS mid",
    )


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")
_NUMERIC_TYPES = _INTEGRAL_TYPES + ("float", "double", "decimal")


def column_quantiles(
    df: DataFrame,
    column: str,
    qs: dict[str, float],
    scale: int = 1,
    signed: bool = False,
) -> DataFrame:
    """hdr_quantiles of one numeric column of `df` (the server's and the
    CLI's `quantiles` verb). Non-integral columns, and integral ones when
    `scale` > 1, are sketched as floor(column * scale): a deterministic IEEE
    product, so `scale` sets the sub-unit resolution. signed=True uses the
    negative-mirror sketch, so negative values keep their mass. Raises
    ValueError for a column `df` lacks or that is not numeric; the column
    must name one of `df`'s columns exactly, so it is safe to interpolate."""
    dtype = dict(df.dtypes).get(column)
    if dtype is None:
        raise ValueError(f"no column {column!r}")
    if not dtype.startswith(_NUMERIC_TYPES):
        raise ValueError(f"{column} is {dtype}, not numeric")
    integral = dtype.startswith(_INTEGRAL_TYPES)
    expr = column if scale == 1 and integral else f"floor({column} * {int(scale)})"
    regs = (hdr_registers_signed if signed else hdr_registers)(df, expr)
    return hdr_quantiles(regs, qs, signed=signed)


def hdr_quantiles_by(
    registers: DataFrame,
    by: list[str],
    qs: dict[str, float],
    signed: bool = False,
) -> DataFrame:
    """(…by, tag, rank, n, bucket, lo, hi, mid) — per-group quantiles from a
    grouped register table (the `by=` output of hdr_registers).

    The cumulative window is PARTITIONED by the group columns, so extraction
    distributes across groups; within a group the window input is the
    bounded register table, never the data."""
    spark = registers.sparkSession
    part = ", ".join(by)
    w_cum = (
        f"SUM(cnt) OVER (PARTITION BY {part} ORDER BY bucket"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    w_n = f"SUM(cnt) OVER (PARTITION BY {part})"
    cum = registers.selectExpr(*by, "bucket", f"{w_cum} AS cum", f"{w_n} AS n")
    qdf = spark.createDataFrame(
        [(tag, float(q)) for tag, q in qs.items()], "tag string, q double"
    )
    hit = (
        cum.join(
            F.broadcast(qdf),
            F.col("cum") >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n"))),
        )
        .groupBy(*by, "tag", "q")
        .agg(F.min("bucket").alias("bucket"), F.max("n").alias("n"))
    )
    lo, hi, mid = (signed_bounds_exprs if signed else bounds_exprs)("bucket")
    return hit.selectExpr(
        *by,
        "tag",
        "CAST(greatest(1, ceil(q * n)) AS BIGINT) AS rank",
        "n",
        "CAST(bucket AS BIGINT) AS bucket",
        f"{lo} AS lo",
        f"{hi} AS hi",
        f"{mid} AS mid",
    )


def duckdb_hdr_quantiles_by_sql(
    source_sql: str, value_sql: str, by: list[str], qs: dict[str, float]
) -> str:
    """DuckDB twin of grouped hdr_registers + hdr_quantiles_by."""
    lo, hi, mid = bounds_exprs("bucket")
    part = ", ".join(by)
    q_values = ", ".join(f"('{t}', {float(v)!r})" for t, v in qs.items())
    return f"""
    WITH raw AS (
        SELECT {part}, CAST({value_sql} AS BIGINT) AS v FROM {source_sql}
    ),
    vals AS (SELECT * FROM raw WHERE v IS NOT NULL AND v >= 0),
    regs AS (
        SELECT {part}, {bucket_expr_duckdb('v')} AS bucket, count(*) AS cnt
        FROM vals GROUP BY ALL
    ),
    cum AS (
        SELECT {part}, bucket,
               SUM(cnt) OVER (PARTITION BY {part} ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(cnt) OVER (PARTITION BY {part}) AS n
        FROM regs
    ),
    qs(tag, q) AS (VALUES {q_values}),
    hit AS (
        SELECT {part}, tag, q, min(bucket) AS bucket, max(n) AS n
        FROM cum JOIN qs ON cum >= greatest(1, CAST(ceil(q * n) AS BIGINT))
        GROUP BY ALL
    )
    SELECT {part}, tag,
           CAST(greatest(1, CAST(ceil(q * n) AS BIGINT)) AS BIGINT) AS rank,
           CAST(n AS BIGINT) AS n,
           CAST(bucket AS BIGINT) AS bucket,
           {lo} AS lo,
           {hi} AS hi,
           {mid} AS mid
    FROM hit
    """


def duckdb_hdr_quantiles_sql(
    source_sql: str, value_sql: str, qs: dict[str, float]
) -> str:
    """DuckDB twin of hdr_registers + hdr_quantiles over `source_sql` (a
    relation expression) and `value_sql` (a non-negative integer expression
    over it). Same integer arithmetic, same rank rule."""
    lo, hi, mid = bounds_exprs("bucket")
    q_values = ", ".join(f"('{t}', {float(v)!r})" for t, v in qs.items())
    return f"""
    WITH raw AS (
        SELECT CAST({value_sql} AS BIGINT) AS v FROM {source_sql}
    ),
    vals AS (SELECT v FROM raw WHERE v IS NOT NULL AND v >= 0),
    regs AS (
        SELECT {bucket_expr_duckdb('v')} AS bucket, count(*) AS cnt
        FROM vals GROUP BY 1
    ),
    cum AS (
        SELECT bucket,
               SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               (SELECT SUM(cnt) FROM regs) AS n
        FROM regs
    ),
    qs(tag, q) AS (VALUES {q_values}),
    hit AS (
        SELECT tag, q, min(bucket) AS bucket, max(n) AS n
        FROM qs JOIN cum ON cum >= greatest(1, CAST(ceil(q * n) AS BIGINT))
        GROUP BY tag, q
    ),
    picked AS (
        SELECT tag,
               CAST(greatest(1, CAST(ceil(q * n) AS BIGINT)) AS BIGINT) AS rank,
               CAST(n AS BIGINT) AS n,
               CAST(bucket AS BIGINT) AS bucket,
               {lo} AS lo,
               {hi} AS hi,
               {mid} AS mid
        FROM hit
    )
    SELECT tag, rank, n, bucket, lo, hi, mid FROM picked
    """


def duckdb_hdr_quantiles_signed_sql(
    source_sql: str, value_sql: str, qs: dict[str, float]
) -> str:
    """DuckDB twin of hdr_registers_signed + hdr_quantiles(signed=True):
    same signed bucket map, same rank rule, signed bounds inversion."""
    lo, hi, mid = signed_bounds_exprs("bucket")
    q_values = ", ".join(f"('{t}', {float(v)!r})" for t, v in qs.items())
    return f"""
    WITH raw AS (
        SELECT CAST({value_sql} AS BIGINT) AS v FROM {source_sql}
    ),
    vals AS (SELECT v FROM raw WHERE v IS NOT NULL),
    regs AS (
        SELECT {signed_bucket_expr('v', 'duckdb')} AS bucket, count(*) AS cnt
        FROM vals GROUP BY 1
    ),
    cum AS (
        SELECT bucket,
               SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               (SELECT SUM(cnt) FROM regs) AS n
        FROM regs
    ),
    qs(tag, q) AS (VALUES {q_values}),
    hit AS (
        SELECT tag, q, min(bucket) AS bucket, max(n) AS n
        FROM qs JOIN cum ON cum >= greatest(1, CAST(ceil(q * n) AS BIGINT))
        GROUP BY tag, q
    ),
    picked AS (
        SELECT tag,
               CAST(greatest(1, CAST(ceil(q * n) AS BIGINT)) AS BIGINT) AS rank,
               CAST(n AS BIGINT) AS n,
               CAST(bucket AS BIGINT) AS bucket,
               {lo} AS lo,
               {hi} AS hi,
               {mid} AS mid
        FROM hit
    )
    SELECT tag, rank, n, bucket, lo, hi, mid FROM picked
    """
