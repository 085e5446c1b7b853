"""Generic incremental materialized view — keyed SUM/COUNT/MIN/MAX (and
derived AVG) maintained per trigger, folded exactly at read time.

The middle of the repo's incremental-computation ladder: the result cache
(io/resultcache.py) serves REPEATED queries over unchanged data; the
bespoke streaming twins (attribution, journeys, funnel) maintain custom
state machines; this store covers the broad middle — any groupBy-aggregate
dashboard view — with zero custom code: declare keys + aggregates, and the
stream maintains per-trigger PARTIAL aggregates that re-aggregate at read
into exactly the one-pass batch answer.

Why these aggregates: SUM and COUNT are additive, MIN and MAX are
idempotent-mergeable — all four fold exactly from per-trigger partials
(AVG derives as SUM/COUNT at read, never stored). Exact COUNT DISTINCT is
deliberately absent: distinct does not fold from scalar partials —
declaring it as a sum would silently double-count. The opt-in
`approx_distinct` aggregate (round 10) answers the category with the
repo's own mergeable sketch: each trigger stores the key's KMV state (the
k smallest md5_int60 hashes of the batch's distinct values, an
array<bigint> partial bounded at k), the fold takes the bottom-k of the
per-trigger bottom-ks (exactly the whole-data sketch, kmv_merge's
theorem), and the read derives the Beyer et al. DV estimate — EXACT below
k distinct values per key, ~1/sqrt(k-2) standard error beyond (6.3% at
the default k=256). Same discipline as the HLL register store, but keyed
per view row and carried inside the view's own partials.

Scale shape: per-trigger state is one row per key PRESENT IN THE BATCH
(not the key universe), written as a batch=N dir under the same
overwrite-by-batchId idempotence as every pipeline store; the read-time
fold is a groupBy over (keys in store) x (committed dirs) rows, and
compact_view folds dirs row-preserving (readers re-aggregate, so the fold
never changes the view). The exact recount this replaces rescans the
corpus per refresh; here the corpus is scanned once per trigger, ever.

Takedown (round 10, per VERDICT r9 item 4): the one persistent store that
had no delete path. Two answers, matched to what each aggregate can do:

* SUM/COUNT/AVG subtract exactly — `delete_from_view(deleted_rows)` writes
  one NEGATIVE-delta partial dir (`delta-<ns>-<uuid>`, _SUCCESS-committed)
  whose rows are `view_batch_state(deleted_rows)` with every partial
  negated; the read-time fold cancels the deleted contribution to the
  last unit. Replay-safe by construction: a replayed source batch rewrites
  its batch=N dir with IDENTICAL rows (partials are a pure function of the
  batch), the delta dir is not a batch dir so nothing overwrites it, and
  the negative rows are counted exactly once. Every stored row carries an
  implicit `__rows` presence count, so a key whose rows are ALL deleted
  folds to __rows = 0 and disappears from the view exactly as it would
  from a batch aggregate over the remaining source.
* pNN quantile histograms subtract exactly too (per-bucket counts are
  additive) — a takedown leaves the quantile sketch equal to the batch
  sketch over the remaining rows to the last unit.
* MIN/MAX cannot subtract (dropping the minimum leaves the store not
  knowing the runner-up) — `rebuild_view(remaining_src)` is the documented
  sketch-store discipline: recompute the partials from the remaining
  source and swap them in as one `segment=<hi>` dominating every batch
  dir present (committed OR torn — a torn dir can be replay-rewritten),
  so a later replay rewrites a dir readers skip. Quiesce the stream for
  the swap, same as rebuild_sketch_stores.
* MIN_LADDER/MAX_LADDER (round 11, per VERDICT r10 item 6) answer exactly
  like min/max but carry runner-up knowledge: each trigger stores the
  ladder_j extreme DISTINCT values with their row counts plus a coverage
  bound (NULL when the trigger recorded every distinct value). Per-value
  counts are additive, so a takedown writes a FULL value census of the
  deleted rows as a negative delta and the fold's surviving-candidate is
  the exact extreme whenever it sits inside the folded coverage bound.
  Only ladder EXHAUSTION (deletions eat past the recorded runner-ups of
  some key while rows remain) falls back to rebuild_view — detected by a
  pre-commit simulation that refuses before writing anything, so a store
  that holds a committed ladder delta always folds exactly.

Delta dirs are bounded by takedown count (tiny: one row per affected
key), are folded away by the next rebuild_view, and survive compact_view
untouched (the segment fold only covers batch dirs).
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streamds_spark.functions.hashing import md5_int60
from streamds_spark.io import batchstore
from streamds_spark.streaming.engine import parquet_stream, start_batches
from streamds_spark.streaming.llm_pipeline import _append_takedown_audit

_KINDS = (
    "sum",
    "count",
    "min",
    "max",
    "avg",
    "approx_distinct",
    "min_ladder",
    "max_ladder",
)
# plus quantile kinds "p1".."p99" (validated by regex): per-key HDR
# log-linear histogram partials (operators/hdr.py — <= 1888 buckets per key
# REGARDLESS of data size, rel. error < 1/32), folded by per-bucket SUM and
# read out with hdr_quantiles' exact rank convention. Histogram counts are
# ADDITIVE, so unlike min/max these takedown-subtract exactly.
_PQUANT_RE = re.compile(r"^p([1-9][0-9]?)$")

# KMV sketch size for approx_distinct partials: k smallest md5_int60 hashes
# of the column's distinct values per key per trigger (operators/kmv.py —
# the mergeable distinct-count state). Standard error of the DV estimator is
# ~1/sqrt(k-2) (Beyer et al. SIGMOD'07): k=256 -> ~6.3%. EXACT whenever the
# key's true distinct count is under k (the sketch simply holds every hash).
VIEW_KMV_K = 256
_HASH_SPAN = float(1 << 60)  # md5_int60 hashes are uniform in [0, 2^60)

# Ladder depth for min_ladder/max_ladder partials: the J smallest (largest)
# DISTINCT values per key per trigger, each with its count of source rows —
# enough runner-up knowledge to survive takedowns of up to J-1 extreme
# distinct values per key without a rebuild. J=4 keeps the partial tiny
# (4 struct entries/key/trigger) while covering the common takedown shape
# (a handful of doomed docs per action); raise it for takedown-heavy views.
VIEW_LADDER_J = 4
_LADDER_KINDS = ("min_ladder", "max_ladder")

# Implicit presence partial on every stored row: SUM of it is the number of
# source rows behind the key, so a fully-deleted key folds to 0 and is
# dropped — without it a negative-delta takedown would leave zero-valued
# ghost rows where the batch aggregate over the remaining source has none.
_ROWS = "__rows"


@dataclass(frozen=True)
class ViewSpec:
    """keys: grouping columns. aggs: {out_col: (kind, in_col)} with kind in
    sum|count|min|max|avg|approx_distinct|min_ladder|max_ladder|p1..p99;
    count ignores in_col (count(*)); avg is stored as its sum/count parts
    and derived at read; approx_distinct stores a KMV array; pNN stores an
    HDR histogram array and derives the quantile's integer mid value at
    read; min_ladder/max_ladder answer EXACTLY like min/max but store the
    ladder_j extreme distinct values with counts (plus a coverage bound),
    which makes them takedown-subtractable until a key's ladder is
    exhausted (delete_from_view then refuses with the rebuild signal)."""

    keys: "tuple[str, ...]"
    aggs: "dict[str, tuple[str, str | None]]" = field(default_factory=dict)
    # KMV sketch size for approx_distinct aggregates (error ~1/sqrt(k-2);
    # exact below k distinct values per key)
    kmv_k: int = VIEW_KMV_K
    # ladder depth for min_ladder/max_ladder aggregates
    ladder_j: int = VIEW_LADDER_J

    def __post_init__(self):
        if not self.keys or not self.aggs:
            raise ValueError("ViewSpec needs at least one key and one aggregate")
        for out, (kind, col) in self.aggs.items():
            if kind not in _KINDS and not _PQUANT_RE.match(kind):
                raise ValueError(f"ViewSpec: unknown aggregate kind {kind!r}")
            if kind != "count" and not col:
                raise ValueError(f"ViewSpec: {out}: {kind} needs a column")
        # avg expands to <name>__sum/<name>__cnt stored partials: a sibling
        # aggregate literally named that would alias-collide at stream
        # runtime (duplicate parquet column) — fail at spec time instead
        stored = [name for name, _kind, _col in _partial_cols(self)]
        if len(stored) != len(set(stored)):
            dupes = sorted({s for s in stored if stored.count(s) > 1})
            raise ValueError(
                f"ViewSpec: stored partial name collision {dupes} — an avg "
                "named X reserves X__sum and X__cnt; an approx_distinct "
                "named X reserves X__kmv; a min_ladder/max_ladder named X "
                "reserves X__lad and X__bnd"
            )
        if self.kmv_k <= 1:
            raise ValueError("ViewSpec: kmv_k must be > 1")
        if self.ladder_j < 1:
            raise ValueError("ViewSpec: ladder_j must be >= 1")
        if _ROWS in stored or _ROWS in self.keys:
            raise ValueError(
                f"ViewSpec: {_ROWS!r} is reserved for the implicit presence "
                "count partial"
            )
        # the ladder/pNN plans bind internal working columns (__v, __c,
        # __rn, __arr, __net, ...) — a key or output named into that
        # namespace would be clobbered mid-plan (loudly, but as an
        # UNRESOLVED_COLUMN from deep inside a trigger, not here). Scoped
        # to specs that USE those plans: a plain sum/count/min/max view
        # never touches dunder internals, and a legacy PERSISTED spec with
        # such a key must keep loading (spec_from_dict re-validates here —
        # a blanket refusal would brick delete_docs' manifest walk and
        # with it every corpus takedown on the work dir)
        if any(
            kind in _LADDER_KINDS or _PQUANT_RE.match(kind)
            for kind, _c in self.aggs.values()
        ):
            for c in (*self.keys, *self.aggs):
                if c.startswith("__"):
                    raise ValueError(
                        f"ViewSpec: {c!r} — names starting with '__' "
                        "collide with the ladder/quantile plans' internal "
                        "working columns"
                    )


def _join_null_safe(
    left: DataFrame, right: DataFrame, keys: "tuple[str, ...]", how: str = "left"
) -> DataFrame:
    """Left-join on the view keys with NULL-SAFE equality. groupBy treats a
    NULL key value as a real group, but a plain equi-join never matches NULL
    keys — so a pNN histogram attached with `join(keys)` would silently read
    NULL for the NULL-key group while sum/count/avg (computed in the same
    groupBy) are correct, breaking the fold == one-pass-batch contract for
    nullable view keys. eqNullSafe (SQL <=>) matches NULL to NULL, which is
    exactly groupBy's grouping equivalence."""
    ren = {k: f"__vsj_{k}" for k in keys}
    r = right
    for k, rk in ren.items():
        r = r.withColumnRenamed(k, rk)
    cond = None
    for k, rk in ren.items():
        c = F.col(k).eqNullSafe(F.col(rk))
        cond = c if cond is None else (cond & c)
    return left.join(r, cond, how).drop(*ren.values())


def _partial_cols(spec: ViewSpec) -> "list[tuple[str, str, str]]":
    """Flatten to stored partial columns: [(stored_name, kind, in_col)].
    avg expands to a sum and a count partial."""
    out = []
    for name, (kind, col) in spec.aggs.items():
        if kind == "avg":
            out.append((f"{name}__sum", "sum", col))
            out.append((f"{name}__cnt", "count", col))
        elif kind == "approx_distinct":
            out.append((f"{name}__kmv", "approx_distinct", col))
        elif kind in _LADDER_KINDS:
            # the ladder itself plus its coverage bound (the farthest
            # recorded value when the trigger truncated, NULL when the
            # trigger recorded every distinct value of the key)
            out.append((f"{name}__lad", kind, col))
            out.append((f"{name}__bnd", f"{kind}__bnd", col))
        elif _PQUANT_RE.match(kind):
            out.append((f"{name}__hdr", kind, col))
        else:
            out.append((name, kind, col))
    return out


def view_batch_state(
    df: DataFrame, spec: ViewSpec, ladder_full: bool = False
) -> DataFrame:
    """One trigger's partial aggregates: groupBy keys, one row per key
    present in the batch. Pure function of the batch — replays rewrite
    identical rows.

    `ladder_full=True` (delete_from_view's delta mode only) records EVERY
    distinct value of a ladder column instead of the J extremes, with a
    NULL coverage bound: a negative delta must subtract the deleted rows'
    full value census — a truncated delta would leave folded counts that
    OVERSTATE what remains (recorded - partially_deleted > remaining),
    which could keep a fully-deleted value looking alive. Delta size is
    bounded by the takedown (distinct values among the deleted rows), not
    by the corpus."""
    aggs = []
    for stored, kind, col in _partial_cols(spec):
        if kind == "sum":
            aggs.append(F.sum(col).alias(stored))
        elif kind == "count":
            # count the aggregate's column when given (avg semantics:
            # nulls don't count), else count(*)
            aggs.append(
                (F.count(col) if col else F.count(F.lit(1)))
                .cast("bigint")
                .alias(stored)
            )
        elif kind == "min":
            aggs.append(F.min(col).alias(stored))
        elif kind == "max":
            aggs.append(F.max(col).alias(stored))
        elif kind == "approx_distinct":
            # the key's KMV state for this trigger: the k smallest hashes of
            # the batch's distinct values (collect_set dedupes by hash —
            # equal values hash equally — and skips NULLs, matching COUNT
            # DISTINCT semantics); bounded at k bigints per key per trigger
            aggs.append(
                F.slice(
                    F.array_sort(
                        F.collect_set(md5_int60(F.col(col)))
                    ),
                    1,
                    spec.kmv_k,
                ).alias(stored)
            )
        # pNN quantile partials are joined on below (they need a per-bucket
        # pre-aggregate the single groupBy cannot express)
    aggs.append(F.count(F.lit(1)).cast("bigint").alias(_ROWS))
    base = df.groupBy(*spec.keys).agg(*aggs)
    for stored, kind, col in _partial_cols(spec):
        if not _PQUANT_RE.match(kind):
            continue
        # the key's HDR log-linear histogram for this trigger: per-bucket
        # counts of the column's non-negative integer values (NULLs and
        # negatives excluded, the hdr_registers contract), stored as a
        # sorted array<struct<b,c>> bounded at 1888 entries per key —
        # ADDITIVE state, so deltas subtract exactly at read
        from streamds_spark.operators.hdr import bucket_expr_spark

        hist = (
            df.selectExpr(
                *spec.keys, f"CAST({col} AS BIGINT) AS __v"
            )
            .where("__v IS NOT NULL AND __v >= 0")
            .selectExpr(*spec.keys, f"{bucket_expr_spark('__v')} AS __b")
            .groupBy(*spec.keys, "__b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
            .groupBy(*spec.keys)
            # working columns are dunder-namespaced (a key named 'b' or
            # 'c' must not be clobbered); the STRUCT FIELDS stay b/c —
            # they are the on-disk partial schema
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__b").alias("b"), F.col("__c").alias("c")
                        )
                    )
                ).alias(stored)
            )
        )
        base = _join_null_safe(base, hist, spec.keys)
    for stored, kind, col in _partial_cols(spec):
        if kind not in _LADDER_KINDS:
            continue
        # the key's ladder for this trigger: the J smallest (min_ladder) or
        # largest (max_ladder) DISTINCT non-NULL values with their source
        # row counts, as a v-ascending array<struct<v,c>>, plus the
        # coverage bound __bnd = the farthest recorded value when the
        # trigger held MORE distinct values than J (NULL = full coverage).
        # Distinct-value counts are ADDITIVE per (key, value), which is
        # what lets a negative delta subtract them exactly at fold time;
        # the bound is what makes partial coverage DETECTABLE (a candidate
        # beyond every bound might be beaten by an unrecorded value).
        j = spec.ladder_j
        name = stored[: -len("__lad")]
        cen = (
            df.select(*spec.keys, F.col(col).alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy(*spec.keys, "__v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        )
        if not ladder_full:
            # bound the per-key intermediate BEFORE collecting: keep only
            # the J+1 extreme distinct values per key (J+1 so truncation
            # stays detectable as size > J) — without this rank filter a
            # high-cardinality ladder column (e.g. a per-row id) would
            # collect the key's ENTIRE distinct census into one array row
            # just to keep J of it. WindowExec sorts/spills per key; the
            # collected array is <= J+1 entries regardless of data size.
            from pyspark.sql import Window

            order = (
                F.col("__v").asc()
                if kind == "min_ladder"
                else F.col("__v").desc()
            )
            w = Window.partitionBy(*spec.keys).orderBy(order)
            cen = (
                cen.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= j + 1)
                .drop("__rn")
            )
        per_key = cen.groupBy(*spec.keys).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__v").alias("v"), F.col("__c").alias("c"))
                )
            ).alias("__arr")
        )
        arr = F.col("__arr")
        n = F.size(arr)
        if ladder_full:
            lad = arr
            bnd = F.when(F.lit(False), F.element_at(arr, 1)["v"])  # typed NULL
        elif kind == "min_ladder":
            lad = F.when(n > j, F.slice(arr, 1, j)).otherwise(arr)
            bnd = F.when(n > j, F.element_at(arr, j)["v"])
        else:
            lad = F.when(n > j, F.slice(arr, -j, j)).otherwise(arr)
            bnd = F.when(n > j, F.element_at(arr, -j)["v"])
        base = _join_null_safe(
            base,
            per_key.select(
                *spec.keys, lad.alias(stored), bnd.alias(f"{name}__bnd")
            ),
            spec.keys,
        )
    return base


def _ladder_pick(kind: str):
    """The fold direction shared by every ladder reduction: candidate pick
    (extreme surviving value), coverage-bound fold (tightest bound is the
    LARGEST-coverage-limiting one on the same side), and the stored-bnd
    fold in view_fold's main groupBy all reduce min-ladder state with MIN
    and max-ladder state with MAX."""
    return F.min if kind.startswith("min_ladder") else F.max


def _ladder_surviving_candidates(
    store: DataFrame, spec: ViewSpec, name: str, kind: str, out: str
) -> DataFrame:
    """Per-key extreme value whose folded net count proves survival: net =
    sum of positive ladder counts minus delta censuses per (key, value) —
    a SOUND lower bound on the value's remaining rows (recorded <= total,
    deletions counted in full) — then the extreme value with net > 0.
    The SINGLE definition behind both view_fold's read path and
    delete_from_view's pre-commit exhaustion simulation: the refusal
    guarantee only holds while the guard computes exactly what the fold
    will."""
    return (
        store.select(*spec.keys, F.explode(f"{name}__lad").alias("__e"))
        .groupBy(*spec.keys, F.col("__e.v").alias("__v"))
        .agg(F.sum("__e.c").alias("__net"))
        .where(F.col("__net") > 0)
        .groupBy(*spec.keys)
        .agg(_ladder_pick(kind)("__v").alias(out))
    )


def _ladder_covered(kind: str, cand, bnd):
    """True when the candidate is provably the exact extreme: inside the
    folded tightest coverage bound (every value on the extreme side of the
    bound is fully recorded, so anything more extreme with net <= 0 is
    truly gone). NULL bound = full coverage. NULL candidate yields NULL
    (the caller decides whether that means proven-empty or exhaustion)."""
    beyond = cand > bnd if kind == "min_ladder" else cand < bnd
    return bnd.isNull() | ~beyond


def view_fold(store: DataFrame, spec: ViewSpec) -> DataFrame:
    """Re-aggregate stored partials into the view: sum-of-sums,
    sum-of-counts, min-of-mins, max-of-maxes; avg = folded sum / folded
    count. Equals the one-pass batch aggregate over the union of all
    trigger inputs EXACTLY (additive / idempotent merges)."""
    folds = []
    for stored, kind, _col in _partial_cols(spec):
        if _PQUANT_RE.match(kind) or kind in _LADDER_KINDS:
            continue  # histogram/ladder partials fold separately below
        if kind.endswith("__bnd"):
            # tightest coverage constraint across dirs: values on the
            # extreme side of every dir's bound are FULLY recorded. The
            # fold skips NULL bounds (full-coverage dirs and delta dirs
            # constrain nothing); all-NULL folds to NULL = unbounded.
            folds.append(_ladder_pick(kind)(stored).alias(stored))
            continue
        if kind in ("sum", "count"):
            f = F.sum(stored)
            if kind == "count":
                f = f.cast("bigint")
        elif kind == "min":
            f = F.min(stored)
        elif kind == "approx_distinct":
            # bottom-k of the per-trigger bottom-ks == bottom-k of the whole
            # (a hash in the union's bottom k is in its trigger's bottom k
            # a fortiori) — the same mergeability theorem as kmv_merge
            f = F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(stored)))
                ),
                1,
                spec.kmv_k,
            )
        else:
            f = F.max(stored)
        folds.append(f.alias(stored))
    # a key whose source rows were ALL taken down folds to zero presence —
    # it must vanish from the view exactly as it would from a batch
    # aggregate over the remaining source. Legacy tolerance: dirs written
    # before the __rows presence partial existed read it as NULL (or the
    # whole column is absent on a pure-legacy store) — coalesce each such
    # partial row to presence 1, so a legacy key can never vanish
    # spuriously. Presence arithmetic is only load-bearing against
    # negative-delta takedowns, and delete_from_view REFUSES stores
    # carrying legacy rows (their true presence is unknowable), so the
    # coalesce is exact wherever deltas can exist.
    has_rows = _ROWS in store.columns
    if has_rows:
        folds.append(
            F.sum(F.coalesce(F.col(_ROWS), F.lit(1))).cast("bigint").alias(_ROWS)
        )
    folded = store.groupBy(*spec.keys).agg(*folds)
    if has_rows:
        folded = folded.where(F.col(_ROWS) > 0).drop(_ROWS)
    # derive pNN quantile outputs from the folded histograms: per-bucket
    # SUM across dirs (negative deltas cancel exactly), then the
    # hdr_quantiles rank convention — rank = greatest(1, ceil(q*n)), answer
    # = first bucket whose cumulative count reaches it, output = the
    # bucket's integer mid value. The cumulative window is PARTITIONED BY
    # the view keys over <= 1888 buckets per key (never the data).
    for name, (kind, _col) in spec.aggs.items():
        m = _PQUANT_RE.match(kind)
        if not m:
            continue
        from pyspark.sql import Window

        from streamds_spark.operators.hdr import bounds_exprs

        q = int(m.group(1)) / 100.0
        stored = f"{name}__hdr"
        hb = (
            # plain explode drops NULL histograms (keys whose rows were all
            # NULL/negative for this column) — exactly the wanted semantics.
            # Working columns are dunder-namespaced: a bare 'b'/'c'/'cum'/
            # 'n' would silently CLOBBER a view key of that name (withColumn
            # replaces; the later groupBy would group on counts, attaching
            # wrong-row quantiles) — the dunder guard in __post_init__ is
            # the other half of this contract
            store.select(*spec.keys, F.explode(stored).alias("__e"))
            .groupBy(*spec.keys, F.col("__e.b").alias("__b"))
            .agg(F.sum("__e.c").alias("__c"))
            .where(F.col("__c") > 0)
        )
        w_cum = (
            Window.partitionBy(*spec.keys)
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*spec.keys)
        _lo, _hi, mid = bounds_exprs("__b")
        qcol = (
            hb.withColumn("__cum", F.sum("__c").over(w_cum))
            .withColumn("__n", F.sum("__c").over(w_all))
            .where(
                F.col("__cum")
                >= F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("__n")))
            )
            .groupBy(*spec.keys)
            .agg(F.min("__b").alias("__b"))
            .selectExpr(*spec.keys, f"CAST({mid} AS BIGINT) AS {name}")
        )
        folded = _join_null_safe(folded, qcol, spec.keys)

    # derive min_ladder/max_ladder outputs: per (key, value) the folded
    # net count (positive ladders minus delta censuses) is a SOUND lower
    # bound on the value's remaining rows (recorded <= total, deletions
    # counted in full by the full-census delta), so net > 0 proves the
    # value survives; the candidate is the extreme surviving value. It is
    # the EXACT min/max whenever it sits inside the folded coverage bound
    # (every value on the extreme side of the bound is fully recorded, so
    # anything smaller/larger with net <= 0 is truly gone). A candidate
    # beyond the bound could be beaten by an unrecorded value —
    # delete_from_view refuses any takedown that would create that state
    # (the exhaustion pre-check), so a committed store never folds NULL
    # here except for keys whose column is all-NULL (matching batch
    # min/max semantics).
    for name, (kind, _col) in spec.aggs.items():
        if kind not in _LADDER_KINDS:
            continue
        bnd_col = f"{name}__bnd"
        cand = _ladder_surviving_candidates(store, spec, name, kind, name)
        folded = _join_null_safe(folded, cand, spec.keys)
        covered = _ladder_covered(kind, F.col(name), F.col(bnd_col))
        folded = folded.withColumn(name, F.when(covered, F.col(name))).drop(
            bnd_col
        )

    # derive avg / approx_distinct outputs, drop their partials
    for name, (kind, _col) in spec.aggs.items():
        if kind == "avg":
            folded = folded.withColumn(
                name, F.col(f"{name}__sum") / F.col(f"{name}__cnt")
            ).drop(f"{name}__sum", f"{name}__cnt")
        elif kind == "approx_distinct":
            # the KMV DV estimator (Beyer et al. SIGMOD'07): exact when the
            # sketch is under k (it holds every distinct hash), else
            # (k-1) / U_(k) with U_(k) = kth_hash / 2^60 — one IEEE
            # expression, rounded at 4dp (+0.0 normalizes IEEE -0)
            arr = F.col(f"{name}__kmv")
            n = F.size(arr)
            kth = F.element_at(arr, spec.kmv_k).cast("double")
            folded = folded.withColumn(
                name,
                F.when(n < spec.kmv_k, n.cast("double")).otherwise(
                    F.round(
                        F.lit(float(spec.kmv_k - 1)) * F.lit(_HASH_SPAN) / kth,
                        4,
                    )
                    + 0.0
                ),
            ).drop(f"{name}__kmv")
    return folded


def write_view_batch(
    df: DataFrame, batch_id: int, store_dir: str, spec: ViewSpec
) -> None:
    """foreachBatch body: overwrite-by-batchId idempotent partial write."""
    batchstore.write(view_batch_state(df, spec), store_dir, batch_id)


def run_view_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    spec: ViewSpec,
    max_files_per_trigger: "int | None" = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the view over a parquet directory stream. work_dir holds
    the checkpoint and the partials store."""
    store_dir = os.path.join(work_dir, "view_store")
    return start_batches(
        parquet_stream(spark, src_dir, max_files_per_trigger),
        os.path.join(work_dir, "checkpoint"),
        lambda df, bid: write_view_batch(df, bid, store_dir, spec),
        available_now=available_now,
    )


def view_report(
    spark: SparkSession,
    work_dir: str,
    spec: ViewSpec,
    src_schema=None,
    recover: bool = True,
) -> DataFrame:
    """The maintained view: fold every committed trigger dir. Read cost is
    (keys-in-batch rows) x (committed dirs) at any corpus size.

    Empty store: with `src_schema` (the source table's StructType), the
    empty view carries the REAL output types (derived by running the spec
    over an empty frame of that schema — unionable, parquet-writable);
    without it, a best-effort null-typed empty frame with the right column
    names (fine for count()/collect(), not for writing).

    `recover=False` skips the interrupted-rebuild self-heal (which
    completes a committed rename — benign, but a mutation): strictly
    read-only callers (the server's view_report verb) pass False; an
    interrupted rebuild then reads as pre-rebuild state or empty until a
    writing caller heals it."""
    store_dir = os.path.join(work_dir, "view_store")
    if recover:
        _recover_interrupted_rebuild(store_dir)
    dirs = batchstore.committed(store_dir) + _committed_delta_dirs(store_dir)
    if not dirs:
        if src_schema is not None:
            empty_src = spark.createDataFrame([], src_schema)
            return view_fold(view_batch_state(empty_src, spec), spec).limit(0)
        empty = spark.createDataFrame([], "k string")  # placeholder
        cols = list(spec.keys) + list(spec.aggs)
        return empty.select(*[F.lit(None).alias(c) for c in cols]).limit(0)
    # mergeSchema: a MIXED store (legacy dirs without __rows + new dirs
    # with it) must surface the column as nullable rather than let schema
    # sampling pick one footer — without it, sampling a legacy footer drops
    # __rows from the delta dirs (ghost rows survive) and sampling a new
    # footer reads legacy keys' presence as the filtered-out NULL
    return view_fold(
        spark.read.option("mergeSchema", "true").parquet(*dirs), spec
    )


def _recover_interrupted_rebuild(store_dir: str) -> None:
    """Complete a rebuild_view commit that crashed between its two renames:
    a committed `segment=<n>.rebuild` with no live `segment=<n>` is the
    signature (the aside rename happened, the install rename didn't) — the
    rebuild data is complete (_SUCCESS), so finishing the install is pure
    forward progress. Aside dirs (`segment=<n>.old-*`) are reclaimed only
    once their segment exists. Idempotent; called by readers and by
    rebuild_view itself, so an interrupted rebuild self-heals on the next
    touch instead of presenting an empty view."""
    for tmp in _glob.glob(os.path.join(store_dir, "segment=*.rebuild")):
        seg = tmp[: -len(".rebuild")]
        if os.path.exists(os.path.join(tmp, "_SUCCESS")) and not os.path.isdir(
            seg
        ):
            if not os.path.exists(os.path.join(tmp, _SUBSUMED_MANIFEST)):
                # the rebuild crashed between its parquet write (tmp has
                # _SUCCESS) and its manifest write: installing a
                # manifest-less segment would let the never-reclaimed
                # pre-rebuild deltas subtract AGAIN on top of the rebuilt
                # partials. Regenerate before install — under the rebuild's
                # quiesce contract the deltas on disk now ARE the set it
                # captured, plus any earlier memory to carry forward.
                _write_subsumed_manifest(tmp, _capture_subsumed(store_dir))
            try:
                os.replace(tmp, seg)
            except OSError:
                pass  # a racer completed it; the aside sweep below decides
    for aside in _glob.glob(os.path.join(store_dir, "segment=*.old-*")):
        seg = aside.split(".old-", 1)[0]
        if os.path.exists(os.path.join(seg, "_SUCCESS")):
            shutil.rmtree(aside, ignore_errors=True)


def _swap_asides(store_dir: str) -> "list[str]":
    """rebuild_view's `segment=<n>.rebuild` and `segment=<n>.old-*` dirs."""
    return _glob.glob(os.path.join(store_dir, "segment=*.*"))


def _reclaim_subsumed_deltas(store_dir: str) -> None:
    """Disk hygiene for WRITERS only (delete_from_view / rebuild_view /
    compact_view): remove delta dirs a live manifest subsumes. Correctness
    never depends on this — readers exclude them via the manifest — and
    keeping it out of the read path means a reader can never rmtree a dir
    a concurrent writer just committed and is about to read back."""
    sub = _subsumed_delta_basenames(store_dir)
    if sub:
        for d in _raw_committed_delta_dirs(store_dir):
            if os.path.basename(d) in sub:
                shutil.rmtree(d, ignore_errors=True)


_SUBSUMED_MANIFEST = "_subsumed_deltas.json"
# store-level twin of the in-segment manifests: the segment manifest gives
# ATOMIC activation (exclusion becomes visible exactly when the rebuilt
# segment does), but segments are mortal carriers (compaction folds them
# away) — writers promote the union into this durable root-level file
# before any fold, so the applied-takedown memory survives every segment's
# death. Readers union both sources.
_APPLIED_FILE = "_applied_takedowns.json"


def _read_json_names(path: str) -> "set[str]":
    """Read a JSON list-of-names file written by _write_names_durable;
    missing file = empty, damaged file = loud actionable error (silent
    empty would re-enable double-subtraction; silent all would hide
    takedowns)."""
    import json as _json

    if not os.path.exists(path):
        return set()
    with open(path) as f:
        try:
            return set(_json.load(f))
        except ValueError as e:
            raise ValueError(
                f"unreadable takedown-memory file {path}: {e} — restore "
                "it, or delete it ONLY after verifying no delta-* dir "
                "predates the newest segment"
            ) from e


def _write_names_durable(path: str, names: "set[str] | list[str]") -> None:
    """fsync + rename: a post-crash zero-length/torn memory file would
    brick every read path, so the file must be durable before named."""
    import json as _json

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(_json.dumps(sorted(names)) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_subsumed_manifest(seg_dir: str, basenames: "list[str]") -> None:
    """Record which delta dirs a rebuilt segment subsumes, inside the
    segment itself (underscore prefix: skipped by parquet readers) so the
    list becomes visible atomically with the segment's install rename.
    Durability via the shared fsync+rename writer."""
    _write_names_durable(
        os.path.join(seg_dir, _SUBSUMED_MANIFEST), sorted(basenames)
    )


def _subsumed_delta_basenames(store_dir: str) -> "set[str]":
    """Union of every live committed segment's subsumed-delta list —
    deltas a rebuild already baked into recomputed partials. Folding them
    again would double-subtract (the crash window between rebuild_view's
    commit point and its reclaim loop; also a token takedown re-run after
    its rebuild). Legacy segments carry no manifest: empty. The union of
    in-segment manifests (atomic activation) and the durable root-level
    _applied_takedowns.json (survives segment death) IS the store's
    applied-subsumption memory — a once-subsumed token stays excluded for
    the life of the store."""
    out = _read_json_names(os.path.join(store_dir, _APPLIED_FILE))
    for seg in batchstore.segments(store_dir):
        out |= _read_json_names(os.path.join(seg, _SUBSUMED_MANIFEST))
    return out


def _promote_applied_memory(store_dir: str) -> None:
    """Writer-side durability step, run BEFORE any fold that can destroy
    a manifest's carrier segment: copy the union of live exclusions into
    the root-level file. Idempotent; promotion changes nothing for
    readers (the names were already active exclusions) — it only makes
    them immortal. With this, a crash ANYWHERE in compaction leaves the
    memory intact: either the old segment (with manifest) survives, or
    the promotion already landed."""
    path = os.path.join(store_dir, _APPLIED_FILE)
    have = _read_json_names(path)
    want = _subsumed_delta_basenames(store_dir)
    if want - have:
        _write_names_durable(path, want | have)


def _capture_subsumed(store_dir: str) -> "list[str]":
    """What a rebuild's fresh segment manifest must list: every committed
    delta dir on disk (the rebuild bakes their takedowns into recomputed
    partials) PLUS all prior memory carried forward. The SINGLE definition
    behind rebuild_view's capture and the recovery installer's
    regeneration — the two must never diverge."""
    return sorted(
        {os.path.basename(d) for d in _raw_committed_delta_dirs(store_dir)}
        | _subsumed_delta_basenames(store_dir)
    )


def _raw_committed_delta_dirs(store_dir: str) -> list[str]:
    """Every committed delta dir on disk, INCLUDING ones a live segment
    already subsumes — the rebuild capture uses this so a new manifest
    carries prior subsumptions forward even if a crashed reclaim left
    both the old segment and its stale deltas behind."""
    return sorted(
        d
        for d in _glob.glob(os.path.join(store_dir, "delta-*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    )


def _committed_delta_dirs(store_dir: str) -> list[str]:
    """Committed negative-delta dirs (takedowns) that still fold: on-disk
    and not subsumed by a live rebuilt segment. Name-sorted for a stable
    listing only — standalone deltas embed a monotonic timestamp, cascade
    deltas embed the takedown's identity token, so name order is NOT
    application order. Immaterial either way: the fold is commutative."""
    sub = _subsumed_delta_basenames(store_dir)
    return [
        d
        for d in _raw_committed_delta_dirs(store_dir)
        if os.path.basename(d) not in sub
    ]


def _refuse_if_ladder_exhausted(
    spark: SparkSession,
    store_dir: str,
    spec: ViewSpec,
    neg: DataFrame,
    idempotency_token: "str | None",
) -> None:
    """Pre-commit guard for ladder takedowns: simulate the fold over
    (existing store + this negative delta) and refuse — BEFORE anything is
    written, leaving the store untouched — if any key would end up with
    rows remaining but no provable min/max. A key is exhausted when its
    surviving-candidate value is NULL while some dir truncated its ladder
    (unrecorded values may exist), or sits beyond the folded coverage
    bound (an unrecorded value may beat it). A NULL candidate under FULL
    coverage is not exhaustion — it proves the key's column is all-NULL
    now, exactly batch min/max semantics. A same-token delta dir is
    excluded from the simulation (the re-run replaces it). Cost: one small
    aggregate over the partials store — never the corpus."""
    dirs = batchstore.committed(store_dir) + [
        d
        for d in _committed_delta_dirs(store_dir)
        if idempotency_token is None
        or os.path.basename(d) != f"delta-{idempotency_token}"
    ]
    combined = neg
    if dirs:
        combined = (
            spark.read.option("mergeSchema", "true")
            .parquet(*dirs)
            .unionByName(neg, allowMissingColumns=True)
        )
    pres = (
        combined.groupBy(*spec.keys)
        .agg(F.sum(_ROWS).alias("__nr"))
        .where(F.col("__nr") > 0)
    )
    frames = []
    for name, (kind, _col) in spec.aggs.items():
        if kind not in _LADDER_KINDS:
            continue
        cand = _ladder_surviving_candidates(
            combined, spec, name, kind, "__cand"
        )
        bfold = combined.groupBy(*spec.keys).agg(
            _ladder_pick(kind)(f"{name}__bnd").alias("__b")
        )
        sim = _join_null_safe(
            _join_null_safe(pres, cand, spec.keys), bfold, spec.keys
        )
        c, b = F.col("__cand"), F.col("__b")
        # the fold is trustworthy iff the candidate is covered, or a NULL
        # candidate under full coverage (proven all-NULL column) — the
        # exact complement of what view_fold will emit as a real answer
        ok = (c.isNotNull() & _ladder_covered(kind, c, b)) | (
            c.isNull() & b.isNull()
        )
        frames.append(
            sim.where(~ok).select(
                F.lit(name).alias("agg"),
                F.concat_ws("|", *[F.col(k).cast("string") for k in spec.keys])
                .alias("key"),
            )
        )
    bad = frames[0]
    for f in frames[1:]:
        bad = bad.unionByName(f)
    # one job: a bounded sample doubles as the existence check (a separate
    # count() would re-execute the whole simulation DAG on the refusal path)
    sample = [tuple(r) for r in bad.limit(5).collect()]
    if sample:
        shown = sample[:4]
        n = f"{len(sample)}{'+' if len(sample) == 5 else ''}"
        raise ValueError(
            "delete_from_view: ladder exhausted for "
            f"{n} (agg, key) pair(s), e.g. {shown} — the "
            f"remaining rows' extreme is no longer provable from the "
            f"top-{spec.ladder_j} ladder. Nothing was written; run "
            "rebuild_view(remaining_src), or register the view with a "
            "larger ladder_j for takedown-heavy keys"
        )


def delete_from_view(
    spark: SparkSession,
    work_dir: str,
    spec: ViewSpec,
    deleted_rows: DataFrame,
    idempotency_token: "str | None" = None,
) -> str:
    """Takedown for sum/count/avg/pNN/ladder views: write ONE
    negative-delta partial dir derived from the source rows being deleted
    (`deleted_rows` must be exactly the already-ingested rows to remove —
    the caller computes them, e.g. the corpus rows of the tombstoned
    doc_ids). The read-time fold cancels their contribution exactly; a key
    losing all its rows vanishes. Refuses specs with min/max aggregates —
    those cannot subtract; use rebuild_view (the sketch-store discipline).
    min_ladder/max_ladder specs subtract exactly UNLESS some key's ladder
    would be exhausted, in which case the whole call refuses atomically
    (nothing written) with the rebuild signal. Returns the delta dir
    PATH; when a token takedown was already folded into a rebuilt
    segment, the call is a no-op that returns the would-be path WITHOUT
    creating the dir (the audit entry carries
    already_applied_via_rebuild) — callers must not assume the path
    exists on disk.

    `idempotency_token`: when given, the delta dir is named
    `delta-<token>` and written mode=overwrite — a RE-RUN of the same
    logical takedown rewrites the same dir with identical rows instead of
    appending a second delta (overwrite-by-identity, the batch-dir
    discipline; delete_docs' cascade derives the token from the deleted
    ids so its documented re-run-after-partial-failure safety extends to
    views). Without a token each call appends a fresh uniquely-named
    delta — correct for independent takedowns, NOT for retries."""
    bad = sorted(
        name
        for name, (kind, _c) in spec.aggs.items()
        if kind in ("min", "max", "approx_distinct")
        # pNN quantile histograms are ADDITIVE and subtract exactly — allowed
    )
    if bad:
        raise ValueError(
            f"delete_from_view: aggregate(s) {bad} are min/max/"
            "approx_distinct, which cannot subtract a deleted row's "
            "contribution — rebuild_view(remaining_src) is the takedown "
            "path for this spec"
        )
    if idempotency_token is not None and not re.fullmatch(
        r"[A-Za-z0-9._-]{1,128}", idempotency_token
    ):
        # pure input check: raise before any store read (the pre-commit
        # simulation below also builds its dir exclusion from the token)
        raise ValueError(
            "delete_from_view: idempotency_token must be a short "
            f"filesystem-safe string, got {idempotency_token!r}"
        )
    store_dir = os.path.join(work_dir, "view_store")
    # a writing caller: heal a crashed rebuild FIRST (same as rebuild_view
    # and default view_report) — otherwise the pre-commit simulation below
    # validates against stale pre-rebuild dirs that the next reader's
    # self-heal will replace with the rebuilt segment, committing a delta
    # the rebuilt (tighter-coverage) ladder was never checked against
    _recover_interrupted_rebuild(store_dir)
    _reclaim_subsumed_deltas(store_dir)  # writer-side disk hygiene
    if idempotency_token is not None and (
        f"delta-{idempotency_token}" in _subsumed_delta_basenames(store_dir)
    ):
        # this takedown identity was already folded into a rebuilt/
        # compacted segment's recomputed partials: a RETRY is already
        # complete (writing a delta here would either double-subtract or
        # silently never fold). Tokens are takedown identities — reusing
        # one for a genuinely NEW takedown is a caller error this return
        # makes visible in the audit trail rather than silently dropping.
        _append_takedown_audit(
            work_dir,
            {
                "action": "delete_from_view",
                "already_applied_via_rebuild": True,
                "n_keys": 0,
                "delta_dir": f"delta-{idempotency_token}",
            },
        )
        return os.path.join(store_dir, f"delta-{idempotency_token}")
    dirs = batchstore.committed(store_dir)
    if dirs:
        existing = spark.read.option("mergeSchema", "true").parquet(*dirs)
        if _ROWS not in existing.columns or not existing.where(
            F.col(_ROWS).isNull()
        ).isEmpty():
            # legacy partials (written before __rows existed) carry an
            # unknowable presence count — a negative delta against them
            # could vanish a key that still has rows. Rare maintenance op,
            # so the one schema-merge scan is cheap; rebuild_view (or a
            # row-preserving re-ingest) modernizes the store.
            raise ValueError(
                "delete_from_view: store contains pre-__rows legacy "
                "partials whose presence counts are unknowable — run "
                "rebuild_view(remaining_src) instead"
            )
    neg = view_batch_state(deleted_rows, spec, ladder_full=True)
    for stored, kind, _col in _partial_cols(spec):
        if _PQUANT_RE.match(kind):
            # negate each bucket count inside the histogram structs
            neg = neg.withColumn(
                stored,
                F.transform(
                    F.col(stored),
                    lambda e: F.struct(
                        e["b"].alias("b"), (-e["c"]).alias("c")
                    ),
                ),
            )
        elif kind in _LADDER_KINDS:
            # negate each value's count inside the ladder structs; the
            # __bnd sibling stays NULL (a delta constrains no coverage)
            neg = neg.withColumn(
                stored,
                F.transform(
                    F.col(stored),
                    lambda e: F.struct(
                        e["v"].alias("v"), (-e["c"]).alias("c")
                    ),
                ),
            )
        elif kind.endswith("__bnd"):
            pass  # ladder_full already wrote a typed NULL
        else:
            neg = neg.withColumn(stored, -F.col(stored))
    neg = neg.withColumn(_ROWS, (-F.col(_ROWS)).cast("bigint"))
    if any(kind in _LADDER_KINDS for kind, _c in spec.aggs.values()):
        _refuse_if_ladder_exhausted(
            spark, store_dir, spec, neg, idempotency_token
        )
    if idempotency_token is not None:
        # (token already validated up front, before any store read)
        # re-run rewrites the SAME dir — but never by destroying the
        # committed predecessor before its replacement exists (a plain
        # mode=overwrite deletes first; a crash mid-write would silently
        # drop an already-committed subtraction). The rebuild_view
        # discipline instead: stage into a DOT-prefixed tmp the delta-*
        # glob cannot see, rename the old dir aside, replace, reclaim.
        # The crash window is two renames wide and a re-run self-heals it.
        dest = os.path.join(store_dir, f"delta-{idempotency_token}")
        tmp = os.path.join(store_dir, f".delta-{idempotency_token}.rewrite")
        shutil.rmtree(tmp, ignore_errors=True)
        neg.coalesce(1).write.parquet(tmp)
        if os.path.isdir(dest):
            os.rename(
                dest,
                os.path.join(
                    store_dir,
                    f".delta-{idempotency_token}.old-{uuid.uuid4().hex[:8]}",
                ),
            )
        os.replace(tmp, dest)  # <- commit point
        for aside in _glob.glob(
            os.path.join(store_dir, f".delta-{idempotency_token}.old-*")
        ):
            shutil.rmtree(aside, ignore_errors=True)
    else:
        dest = os.path.join(
            store_dir, f"delta-{time.monotonic_ns()}-{uuid.uuid4().hex[:8]}"
        )
        neg.coalesce(1).write.parquet(dest)  # _SUCCESS = commit point
    # durable compliance ledger (same file/format as the doc-level takedown
    # path): the view store is persistent state, so its mutations must be
    # provable after the fact too. One tiny count job over the single-file
    # delta dir — a rare maintenance op.
    _append_takedown_audit(
        work_dir,
        {
            "action": "delete_from_view",
            "n_keys": spark.read.parquet(dest).count(),
            "delta_dir": os.path.basename(dest),
        },
    )
    return dest


def rebuild_view(
    spark: SparkSession, work_dir: str, spec: ViewSpec, remaining_src: DataFrame
) -> int:
    """Takedown for min/max (and any) views — the sketch-store discipline
    (streaming/llm_pipeline.rebuild_sketch_stores): recompute the partials
    from the post-takedown remaining source and swap them in as ONE
    `segment=<hi>` where hi is the store's own batch frontier (committed,
    torn, or folded — a later replay of any batch <= hi rewrites a dir
    readers skip, so nothing double-counts or resurrects). Subsumed batch
    dirs, old segments, and delta dirs are reclaimed. Returns hi, or -1
    when the store has never seen a batch (nothing to rebuild — a segment
    written now would shadow the genuine future batch 0).

    Maintenance op: run with the stream quiesced and no concurrent readers
    (the segment swap for an unchanged hi is delete-then-write)."""
    store_dir = os.path.join(work_dir, "view_store")
    _recover_interrupted_rebuild(store_dir)  # finish a crashed predecessor
    hi = batchstore.max_id(store_dir)
    if hi < 0:
        return -1
    seg = batchstore.segment_dir(store_dir, hi)
    tmp = seg + ".rebuild"  # not a store dir name: invisible to readers
    shutil.rmtree(tmp, ignore_errors=True)
    # capture the deltas this rebuild subsumes BEFORE writing: the rebuilt
    # partials are recomputed from the remaining source, so every takedown
    # those deltas encoded is already baked in. The list rides INSIDE the
    # segment (underscore-prefixed: parquet readers skip it) through the
    # atomic install rename — so from the instant the segment is live,
    # readers exclude the stale deltas even if the reclaim loop below
    # never ran (crash between commit point and reclaim previously left
    # them folding AGAIN on top of the rebuild: double-subtraction, keys
    # vanishing with rows still in the source). The manifest is also the
    # applied-takedown memory: a token delta re-RUN after its takedown was
    # folded into a rebuild is excluded rather than double-subtracted.
    subsumed = _capture_subsumed(store_dir)
    view_batch_state(remaining_src, spec).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    _write_subsumed_manifest(tmp, subsumed)
    # Commit ordering (the _SUCCESS-commit-point discipline): install the
    # rebuilt segment FIRST, reclaim subsumed dirs AFTER — a crash anywhere
    # leaves either the full pre-rebuild state or the committed rebuild,
    # never an empty store. The one unavoidable non-atomicity: when a
    # same-hi segment already exists, os.replace cannot land on a non-empty
    # dir, so it is renamed aside first — the crash window is two renames
    # wide (vs the whole reclaim loop), and the aside dir survives on disk
    # for manual recovery. The documented quiesce requirement covers
    # concurrent readers either way.
    if os.path.isdir(seg):
        os.rename(seg, f"{seg}.old-{uuid.uuid4().hex[:8]}")
    os.replace(tmp, seg)  # <- commit point
    for d in (
        batchstore.all_dirs(store_dir)
        + _swap_asides(store_dir)
        + _glob.glob(os.path.join(store_dir, "delta-*"))
    ):
        if os.path.realpath(d) != os.path.realpath(seg):
            shutil.rmtree(d, ignore_errors=True)
    # the rebuild IS the answer to a pending rebuild-required flag (set by
    # the delete_docs cascade for non-subtractable specs) — clear it, then
    # ledger the mutation like every other takedown-surface action
    clear_rebuild_required(work_dir)
    _append_takedown_audit(
        work_dir, {"action": "rebuild_view", "segment_hi": hi}
    )
    return hi


def compact_view(
    spark: SparkSession,
    work_dir: str,
    upto_batch: int,
    num_files: "int | None" = None,
) -> int:
    """Fold committed batch dirs at/below the checkpoint frontier into one
    segment (row-preserving — readers re-aggregate, so the view is
    invariant). Same crash-safe segment discipline as the pipeline stores.

    Memory preservation: the generic fold destroys the old segment — a
    carrier of the subsumed-delta memory — so this wrapper PROMOTES the
    memory into the durable root-level file first (crash anywhere after
    that cannot lose it: the promotion is fsync'd before any dir dies),
    then reclaims the subsumed dirs. No post-fold rewrite is needed — the
    root file outlives every segment."""
    store_dir = os.path.join(work_dir, "view_store")
    _recover_interrupted_rebuild(store_dir)
    _promote_applied_memory(store_dir)
    _reclaim_subsumed_deltas(store_dir)
    return batchstore.compact(spark, store_dir, upto_batch, num_files=num_files)


# ---------------------------------------------------------------------------
# View registration: the views.json manifest in the PIPELINE work dir.
#
# Round 10 left the takedown surface split in two: the operational verbs
# (CLI/server `takedown` -> llm_pipeline.delete_docs) fold corpus/hash/
# sample/ANN stores, while viewstore takedown was a separate manual call
# the operator had to know exists. Registration closes the gap: a view
# registered against a pipeline work dir is CONSULTED BY delete_docs —
# subtractable specs (sum/count/avg/pNN) get the negative-delta write
# derived from the tombstoned docs' corpus rows automatically; specs with
# min/max/approx_distinct aggregates (which cannot subtract) get a durable
# rebuild-required flag in the view work dir plus an explicit entry in
# delete_docs' return/audit — an actionable refusal, never silence.
#
# Contract: a registered view must be maintained over the CORPUS CONTENT
# (its source rows are the corpus table's rows), and takedowns follow the
# same quiesce-or-between-triggers discipline as delete_docs itself — the
# subtraction is exact when the view stream has drained the same frontier
# the corpus has (a view stream that never ingested a doomed row must not
# have it subtracted).
# ---------------------------------------------------------------------------

_VIEWS_MANIFEST = "views.json"
_REBUILD_MARKER = "rebuild_required.json"
# a valid view name is a safe single directory segment: the charset blocks
# separators, the lookahead blocks the all-dots traversals ('.', '..') —
# one pattern IS the invariant, so every caller inherits the whole guard
_NAME_RE = re.compile(r"^(?!\.+$)[A-Za-z0-9._-]{1,64}$")
_SUBTRACTABLE_EXEMPT = ("min", "max", "approx_distinct")


def spec_to_dict(spec: ViewSpec) -> dict:
    """JSON-serializable form of a ViewSpec (the manifest entry body)."""
    return {
        "keys": list(spec.keys),
        "aggs": {out: [kind, col] for out, (kind, col) in spec.aggs.items()},
        "kmv_k": spec.kmv_k,
        "ladder_j": spec.ladder_j,
    }


def spec_from_dict(d: dict) -> ViewSpec:
    """Inverse of spec_to_dict — re-validates via ViewSpec.__post_init__."""
    return ViewSpec(
        keys=tuple(d["keys"]),
        aggs={out: (kind, col) for out, (kind, col) in d["aggs"].items()},
        kmv_k=int(d.get("kmv_k", VIEW_KMV_K)),
        ladder_j=int(d.get("ladder_j", VIEW_LADDER_J)),
    )


def subtractable(spec: ViewSpec) -> bool:
    """True when delete_from_view accepts the spec: every aggregate's
    partial is additive (sum/count/avg parts, pNN histogram buckets,
    ladder value censuses) so a negative delta cancels a deleted row's
    contribution exactly. min/max (idempotent, not invertible) and
    approx_distinct (a KMV hash set does not know which trigger
    contributed a hash) require rebuild_view. min_ladder/max_ladder are
    subtractable UNTIL a key's ladder is exhausted — delete_from_view then
    refuses per-call with the rebuild signal (and the cascade converts
    that refusal into the durable rebuild-required flag)."""
    return not any(
        kind in _SUBTRACTABLE_EXEMPT for kind, _c in spec.aggs.values()
    )


def _load_manifest(work_dir: str) -> dict:
    path = os.path.join(work_dir, _VIEWS_MANIFEST)
    if not os.path.exists(path):
        return {"views": {}}
    import json as _json

    with open(path) as f:
        data = _json.load(f)
    if not isinstance(data, dict) or not isinstance(data.get("views"), dict):
        raise ValueError(f"{path}: malformed views manifest")
    return data


def _store_manifest(work_dir: str, data: dict) -> None:
    # tmp + os.replace: readers never see a torn manifest
    import json as _json

    path = os.path.join(work_dir, _VIEWS_MANIFEST)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(_json.dumps(data, indent=1, sort_keys=True) + "\n")
    os.replace(tmp, path)


def register_view(
    work_dir: str,
    name: str,
    spec: ViewSpec,
    view_work_dir: "str | None" = None,
) -> str:
    """Register a view against a pipeline work dir so the operational
    takedown path (delete_docs / CLI / server `takedown`) cascades into it.
    `view_work_dir` defaults to `<work_dir>/views/<name>` (the dir passed
    to run_view_stream / view_report). Re-registering a name overwrites its
    entry (spec evolution = re-register + rebuild). Returns the view work
    dir."""
    if not _NAME_RE.match(name or ""):
        raise ValueError(
            f"register_view: name {name!r} must match {_NAME_RE.pattern} "
            "(it names a directory; all-dots names would traverse out)"
        )
    vdir = view_work_dir or os.path.join(work_dir, "views", name)
    os.makedirs(work_dir, exist_ok=True)
    data = _load_manifest(work_dir)
    data["views"][name] = {"work_dir": vdir, "spec": spec_to_dict(spec)}
    _store_manifest(work_dir, data)
    return vdir


def unregister_view(work_dir: str, name: str) -> bool:
    """Drop a view's manifest entry (its store dirs are left on disk for
    the operator to reclaim). Returns whether the name was registered."""
    data = _load_manifest(work_dir)
    found = data["views"].pop(name, None) is not None
    if found:
        _store_manifest(work_dir, data)
    return found


def registered_views(work_dir: str) -> "dict[str, tuple[ViewSpec, str]]":
    """{name: (spec, view_work_dir)} from the manifest; {} when none."""
    out = {}
    for name, ent in _load_manifest(work_dir)["views"].items():
        out[name] = (spec_from_dict(ent["spec"]), ent["work_dir"])
    return out


def rebuild_required(view_work_dir: str) -> "dict | None":
    """The durable flag delete_docs leaves on a view it could not subtract
    from: the view's folded numbers still include taken-down docs until
    the operator runs rebuild_view (which clears this). A flag set by a
    TRANSIENT delta-write failure additionally clears by itself when a
    re-run of the same takedown succeeds (the cascade clears that
    takedown's entry by its idempotency token) — which is only reachable
    while the takedown's CORPUS delete has not committed (delete_docs
    raised, re-run re-derives the doomed rows); once the corpus delete
    has committed, the doomed rows are no longer derivable from the
    corpus and rebuild_view is the remedy for the flagged view. None when
    the view is clean. Top-level fields mirror the newest entry;
    `entries` lists every pending takedown; `pending_takedowns` counts
    them (a migrated legacy record contributes its accumulated count)."""
    path = os.path.join(view_work_dir, _REBUILD_MARKER)
    if not os.path.exists(path):
        return None
    import json as _json

    with open(path) as f:
        return _json.load(f)


def _marker_entries(prev: "dict | None") -> "list[dict]":
    """A marker's entries list. A legacy single-record marker (pre-entries
    format) migrates into ONE entry that preserves its accumulated count
    via `legacy_pending` — N un-rebuilt takedowns must keep reporting as N,
    and a token-scoped clear must never drop a legacy record it cannot
    identify."""
    if not prev:
        return []
    entries = list(prev.get("entries", []))
    if entries:
        return entries
    rec = {k: v for k, v in prev.items() if k != "pending_takedowns"}
    rec["legacy_pending"] = int(prev.get("pending_takedowns", 1) or 1)
    return [rec]


def _write_marker(view_work_dir: str, entries: "list[dict]") -> None:
    import json as _json

    marker = {
        **entries[-1],
        "entries": entries,
        "pending_takedowns": sum(e.get("legacy_pending", 1) for e in entries),
    }
    os.makedirs(view_work_dir, exist_ok=True)
    tmp = os.path.join(view_work_dir, f".{_REBUILD_MARKER}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(_json.dumps(marker) + "\n")
    os.replace(tmp, os.path.join(view_work_dir, _REBUILD_MARKER))


def mark_rebuild_required(view_work_dir: str, record: dict) -> None:
    """Set (or extend) the rebuild-required flag. Each distinct pending
    takedown is one entry; a re-mark carrying the SAME idempotency token
    REPLACES that token's entry rather than double-counting it (a re-run
    of a failed takedown is the same takedown)."""
    import time as _time

    entries = _marker_entries(rebuild_required(view_work_dir))
    tok = record.get("token")
    if tok is not None:
        entries = [e for e in entries if e.get("token") != tok]
    entries.append({**record, "ts": round(_time.time(), 3)})
    _write_marker(view_work_dir, entries)


def clear_rebuild_required(
    view_work_dir: str, token: "str | None" = None
) -> None:
    """token=None (the rebuild_view path): the rebuild recomputed from the
    remaining source answers EVERY pending takedown — drop the whole flag.
    token=T (the cascade's success path): the takedown identified by T
    committed its delta after a previously-flagged failure — drop only its
    entry; other pending takedowns (including a legacy-format record,
    which carries no token) stay visible."""
    if token is None:
        try:
            os.remove(os.path.join(view_work_dir, _REBUILD_MARKER))
        except OSError:
            pass
        return
    prev = rebuild_required(view_work_dir)
    if not prev:
        return
    entries = [
        e for e in _marker_entries(prev) if e.get("token") != token
    ]
    if entries:
        _write_marker(view_work_dir, entries)
    else:
        clear_rebuild_required(view_work_dir)


def cascade_delete_to_views(
    spark: SparkSession,
    work_dir: str,
    doomed_rows: DataFrame,
    idempotency_token: "str | None" = None,
) -> "dict[str, str]":
    """delete_docs' hook: propagate a doc takedown into every registered
    view. Per view: never-ingested stores are skipped ('empty' — a delta
    against nothing would be wrong, not conservative); subtractable specs
    get delete_from_view(doomed corpus rows) ('delta:<dir>'); min/max/
    approx_distinct specs — and legacy stores delete_from_view refuses,
    and any view whose delta write FAILS (e.g. a registered spec naming a
    column the corpus doesn't have) — get the durable rebuild-required
    marker ('rebuild_required'): the takedown itself must complete, and a
    broken registration must surface as an actionable flag, not abort the
    corpus delete halfway through the store sweep. The caller merges the
    returned {name: disposition} into its own audit entry, so the cascade
    is provable end to end. `idempotency_token` (derived by delete_docs
    from the deleted ids) makes re-runs overwrite the same delta dir
    instead of double-subtracting."""
    out: "dict[str, str]" = {}
    for name, (spec, vdir) in sorted(registered_views(work_dir).items()):
        store_dir = os.path.join(vdir, "view_store")
        if not (
            batchstore.committed(store_dir)
            or _committed_delta_dirs(store_dir)
            or _swap_asides(store_dir)
        ):
            out[name] = "empty"
            continue
        if subtractable(spec):
            try:
                dest = delete_from_view(
                    spark,
                    vdir,
                    spec,
                    doomed_rows,
                    idempotency_token=idempotency_token,
                )
                # the delta committed: a flag left by a previously-FAILED
                # attempt of THIS takedown (same token) is now answered —
                # clear that entry, leaving any other pending takedowns
                if idempotency_token is not None:
                    clear_rebuild_required(vdir, token=idempotency_token)
                out[name] = f"delta:{os.path.basename(dest)}"
                continue
            except Exception as e:  # noqa: BLE001 — flag, never abort
                # ValueError: legacy pre-__rows partials (presence
                # unknowable — the documented answer is a rebuild).
                # Anything else (AnalysisException: spec column absent
                # from the corpus; transient executor loss, ...): the
                # takedown must complete regardless, and the flag is the
                # durable visible signal. The token rides along so a
                # successful re-run of the SAME takedown clears it.
                reason = f"{type(e).__name__}: {e}"
        else:
            reason = (
                "spec has min/max/approx_distinct aggregates, which cannot "
                "subtract a deleted row's contribution"
            )
        mark_rebuild_required(
            vdir,
            {
                "action": "delete_docs",
                "reason": reason,
                **(
                    {"token": idempotency_token}
                    if idempotency_token is not None
                    else {}
                ),
            },
        )
        out[name] = "rebuild_required"
    return out


def view_status(view_work_dir: str) -> dict:
    """Operator-facing store status for one view dir — the SINGLE
    definition behind the CLI `views` verb and the server `views` verb,
    counting exactly what the fold reads: batch dirs and segments from
    batchstore.committed (so an outranked segment, a batch dir it covers, a
    torn dir or a .rebuild/.old-* aside is not counted), deltas via
    _committed_delta_dirs. rebuild_required is the pending-takedown count
    (0 when clean; legacy markers without the count key report 1)."""
    store = os.path.join(view_work_dir, "view_store")
    kinds = [batchstore.parse(d)[0] for d in batchstore.committed(store)]
    pending = rebuild_required(view_work_dir)
    return {
        "n_batch_dirs": kinds.count("batch"),
        "n_segments": kinds.count("segment"),
        "n_deltas": len(_committed_delta_dirs(store)),
        "rebuild_required": (
            int(pending.get("pending_takedowns", 1)) if pending else 0
        ),
    }
