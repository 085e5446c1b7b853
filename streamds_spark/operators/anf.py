"""Approximate neighborhood function / effective diameter (HyperANF).

Boldi, Rosa & Vigna, "HyperANF: approximating the neighbourhood function
of very large graphs on a budget" (WWW 2011): every node keeps a
HyperLogLog counter of the set of nodes within distance <= t; one round
of max-folding each node's counter with its neighbors' advances t by 1,
and the per-round total is the neighborhood function N(t). The counters
are the ONLY state — per node a fixed <= m registers forever — so the
whole traversal is rounds x (one adjacency equi-join + a (node, bucket)
max-aggregate), the mergeable-sketch discipline applied to a graph sweep.
That is THE scale story: an exact neighborhood function needs all-pairs
BFS (nodes x nodes state); this needs nodes x m.

Register arithmetic is the repo's deterministic md5 scheme
(operators/hll.py) at m = 64 (HyperANF's own register budget regime;
per-counter error ~13%, averaged down further by the per-round sum over
all nodes), so a DuckDB recursive CTE replays the iteration
character-for-character and the census is HASH-EXACT — the registry row
compares integer register masses, never float estimates:

  bucket = nib(h[1]) * 4 + nib(h[2]) // 4          6-bit index, m = 64
  rho    = leading-zero rank of h[3..17]           1..61 (hll.py scheme)

Census semantics (all BIGINT, exact):
  reg_mass(t) = total (node, bucket) registers alive at round t —
                monotone, saturating at sum_v |registers(ball_inf(v))|
  rho_mass(t) = total max_rho mass — strictly increases while ANY
                counter changes, so it doubles as the fixpoint test
  permille_of_final = 1000 * reg_mass(t) // reg_mass(inf): the effective
                diameter at q = 0.9 is the first t with permille >= 900
                (the register-mass proxy for N(t)/N(inf) — exact where
                the float ratio would be engine-ordering-dependent)

The final counters satisfy an exact invariant the tests pin: node v's
register table equals hll64_registers() of the node set of v's connected
component (max-fold over paths = union over the reachable set).

Stats posture: the carry is only ever joined against the FIXED adjacency
and folded through aggregates/unions, so Catalyst's size estimate grows
linearly per round — the stats-pin of operators/iterate.py is not needed
(see that module for the compounding case); lineage is truncated per
round. Rounds are bounded by the diameter; per round the join moves one
PACKED m-cell register array per (changed-incident) edge and the per-node
fold collapses them to nodes x m cells (see the packed-layout block below).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import fixpoint, lineage_cut, undirected

M_ANF = 64
HEX = "0123456789abcdef"

# (bucket, rho) extraction from md5(node) — hll.py's scheme at m=64; the
# same expressions appear verbatim in the DuckDB oracle (queries/graph.py).
BUCKET_SQL = (
    f"(instr('{HEX}', substring(h, 1, 1)) - 1) * 4"
    f" + (instr('{HEX}', substring(h, 2, 1)) - 1) DIV 4"
)
RHO_SQL = (
    "CASE WHEN length(t) = 0 THEN 61"
    " ELSE (15 - length(t)) * 4 + 4"
    f" - CAST(floor(log2(instr('{HEX}', substring(t, 1, 1)) - 1)) AS INT)"
    " END"
)


def hll64_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(bucket, max_rho) register table at m = 64 for key_col's distinct
    values — hll.hll_registers with the 6-bit bucket; the unit tests use it
    to check the final-counter invariant against a direct sketch."""
    keyed = df.select(F.md5(F.col(key_col).cast("string")).alias("h"))
    bits = keyed.select(
        F.expr(BUCKET_SQL).cast("int").alias("bucket"),
        F.expr("regexp_replace(substring(h, 3, 15), '^0+', '')").alias("t"),
    )
    return (
        bits.select("bucket", F.expr(RHO_SQL).cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


# Budget reader + the measured 24M-fan-out-rows-per-GiB calibration now
# live in operators/sizing.py (shared with the ktruss/kcore dials); the
# private aliases keep this module's soak pins and tools stable.
from streamds_spark.operators.sizing import (  # noqa: E402
    ANF_FANOUT_ROWS_PER_GIB as _FANOUT_ROWS_PER_GIB,
)
from streamds_spark.operators.sizing import (  # noqa: E402
    mem_budget_bytes as _mem_budget_bytes,
)


def _auto_stripes(n_directed_edges: int, budget_bytes: int) -> int:
    """ceil(fan-out cells / (192M x GiB)) — the packed-layout calibration
    (provenance in operators/sizing.py): at least 1, at most m (a stripe
    narrower than one register column cannot exist)."""
    budget_gib = max(1.0, budget_bytes / (1 << 30))
    fanout = n_directed_edges * M_ANF
    per_stripe = int(_FANOUT_ROWS_PER_GIB * budget_gib)
    return max(1, min(M_ANF, -(-fanout // per_stripe)))


# PACKED register layout (round 12, guide §2.3 — the VERDICT r11 item-1
# "middle layout"): all m registers of a node live in ONE array<tinyint>
# column (0 = register absent; live rho is always >= 1). The propagate join
# fans out |adj ∩ changed| ROWS per round (one 64-byte array each) instead
# of the retired narrow layout's |adj| x changed-m register rows, the
# max-fold is one zip_with/greatest reduce per node instead of a hash-map
# probe per register CELL, and — unlike round 11's retired WIDE layout of
# m separate register columns — there is no ~128-expression aggregate to
# plan and Janino-compile every round. Measured (this box):
#   2.4M directed edges (sf0.1, interleaved A/B vs the r11 narrow path):
#     neighborhood 47.7 -> 19.6 s (0.41x), harmonic 40.5 -> 18.4 s (0.45x)
#   23.9M (x10 clone soak, fresh process, min-of-2 per side):
#     packed 62.9 s vs the r11 wide layout's 168.1 s (0.37x) vs the r10
#     narrow soak's 271.5 s — packed dominates BOTH prior layouts at every
#     measured size, so the size dispatch is gone and this is the only
#     layout. Values are identical by the max-idempotence induction in
#     _propagate_packed; tests pin packed-vs-pure-Python census equality
#     and striping value-identity.


def _seed_packed(adj: DataFrame) -> DataFrame:
    """DataFrame[node, regs: array<tinyint>[m]] — the small/mid-graph PACKED
    layout's seed (round 12): all m registers in ONE array column, 0 = the
    register is absent (rho is always >= 1, so 0 is never a live value).
    The seeded node holds its single register at its md5 bucket's index."""
    nodes = adj.select(F.col("u").alias("node")).distinct()
    br = (
        nodes.select("node", F.md5(F.col("node").cast("string")).alias("h"))
        .select(
            "node",
            F.expr(BUCKET_SQL).cast("int").alias("bucket"),
            F.expr("regexp_replace(substring(h, 3, 15), '^0+', '')").alias("t"),
        )
        .select("node", "bucket", F.expr(RHO_SQL).cast("int").alias("rho"))
    )
    return br.select(
        "node",
        F.expr(
            f"transform(sequence(0, {M_ANF - 1}),"
            " i -> CAST(IF(i = bucket, rho, 0) AS TINYINT))"
        ).alias("regs"),
    ).transform(lineage_cut)


def _zeros(n: int) -> str:
    return f"array_repeat(CAST(0 AS TINYINT), {n})"


# Elementwise max-fold of a group's packed rows: ONE aggregate expression
# (collect_list concatenates map-side) folded by a single zip_with/greatest
# reduce — no m-expression codegen (the wide layout's fixed cost) and no
# per-REGISTER hash-map probe (the old narrow layout's per-cell cost).
def _fold_regs(col: str, width: int) -> "F.Column":
    return F.expr(
        f"aggregate(collect_list({col}), {_zeros(width)},"
        " (acc, x) -> zip_with(acc, x, (a, b) -> GREATEST(a, b)))"
    )


def _propagate_packed(
    adj: DataFrame,
    counters: DataFrame,
    stripes: int,
    changed: "DataFrame | None" = None,
    n_adj: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """One HyperANF round over PACKED (node, regs array) rows (round 12,
    guide §2.3 — shuffle fewer bytes/rows): the propagate join fans out
    |adj ∩ changed| ROWS per round (one 64-byte array each) instead of the
    retired narrow layout's |adj| x changed-m REGISTER rows, and the
    max-fold is one zip_with reduce per group instead of a (node, bucket)
    hash-map probe per register cell.

    SYSTOLIC propagation (Boldi & Vigna's HyperBall refinement): only nodes
    whose counter CHANGED last round join the adjacency. A neighbor
    register (n, b) unchanged since round t-2 was already folded into every
    u ∈ N(n) at round t-1 (the dense update folds ALL neighbors, so
    R_{t-1}(u, b) >= R_{t-2}(n, b)), hence dropping it from round t's max
    loses nothing; re-sending an UNCHANGED register of a changed node (the
    packed row carries all m cells) is a max-idempotent no-op — so by
    induction the per-round counter tables are (viewed narrow) ROW-FOR-ROW
    IDENTICAL to the dense iteration's, which is what keeps the census
    hash-exact vs the DuckDB dense-round replays.

    Change detection is folded into the same aggregate: the node's own
    previous row carries its regs twice (once as `old` — F.max keeps the
    single non-NULL array), propagated rows carry NULL; a node changed iff
    any cell grew (cells are 0-for-absent, so "brand new" is also ">").

    `stripes` (memory dial, see anf_census) processes CONTIGUOUS column
    groups: stripe s carries cells [s*w, s*w + w) as a w-cell slice, so the
    per-round collect_list buffers and shuffle bytes divide by the stripe
    count; the column-disjoint per-node stripe results reassemble through
    one node-keyed fold over their zero-padded union (elementwise max with
    0 is identity) — value-identical.

    The adjacency side is explicitly repartitioned to a width sized from
    the CELL fan-out (rows x m register cells / stripes): the join's input
    exchanges are small, so AQE — blind to the per-row register work —
    would coalesce the heavy stage to ~core-count tasks; user repartitions
    are never coalesced. Only the adjacency is pinned — the register side
    auto-co-partitions, and a tiny late-round changed set stays eligible
    for an AQE broadcast that skips the adjacency shuffle entirely.

    Degree-skew note (100 TB posture): the fold's per-GROUP state is the
    group's collected arrays, so an extreme hub (degree ~10^8) concentrates
    its neighbors' arrays in one task at the final merge; ObjectHashAggregate
    falls back to sort-based aggregation and spills partial buffers, but the
    single hottest key's merge is still memory-resident. The mitigation on
    such graphs is a two-level (node, salt) pre-fold — one extra node-keyed
    exchange — deliberately NOT wired in: through the x10 clone soak (23.9M
    directed edges, max degree ~10^3) the single-level fold completes with
    headroom, and the extra exchange costs every graph to insure the
    pathological one."""
    from streamds_spark.operators.sizing import ANF_FANOUT_ROWS_PER_TASK
    from streamds_spark.operators.sizing import KTRUSS_MAX_PARTITIONS as _CAP

    spark = adj.sparkSession
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # a stripes override past m cannot be narrower than one register column
    k = max(1, min(stripes, M_ANF))
    fanout = n_adj * M_ANF // k
    n_parts = max(
        session_default,
        min(_CAP, -(-fanout // ANF_FANOUT_ROWS_PER_TASK)),
    )
    adj_w = adj.repartition(n_parts, "v")
    src_all = counters if changed is None else changed
    w = -(-M_ANF // k)  # stripe width (cells per contiguous column group)
    parts = []
    for s in range(k):
        lo, ws = s * w, min(w, M_ANF - s * w)
        if ws <= 0:
            break
        if k == 1:
            src, own = src_all, counters
        else:
            sl = f"slice(regs, {lo + 1}, {ws})"
            src = src_all.select("node", F.expr(sl).alias("regs"))
            own = counters.select("node", F.expr(sl).alias("regs"))
        prop = adj_w.join(src, adj_w.v == src.node).select(
            adj_w.u.alias("node"),
            "regs",
            F.lit(None).cast("array<tinyint>").alias("old"),
        )
        merged = (
            prop.unionByName(
                own.select("node", "regs", F.col("regs").alias("old"))
            )
            .groupBy("node")
            .agg(
                _fold_regs("regs", ws).alias("regs"),
                F.max("old").alias("old"),
            )
        )
        if k > 1:
            # zero-pad the slice back to full width for the reassembly fold
            pads = (
                f"concat({_zeros(lo)}, regs, {_zeros(M_ANF - lo - ws)})",
                f"concat({_zeros(lo)}, old, {_zeros(M_ANF - lo - ws)})",
            )
            merged = merged.select(
                "node",
                F.expr(pads[0]).alias("regs"),
                F.expr(pads[1]).alias("old"),
            )
        parts.append(merged)
    if k == 1:
        merged = parts[0]
    else:
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        merged = merged.groupBy("node").agg(
            F.expr(
                f"aggregate(collect_list(regs), {_zeros(M_ANF)},"
                " (acc, x) -> zip_with(acc, x, (a, b) -> GREATEST(a, b)))"
            ).alias("regs"),
            F.expr(
                f"aggregate(collect_list(old), {_zeros(M_ANF)},"
                " (acc, x) -> zip_with(acc, x, (a, b) -> GREATEST(a, b)))"
            ).alias("old"),
        )
    merged = merged.transform(lineage_cut)
    nxt = merged.select("node", "regs")
    changed_next = merged.where(
        F.expr("exists(zip_with(regs, old, (n, o) -> n > o), x -> x)")
    ).select("node", "regs")
    return nxt, changed_next


def _packed_to_narrow(packed: DataFrame) -> DataFrame:
    """DataFrame[node, bucket, max_rho] view of a packed counter table —
    the public anf_counters contract (and the invariant tests' shape)."""
    return (
        packed.select(
            "node", F.posexplode("regs").alias("bucket", "max_rho")
        )
        .where(F.col("max_rho") > 0)
        .select(
            "node",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("max_rho").cast("int").alias("max_rho"),
        )
    )


# Row-local mass expressions over a packed counter row (exact BIGINTs).
_PACKED_RHO = "aggregate(regs, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
_PACKED_REG = "CAST(size(filter(regs, x -> x > 0)) AS BIGINT)"


def anf_counters(
    edges: DataFrame, max_iter: int = 32, stripes: "int | None" = None
) -> DataFrame:
    """Fixpoint per-node counters: DataFrame[node, bucket, max_rho] where
    node v's registers sketch its whole connected component. Exposed for
    the invariant tests; the census below is the registry surface."""
    counters, _ = _anf_iterate(edges, max_iter, stripes)
    return _packed_to_narrow(counters)


def anf_census(
    edges: DataFrame, max_iter: int = 32, stripes: "int | None" = None
) -> DataFrame:
    """DataFrame[t, reg_mass, rho_mass, permille_of_final] — one row per
    round from t = 0 (every node sees itself) to the fixpoint (every node
    sees its component). All columns exact BIGINTs (see module docstring);
    read the q = 0.9 effective diameter as the first t with
    permille_of_final >= 900.

    `stripes`: memory dial for big graphs. The per-round cost is the
    adjacency join's fan-out (one packed m-cell register array per matched
    edge) collapsing into a per-node fold whose collected buffers hold the
    stripe's cells per task. Registers in different buckets never interact,
    so processing a CONTIGUOUS column group s of k per round (slice, join,
    fold, reassemble the k stripe results through one padded-union fold) is
    VALUE-IDENTICAL while dividing both the join's carried bytes and the
    fold buffers by k. Under the round-12 packed layout the ×10 clone soak
    (23.9M directed edges, 1.53G cells/round, 8 GiB heap, 32 threads)
    COMPLETES at stripes=1 in 62.9 s — the retired narrow layout OOMed at
    1 and needed 8 — so left unset the dial SELF-SIZES from that anchor:
    stripes = ceil(directed-edges × m / (192M cells × executor-memory-GiB)),
    keeping sf0.1 AND the ×10 soak at 1 stripe (fast path) and engaging
    striping one decade later; the explicit override remains for a cluster
    that knows better (clamped to [1, m])."""
    _, census = _anf_iterate(edges, max_iter, stripes)
    spark = edges.sparkSession
    # max(1, ...): an empty graph has zero final register mass — emit an
    # all-zero census instead of dividing by it
    final_mass = max(1, census[-1][1])
    rows = [
        (t, reg, rho, 1000 * reg // final_mass) for (t, reg, rho) in census
    ]
    return spark.createDataFrame(
        rows, "t bigint, reg_mass bigint, rho_mass bigint, permille_of_final bigint"
    )


# Weight scale for the harmonic fold: floor(SCALE / t) per round t. lcm(1..20)
# — the per-round weights are EXACT integers through round 20 (and for every
# later t whose factors stay under 20); beyond that both engines floor-divide
# identically, so hash-exactness never depends on divisibility.
HARMONIC_SCALE = 232_792_560


def harmonic_centrality_topk(
    edges: DataFrame,
    k: int = 20,
    max_iter: int = 32,
    stripes: "int | None" = None,
) -> DataFrame:
    """DataFrame[node, h_scaled] — top-k nodes by HyperBall harmonic
    centrality (Boldi & Vigna, "In-core computation of geometric
    centralities with HyperBall", 2014): harmonic centrality
    H(v) = sum_{u != v} 1/d(v, u) folds from the SAME per-round counters
    HyperANF already sweeps — the ball-size growth at distance t is the
    per-node counter delta, weighted 1/t.

    Exactness contract (the HLL-twin discipline): the per-node ball-size
    proxy is the counter's integer rho mass (sum of max_rho over buckets),
    so h_scaled = sum_t (rho_mass_t(v) - rho_mass_{t-1}(v)) * (SCALE // t)
    is exact BIGINT arithmetic over the deterministic md5 register scheme —
    a DuckDB recursive CTE replays the identical iteration and the top-k is
    HASH-EXACT at any SF. As a harmonic-centrality ESTIMATE it is
    approximate by construction (register mass stands in for |B(v, t)|),
    exactly like the HLL register stores stand in for distinct counts.
    Ties break (h_scaled DESC, node ASC) so the top-k is deterministic.

    Scale shape: anf_census's round loop (_anf_iterate) — per round one
    adjacency equi-join collapsing map-side plus TWO node-sized folds
    (per-node mass, harmonic accumulate), rounds bounded by the diameter,
    and the same self-sizing `stripes` memory dial divides the propagation
    fan-out."""

    def per_node_mass(c: DataFrame) -> DataFrame:
        # packed rows are one-row-per-node, so the per-node mass is a
        # ROW-LOCAL projection of the checkpointed counters (the retired
        # narrow (node, bucket) layout needed a (node) groupBy exchange
        # here and again every round — guide §2.4)
        return c.select("node", F.expr(_PACKED_RHO).alias("mass"))

    def zero(c: DataFrame) -> DataFrame:
        return c.select(
            "node", F.lit(0).cast("bigint").alias("h_scaled")
        ).transform(lineage_cut)

    acc: list[DataFrame] = []  # the running h table

    def accumulate(t: int, prev: DataFrame, nxt: DataFrame) -> None:
        h = acc.pop() if acc else zero(prev)
        delta = per_node_mass(nxt).join(
            per_node_mass(prev).withColumnRenamed("mass", "pmass"), "node"
        ).select(
            "node",
            ((F.col("mass") - F.col("pmass")) * (HARMONIC_SCALE // t)).alias("dh"),
        )
        acc.append(
            h.join(delta, "node", "left")
            .select(
                "node",
                (F.col("h_scaled") + F.coalesce(F.col("dh"), F.lit(0)))
                .cast("bigint")
                .alias("h_scaled"),
            )
            .transform(lineage_cut)
        )

    counters, _ = _anf_iterate(edges, max_iter, stripes, on_round=accumulate)
    h = acc[0] if acc else zero(counters)
    return h.orderBy(F.desc("h_scaled"), "node").limit(k)


def _anf_iterate(
    edges: DataFrame,
    max_iter: int,
    stripes: "int | None" = None,
    on_round: "Callable[[int, DataFrame, DataFrame], None] | None" = None,
) -> tuple[DataFrame, list[tuple[int, int, int]]]:
    """(fixpoint packed counters, census) — the HyperANF round loop shared
    by the census and harmonic centrality. `on_round(t, prev, nxt)` sees
    every round that grew the counters (the saturating round excluded)."""
    adj = undirected(edges.select("u", "v"), distinct=False).transform(lineage_cut)
    # One cheap count sizes BOTH dials (the stripes memory dial and the
    # propagate stage width) and materializes the lazy checkpoint.
    n_adj = adj.count()
    counters = _seed_packed(adj)
    if n_adj == 0:
        # an empty graph has no registers: a (0, 0) census
        return counters, [(0, 0, 0)]
    if stripes is None:
        stripes = _auto_stripes(n_adj, _mem_budget_bytes(edges.sparkSession))

    def mass(c: DataFrame) -> tuple[int, int]:
        # Row-local register/rho tallies over the packed rows, then one
        # sum — identical values to the retired narrow layout's
        # count(*) / sum(max_rho).
        src = c.select(
            F.expr(_PACKED_REG).alias("_reg"),
            F.expr(_PACKED_RHO).alias("_rho"),
        )
        row = src.agg(
            F.sum("_reg").cast("bigint").alias("reg"),
            F.sum("_rho").cast("bigint").alias("rho"),
        ).collect()[0]
        return int(row["reg"]), int(row["rho"])

    # the ONE driver job of the seeding step — it materializes the lazy
    # seed checkpoint as a side effect (guide §1.3)
    census = [(0, *mass(counters))]

    def step(carry, pin):
        counters, changed = carry
        nxt, changed = _propagate_packed(adj, counters, stripes, changed, n_adj)
        # the ONE driver job per round: the saturation probe materializes
        # the round's lazy propagate checkpoint
        reg, rho = mass(nxt)
        if rho == census[-1][2]:  # rho mass strictly grows on ANY change
            return counters, True
        t = len(census)
        if on_round is not None:
            on_round(t, counters, nxt)
        census.append((t, reg, rho))
        return (nxt, changed), False

    # round 1: every seeded register is fresh
    run = fixpoint(step, (counters, counters), max_iter, "ANF register propagation")
    return run.value, census
