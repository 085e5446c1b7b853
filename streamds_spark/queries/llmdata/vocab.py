"""Corpus vocabulary analytics: cross-source overlap, distribution divergence,
Zipf fit — the "is this mixture healthy?" queries a training-data pipeline runs
before committing a corpus blend.

Scale posture: every query tokenizes in one map-only pass (explode stays inside
whole-stage codegen), aggregates to VOCABULARY-sized intermediates (≪ corpus
size), and only then joins/compares. Per-source totals and vocabulary sizes are
a handful of rows → broadcast. At 100 TB the only large shuffle is the
(source, term) partial-aggregated count; everything downstream is KB-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.functions.text import tokens
from streamds_spark.registry import query


@query(
    "source_vocab_overlap",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT source,
               unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS term
        FROM documents
    ),
    vsize AS (SELECT source, count(*) AS vocab FROM tok GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM tok a JOIN tok b USING (term)
        WHERE a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           round(CAST(i.n_shared AS DOUBLE) / (va.vocab + vb.vocab - i.n_shared), 4)
               AS jaccard
    FROM inter i
    JOIN vsize va ON va.source = i.source_a
    JOIN vsize vb ON vb.source = i.source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources.

    The self-join runs on the DISTINCT (source, term) set — vocabulary-sized,
    not corpus-sized — on the `term` key; per-source vocabulary counts are
    n_sources rows and broadcast. Mirrors the cross-source contamination sweep
    a corpus build runs before mixing (cf. reference's multi-source dataset
    notes, distributed_log_querier README: per-VM source files)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    ).distinct()
    vsize = tok.groupBy("source").agg(F.count("*").alias("vocab"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, "term")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    va = F.broadcast(vsize.select(F.col("source").alias("source_a"), F.col("vocab").alias("va")))
    vb = F.broadcast(vsize.select(F.col("source").alias("source_b"), F.col("vocab").alias("vb")))
    return (
        inter.join(va, "source_a")
        .join(vb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


@query(
    "source_unigram_kl",
    oracle=r"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS term
        FROM documents
    ),
    st AS (SELECT source, term, count(*) AS c FROM tok GROUP BY source, term),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY source),
    ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM st GROUP BY term),
    ctot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM st)
    SELECT st.source,
           stot.n AS n_tokens,
           round(sum((CAST(st.c AS DOUBLE) / stot.n)
                     * ln((CAST(st.c AS DOUBLE) / stot.n)
                          / (CAST(ct.cc AS DOUBLE) / ctot.nn))), 4) AS kl_vs_corpus
    FROM st
    JOIN stot USING (source)
    JOIN ct USING (term)
    CROSS JOIN ctot
    GROUP BY st.source, stot.n
    """,
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source unigram distribution ‖ corpus unigram distribution) per source —
    the mixture-skew detector (a source whose KL spikes is off-distribution).

    One corpus-sized shuffle builds (source, term) counts with map-side partial
    aggregation; term totals and per-source totals derive from that SAME
    aggregate (no second scan) and are vocabulary-/source-sized → broadcast.
    The lazy localCheckpoint makes that sharing STRUCTURAL — the four
    consumers (main join, stot, ct, ctot) read one materialization at
    runtime instead of relying on ReusedExchange across four replicated
    subtrees (pre-AQE census 22 exchanges → 14; the lazy form keeps the
    full lineage visible in explain until first action, eager would
    collapse it further but runs a job at plan-build time, which a
    driver-contract query must not).
    P(term|source) > 0 always implies P(term|corpus) > 0, so the log is total.

    spread=True (round 11): parallelizes the tokenize+explode map stage of a
    single-split scan. The (source, term) counts it feeds are integers and
    their hash partitioning (the session's shuffle width) is unchanged, so
    the checkpointed count relation — and the vocabulary-sized KL sums read
    from it — are value-identical under any spread width (verified
    hash-exact at 3 SFs)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    st = (
        tok.groupBy("source", "term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    stot = st.groupBy("source").agg(F.sum("c").alias("n"))
    ct = st.groupBy("term").agg(F.sum("c").alias("cc"))
    ctot = st.agg(F.sum("c").alias("nn"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("cc").cast("double") / F.col("nn")
    return (
        st.join(F.broadcast(stot), "source")
        .join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source", F.col("n").alias("n_tokens"))
        .agg(F.round(F.sum(p * F.log(p / q)), 4).alias("kl_vs_corpus"))
        .select("source", "n_tokens", "kl_vs_corpus")
    )


ZIPF_TOP = 100


@query(
    "zipf_slope",
    oracle=rf"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS term
        FROM documents
    ),
    tc AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    ranked AS (
        SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rk
        FROM tc
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4)
               AS zipf_slope
    FROM ranked WHERE rk <= {ZIPF_TOP}
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit: OLS slope of ln(frequency) on ln(rank) over the top-{N} terms
    (natural text ≈ -1; a badly filtered corpus drifts). Term counts partial-
    aggregate map-side; the rank window runs over ≤ vocabulary rows, and the
    regression input is {N} rows — regr_slope is a single JVM aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    ranked = tc.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= ZIPF_TOP)
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(
            F.regr_slope(
                F.log(F.col("c").cast("double")), F.log(F.col("rk").cast("double"))
            ),
            4,
        ).alias("zipf_slope"),
    )


FEATURE_DIM = 32  # hashed feature-vector width


@query(
    "feature_hash_vectors",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS t
        FROM documents
    ),
    bks AS (  -- bucket each token ONCE; the per-j passes below compare ints
        SELECT doc_id,
               list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT
                                      % {FEATURE_DIM}) AS b
        FROM toks
    )
    SELECT doc_id,
           array_to_string(
               list_transform(range(0, {FEATURE_DIM}),
                   j -> CAST(len(list_filter(b, x -> x = j)) AS INT)),
               ',') AS features
    FROM bks
    """,
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): fixed-{D}-dim term-frequency
    vector per document, bucket = md5(token) mod {D} — no vocabulary pass; the
    standard featurizer when the vocab doesn't fit or drifts. Bucket hash is
    the cross-engine md5 int (functions/hashing.py) so both engines build
    identical vectors.

    Shape: explode → per-(doc, bucket) partial-agg count → per-doc map →
    dense array. One shuffle on doc_id; md5 runs exactly ONCE per token.
    (The pure-array formulation — 32 filter passes over the token array —
    was 3× slower: CollapseProject inlines the bucket hash into every pass,
    re-running md5 32× per token. Same lesson as text_winnowing_fingerprints.)

    Output form: the vector is emitted array_join'd as a comma string, not a
    bare array<int> — the driver's canonicalizer sorts raw cells and crashes
    on list cells (r3 red row). Registry rule, pinned by
    tests/test_registry_contract.py: no top-level array/map output columns."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("bigint"),
        F.lit(FEATURE_DIM),
    )
    counts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").cast("int").alias("c"))
    )
    maps = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
    )
    return docs.select("doc_id").join(maps, "doc_id", "left").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(FEATURE_DIM - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("m"), j.cast("bigint")), F.lit(0)
                ).cast("int"),
            ),
            ",",
        ).alias("features"),
    )


# candidate vocabulary sizes: real tokenizer sizing sweeps 2^15..2^17, but the
# synthetic corpus has a ~31-term vocabulary — the small cuts keep the curve
# non-degenerate there while the large one shows saturation
COVERAGE_CUTS = [8, 16, 24, 4096]


@query(
    "token_coverage_curve",
    oracle=rf"""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS term
        FROM documents
    ),
    tc AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc
    ),
    tot AS (SELECT sum(c) AS total FROM tc)
    SELECT k.top_v AS top_v,
           CAST(coalesce(sum(CASE WHEN r.rk <= k.top_v THEN r.c END), 0)
                AS BIGINT) AS covered_tokens,
           round(CAST(coalesce(sum(CASE WHEN r.rk <= k.top_v THEN r.c END), 0)
                      AS DOUBLE) / t.total, 4) + 0.0 AS coverage_r
    FROM (VALUES ({"), (".join(str(v) for v in COVERAGE_CUTS)})) k(top_v),
         ranked r, tot t
    GROUP BY k.top_v, t.total
    """,
)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve for vocabulary sizing: for each candidate
    vocabulary size V, the fraction of ALL token occurrences covered by the
    top-V most frequent terms — the dial that decides a tokenizer's vocab
    size / OOV budget before a training run (the complement of each row is
    the UNK rate a V-word vocab would pay).

    Scale shape: term counts partial-aggregate map-side to a vocabulary-
    sized relation; ranking uses the repo's distributed exact rank
    (operators/ranking.py — range-bucketed, NO single-partition window,
    unlike zipf_slope's allowlisted report window); the curve itself is ONE
    conditional aggregate over vocab rows exploded to {len(COVERAGE_CUTS)}
    output rows. (Round 11: spread=True on the scan was tried and measured
    1.14x WORSE within-session — the tokenize+explode here is cheap enough
    per byte that the extra exchange loses; left unspread deliberately.)"""
    from streamds_spark.operators.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count("*").alias("c"))
    ranked = with_global_rank(
        tc.withColumn("negc", -F.col("c")), ["negc", "term"], rank_col="rk"
    )
    sums = ranked.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("rk") <= v, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias(f"cov{v}")
            for v in COVERAGE_CUTS
        ],
        F.sum("c").alias("total"),
    )
    rows = sums.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(v).alias("top_v"),
                        F.col(f"cov{v}").alias("covered_tokens"),
                        (
                            F.round(
                                F.col(f"cov{v}").cast("double") / F.col("total"), 4
                            )
                            + F.lit(0.0)
                        ).alias("coverage_r"),
                    )
                    for v in COVERAGE_CUTS
                ]
            )
        ).alias("m")
    )
    return rows.select("m.top_v", "m.covered_tokens", "m.coverage_r")


PMI_MIN_DF = 5     # term document-frequency floor before pairing
PMI_MIN_CO = 5     # pair co-occurrence floor
PMI_TOPK = 15


@query(
    "term_pmi_pairs",
    oracle=rf"""
    WITH postings AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> ''))
                   AS term
        FROM documents
    ),
    df AS (
        SELECT term, count(*) AS df FROM postings GROUP BY term
        HAVING count(*) >= {PMI_MIN_DF}
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM postings),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS co_df
        FROM postings a JOIN postings b
          ON a.doc_id = b.doc_id AND a.term < b.term
        WHERE a.term IN (SELECT term FROM df)
          AND b.term IN (SELECT term FROM df)
        GROUP BY a.term, b.term
        HAVING count(*) >= {PMI_MIN_CO}
    )
    SELECT p.term_a, p.term_b, CAST(p.co_df AS BIGINT) AS co_df,
           round(ln((CAST(p.co_df AS DOUBLE) * n.n_docs)
                    / (da.df * CAST(db.df AS DOUBLE))), 4) + 0.0 AS pmi_r
    FROM pairs p
    JOIN df da ON da.term = p.term_a
    JOIN df db ON db.term = p.term_b
    CROSS JOIN n
    ORDER BY pmi_r DESC, term_a, term_b
    LIMIT {PMI_TOPK}
    """,
)
def term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} collocations by pointwise mutual information over DOCUMENT
    co-occurrence: PMI(a,b) = ln(P(a,b) / P(a)P(b)) with doc-frequency
    probabilities — the corpus analyst's collocation detector (and the
    signal behind phrase-mining / tokenizer-merge heuristics).

    Scale shape: the posting self-join runs on the DF-floored vocabulary's
    postings only (the floor prunes the long tail BEFORE the join — the
    same trick every co-occurrence miner uses), keyed on doc_id so a doc
    contributes at most L^2/2 pairs; DF counts and the 1-row doc total
    broadcast onto the pair aggregate. TakeOrdered for the top-k — no
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).distinct()
    postings = postings.localCheckpoint(eager=False)  # feeds df, n, pairs
    df_counts = (
        postings.groupBy("term").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= PMI_MIN_DF)
    )
    df_counts = df_counts.localCheckpoint(eager=False)  # feeds filter + 2 joins
    n_docs = postings.agg(F.countDistinct("doc_id").alias("n_docs"))
    kept = postings.join(
        F.broadcast(df_counts.select("term")), "term"
    ).select("doc_id", "term")
    a = kept.select("doc_id", F.col("term").alias("term_a"))
    b = kept.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("co_df"))
        .filter(F.col("co_df") >= PMI_MIN_CO)
    )
    da = df_counts.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    db = df_counts.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "term_a")
        .join(F.broadcast(db), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            F.col("co_df").cast("bigint").alias("co_df"),
            (
                F.round(
                    F.log(
                        (F.col("co_df").cast("double") * F.col("n_docs"))
                        / (F.col("df_a") * F.col("df_b").cast("double"))
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi_r"),
        )
        .orderBy(F.desc("pmi_r"), "term_a", "term_b")
        .limit(PMI_TOPK)
    )


KS_SRC_A, KS_SRC_B = "src0", "src1"


@query(
    "ks_doclen_drift",
    oracle=f"""
    WITH s AS (
        SELECT source, n_chars FROM documents
        WHERE source IN ('{KS_SRC_A}', '{KS_SRC_B}')
    ),
    tot AS (
        SELECT sum(CASE WHEN source = '{KS_SRC_A}' THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN source = '{KS_SRC_B}' THEN 1 ELSE 0 END) AS n2
        FROM s
    ),
    per_len AS (
        SELECT n_chars,
               sum(CASE WHEN source = '{KS_SRC_A}' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN source = '{KS_SRC_B}' THEN 1 ELSE 0 END) AS c2
        FROM s GROUP BY n_chars
    ),
    cum AS (
        SELECT n_chars,
               sum(c1) OVER (ORDER BY n_chars) AS cum1,
               sum(c2) OVER (ORDER BY n_chars) AS cum2
        FROM per_len
    ),
    diffs AS (
        SELECT n_chars,
               abs(CAST(cum1 AS DOUBLE) / tot.n1
                   - CAST(cum2 AS DOUBLE) / tot.n2) AS d
        FROM cum CROSS JOIN tot
    )
    SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n2 AS BIGINT) AS n2,
           round((SELECT max(d) FROM diffs), 4) + 0.0 AS ks_r,
           CAST((SELECT n_chars FROM diffs
                 ORDER BY d DESC, n_chars LIMIT 1) AS BIGINT) AS at_len
    FROM tot
    """,
)
def ks_doclen_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic on document-length
    distributions between two sources — the ingest-monitor question "did
    this slice's length distribution drift?" answered with the exact
    sup-norm distance between empirical CDFs, plus the length where the
    gap peaks (where to look).

    Scale shape: raw docs collapse to per-DISTINCT-LENGTH counts first
    (bounded by the length domain — the hygiene gate caps it at ~1.9k
    values — NOT by corpus size), so the cumulative window runs over an
    aggregate-sized relation; totals are a broadcast 1-row."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    s = docs.filter(F.col("source").isin(KS_SRC_A, KS_SRC_B)).select(
        "source", "n_chars"
    )
    s = s.localCheckpoint(eager=False)  # feeds totals + per-length counts
    tot = s.agg(
        F.sum((F.col("source") == KS_SRC_A).cast("int")).alias("n1"),
        F.sum((F.col("source") == KS_SRC_B).cast("int")).alias("n2"),
    )
    per_len = s.groupBy("n_chars").agg(
        F.sum((F.col("source") == KS_SRC_A).cast("int")).alias("c1"),
        F.sum((F.col("source") == KS_SRC_B).cast("int")).alias("c2"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_len.select(
        "n_chars",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        "n1",
        "n2",
        F.abs(
            F.col("cum1").cast("double") / F.col("n1")
            - F.col("cum2").cast("double") / F.col("n2")
        ).alias("d"),
    )
    diffs = diffs.localCheckpoint(eager=False)  # feeds max + argmax
    peak = diffs.orderBy(F.desc("d"), "n_chars").limit(1).select(
        F.col("n_chars").cast("bigint").alias("at_len")
    )
    agg = diffs.agg(
        F.first("n1").alias("n1_"),
        F.first("n2").alias("n2_"),
        F.max("d").alias("ks"),
    )
    return agg.crossJoin(F.broadcast(peak)).select(
        F.col("n1_").cast("bigint").alias("n1"),
        F.col("n2_").cast("bigint").alias("n2"),
        (F.round("ks", 4) + F.lit(0.0)).alias("ks_r"),
        "at_len",
    )
