"""Corpus-quality operators for LLM training-data curation.

Three verified (DuckDB-oracle) operators beyond the basic text statistics in
text_pipeline.py, mirroring the published data-curation recipes (Gopher /
C4 / The Pile reports — see /root/repo/PAPERS.md):

  repetition metrics   duplicate-word / top-word / duplicate-bigram fractions
                       — the Rae et al. (Gopher) repetition filters
  contamination        n-gram overlap of candidate documents against a
                       benchmark document set — the train/test leakage check
  tf-idf top terms     per-document salient terms (tf·idf with a window
                       ranking) — topic fingerprinting for mixture analysis

All three are pure DataFrame plans (explode + hash aggregate + window /
broadcast semi-join) — no UDFs, so they vectorize and codegen at any scale.
The reference has no text surface at all (SURVEY.md §2 documents absence);
these extend the driver-mandated LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from ..sources.tables import load
from .registry import register


def _bigrams(text) -> "F.Column":
    """ALL word 2-grams (non-distinct, order-preserving) — repetition metrics
    need multiplicity, unlike the set-semantics word_shingles. Tokens are
    let-bound (functions.text.let): interpreted HOF lambdas re-evaluate
    child expressions per element, so the unbound form re-ran split() twice
    per gram."""
    from ..functions.text import let

    def build(w: "F.Column") -> "F.Column":
        gram = F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        )
        return F.when(F.size(w) >= 2, gram).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens(text), build)


@register(
    "q_repetition_quality",
    oracle="""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        wc AS (
            SELECT doc_id, UNNEST(w) AS word FROM words
        ),
        wstats AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT)  AS n_words,
                   CAST(COUNT(*) AS BIGINT)  AS n_distinct,
                   CAST(MAX(cnt) AS BIGINT)  AS top_cnt
            FROM (SELECT doc_id, word, COUNT(*) AS cnt
                  FROM wc GROUP BY doc_id, word)
            GROUP BY doc_id
        ),
        grams AS (
            SELECT doc_id,
                   list_transform(range(greatest(len(w) - 1, 0)),
                                  i -> w[i+1] || ' ' || w[i+2]) AS g2
            FROM words
        )
        SELECT s.doc_id,
               s.n_words,
               1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_words AS dup_word_frac,
               CAST(s.top_cnt AS DOUBLE) / s.n_words          AS top_word_frac,
               CASE WHEN len(g.g2) > 0
                    THEN 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2)
                    ELSE 0.0 END                              AS dup_2gram_frac
        FROM wstats s JOIN grams g ON s.doc_id = g.doc_id
    """,
    doc=(
        "Gopher-style repetition quality metrics per document: duplicate-word "
        "fraction, top-word fraction, duplicate-bigram fraction. Word stats "
        "come from one explode + two-level hash aggregate (map-side combine "
        "on (doc, word)); bigram stats are row-local higher-order-function "
        "expressions (no explode). One co-partitioned join on doc_id."
    ),
    tags=("text", "quality", "llm-pipeline"),
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wstats = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    g2 = _bigrams(F.col("text"))
    grams = d.select(
        "doc_id",
        F.size(g2).alias("__n_g2"),
        F.size(F.array_distinct(g2)).alias("__n_g2_distinct"),
    )
    return (
        wstats.join(grams, "doc_id")
        .select(
            "doc_id",
            "n_words",
            (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words")).alias(
                "dup_word_frac"
            ),
            (F.col("top_cnt").cast("double") / F.col("n_words")).alias("top_word_frac"),
            F.when(
                F.col("__n_g2") > 0,
                F.lit(1.0) - F.col("__n_g2_distinct").cast("double") / F.col("__n_g2"),
            )
            .otherwise(0.0)
            .alias("dup_2gram_frac"),
        )
    )


@register(
    "q_benchmark_contamination",
    oracle="""
        WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w
                       FROM documents),
        sh AS (
            SELECT doc_id, source,
                   UNNEST(list_distinct(list_transform(
                       range(greatest(len(w) - 4, 0)),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                            w[i+4] || ' ' || w[i+5]))) AS s
            FROM words
        ),
        bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        cand  AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
        sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM cand GROUP BY doc_id),
        hits  AS (SELECT doc_id, COUNT(*) AS n_cont
                  FROM cand WHERE s IN (SELECT s FROM bench)
                  GROUP BY doc_id)
        SELECT sizes.doc_id,
               sizes.n_grams,
               COALESCE(hits.n_cont, 0) AS n_contaminated,
               CAST(COALESCE(hits.n_cont, 0) AS DOUBLE) / sizes.n_grams
                   AS contamination_frac
        FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
    doc=(
        "Benchmark-contamination check (train/test leakage): for every "
        "candidate document, the fraction of its distinct word 5-grams that "
        "appear anywhere in the benchmark set (here: source='src0' stands in "
        "for the held-out benchmark). The benchmark gram set is DISTINCT and "
        "bounded (benchmark suites are small), so it broadcasts — candidate "
        "grams never shuffle; at 100 TB this is a map-side semi-join over "
        "the corpus scan."
    ),
    tags=("text", "contamination", "llm-pipeline"),
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    arr = word_shingles(F.col("text"), 5)
    bench_grams = (
        d.where(F.col("source") == "src0")
        .select(F.explode(arr).alias("s"))
        .distinct()
    )
    cand = d.where(F.col("source") != "src0").select("doc_id", arr.alias("__arr"))
    sizes = cand.select("doc_id", F.size("__arr").alias("n_grams")).where(F.col("n_grams") > 0)
    hits = (
        cand.select("doc_id", F.explode("__arr").alias("s"))
        .join(F.broadcast(bench_grams), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_cont"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("__n_cont"), F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce(F.col("__n_cont"), F.lit(0)).cast("double") / F.col("n_grams")
            ).alias("contamination_frac"),
        )
    )


@register(
    "q_tfidf_top_terms",
    oracle="""
        WITH wc AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS cnt
               FROM wc GROUP BY doc_id, term),
        scored AS (
            SELECT doc_id, term,
                   (CAST(cnt AS DOUBLE)
                    / CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS DOUBLE))
                   * LN(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                        / CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE))
                       AS tfidf
            FROM tf
        )
        SELECT doc_id, term, tfidf, rnk
        FROM (SELECT doc_id, term, tfidf,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term) AS rnk
              FROM scored)
        WHERE rnk <= 3
    """,
    doc=(
        "Per-document top-3 TF-IDF terms: tf = term count / doc length, idf "
        "= ln(N / document frequency), deterministic tie-break on term. All "
        "three statistics come from ONE (doc, term) aggregate reused by two "
        "window partitionings (doc_id for length + ranking, term for df); N "
        "is a 1-row broadcast cross join, never a driver collect."
    ),
    tags=("text", "tfidf", "window", "llm-pipeline"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("__n"))
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_doc = Window.partitionBy("doc_id")
    w_term = Window.partitionBy("term")
    # Window order matters for shuffle count (r12, guide §2.2): evaluate
    # the term-partitioned count FIRST, then the doc-partitioned sum — the
    # doc window and the doc-partitioned rank window below then share ONE
    # doc_id exchange (was doc → term → doc, three exchanges of the full
    # (doc, term) frame; now term → doc, two). Same expressions on the
    # same values — hash-identical output.
    with_df = tf.crossJoin(F.broadcast(n_docs)).withColumn(
        "__df", F.count(F.lit(1)).over(w_term)
    )
    scored = with_df.select(
        "doc_id",
        "term",
        (
            (F.col("cnt").cast("double") / F.sum("cnt").over(w_doc).cast("double"))
            * F.log(F.col("__n").cast("double") / F.col("__df").cast("double"))
        ).alias("tfidf"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.select("doc_id", "term", "tfidf", F.row_number().over(w_rank).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@register(
    "q_mixture_token_budget",
    oracle="""
        WITH per_src AS (
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY source
        )
        SELECT source,
               n_tokens,
               LEAST(1.0, (100000.0 / COUNT(*) OVER ()) / n_tokens)
                   AS sample_rate,
               LEAST(1.0, (100000.0 / COUNT(*) OVER ()) / n_tokens) * n_tokens
                   AS expected_tokens
        FROM per_src
    """,
    doc=(
        "Mixture resampling to a token budget: per-source token totals, then "
        "the per-source sampling rate that hits a 100k-token budget under "
        "uniform source weights (rate = min(1, budget*weight/tokens)) and "
        "the expected token yield. One aggregation + a 1-partition window "
        "over the |sources|-row aggregate (bounded, never the corpus). The "
        "rate column feeds deterministic md5-bucket sampling "
        "(q_deterministic_sample) to materialize the mixture."
    ),
    tags=("text", "mixture", "llm-pipeline"),
)
def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")
    )
    w = Window.partitionBy()
    rate = F.least(
        F.lit(1.0),
        (F.lit(100000.0) / F.count(F.lit(1)).over(w)) / F.col("n_tokens"),
    )
    return per_src.select(
        "source",
        "n_tokens",
        rate.alias("sample_rate"),
        (rate * F.col("n_tokens")).alias("expected_tokens"),
    )


@register(
    "q_mixture_temperature",
    oracle="""
        WITH per_src AS (
            SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY source
        ),
        probs AS (
            SELECT source, n_tokens,
                   CAST(n_tokens AS DOUBLE)
                       / SUM(n_tokens) OVER () AS p_natural,
                   POWER(CAST(n_tokens AS DOUBLE)
                         / SUM(n_tokens) OVER (), 0.3) AS p_alpha
            FROM per_src
        )
        SELECT source, n_tokens, p_natural,
               p_alpha / SUM(p_alpha) OVER () AS p_temperature,
               LEAST(1.0,
                     100000.0 * (p_alpha / SUM(p_alpha) OVER ())
                     / n_tokens) AS sample_rate
        FROM probs
    """,
    doc=(
        "TEMPERATURE-scaled mixture rates (r11, unsolicited): the standard "
        "multilingual/multi-source rebalancing trick (mC4 / XLM-R "
        "convention, alpha = 0.3): natural source shares p_i = n_i/N are "
        "raised to p_i^alpha and renormalized, lifting low-resource "
        "sources without flattening the mixture entirely — then the "
        "per-source rate that hits a 100k-token budget under the "
        "temperature weights (rate = min(1, budget*q_i/n_i)). Both "
        "normalizations are windows over the |sources|-row aggregate "
        "(bounded, never the corpus — the q_mixture_token_budget class-(b) "
        "shape). POWER() agrees across engines well inside the oracle's "
        "9-significant-digit canonicalization. The rate column feeds the "
        "same deterministic hash samplers as the uniform-weight variant."
    ),
    tags=("text", "mixture", "sampling", "llm-pipeline"),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")
    )
    w = Window.partitionBy()
    p_nat = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    probs = per_src.select(
        "source",
        "n_tokens",
        p_nat.alias("p_natural"),
        F.pow(p_nat, F.lit(0.3)).alias("p_alpha"),
    )
    q = F.col("p_alpha") / F.sum("p_alpha").over(w)
    return probs.select(
        "source",
        "n_tokens",
        "p_natural",
        q.alias("p_temperature"),
        F.least(
            F.lit(1.0), F.lit(100000.0) * q / F.col("n_tokens")
        ).alias("sample_rate"),
    )


@register(
    "q_quality_expectations",
    oracle="""
        SELECT 'orders_pk_unique' AS constraint_name,
               (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS violations,
               (SELECT COUNT(*) FROM orders) AS total
        UNION ALL
        SELECT 'orders_custkey_complete',
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
               (SELECT COUNT(*) FROM orders)
        UNION ALL
        SELECT 'lineitem_discount_domain',
               (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1),
               (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'lineitem_quantity_positive',
               (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0),
               (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'lineitem_orderkey_ri',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'orders_custkey_ri',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
               (SELECT COUNT(*) FROM orders)
        UNION ALL
        SELECT 'events_ts_freshness',
               (SELECT COUNT(*) FROM events
                WHERE ts < TIMESTAMP '2024-01-01 00:00:00'
                   OR ts >= TIMESTAMP '2024-02-01 00:00:00'),
               (SELECT COUNT(*) FROM events)
    """,
    doc=(
        "Declarative data-quality expectations (Deequ-style ingest gate): "
        "key uniqueness, completeness, value domains, referential integrity "
        "(anti-join orphan counts), event freshness — one row per "
        "constraint with violation/total counts. Per-table checks fuse into "
        "single-pass conditional aggregates; each RI check is one "
        "broadcast/shuffle anti-join on the key. The shape that gates a "
        "100 TB ingest before it poisons downstream training data."
    ),
    tags=("quality", "expectations", "profile", "llm-pipeline"),
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    e = load(spark, sf_dir, "events")

    def one(name, violations, total):
        return violations.alias("violations"), total.alias("total"), F.lit(name).alias(
            "constraint_name"
        )

    # Per-table single-pass conditional aggregates (one scan each).
    orders_checks = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dup"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("ck_null"),
        F.count(F.lit(1)).alias("n"),
    )
    li_checks = li.agg(
        F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)).alias(
            "disc_bad"
        ),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("qty_bad"),
        F.count(F.lit(1)).alias("n"),
    )
    ev_checks = e.agg(
        F.count(
            F.when(
                (F.col("ts") < F.lit("2024-01-01 00:00:00").cast("timestamp"))
                | (F.col("ts") >= F.lit("2024-02-01 00:00:00").cast("timestamp")),
                1,
            )
        ).alias("stale"),
        F.count(F.lit(1)).alias("n"),
    )
    li_orphans = li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("v")
    )
    o_orphans = o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("v")
    )
    li_total = li.agg(F.count(F.lit(1)).alias("n"))
    o_total = o.agg(F.count(F.lit(1)).alias("n"))

    rows = [
        orders_checks.select(*one("orders_pk_unique", F.col("pk_dup"), F.col("n"))),
        orders_checks.select(*one("orders_custkey_complete", F.col("ck_null"), F.col("n"))),
        li_checks.select(*one("lineitem_discount_domain", F.col("disc_bad"), F.col("n"))),
        li_checks.select(*one("lineitem_quantity_positive", F.col("qty_bad"), F.col("n"))),
        li_orphans.join(li_total).select(*one("lineitem_orderkey_ri", F.col("v"), F.col("n"))),
        o_orphans.join(o_total).select(*one("orders_custkey_ri", F.col("v"), F.col("n"))),
        ev_checks.select(*one("events_ts_freshness", F.col("stale"), F.col("n"))),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select("constraint_name", "violations", "total")


@register(
    "q_boilerplate_span_coverage",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sp AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       range(1, GREATEST(LEN(toks) - 3, 1)),
                       i -> struct_pack(
                           pos := i,
                           span := array_to_string(list_slice(toks, i, i + 4), ' ')
                       ))) AS s
            FROM w
        ),
        spans AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM sp),
        boiler AS (
            SELECT span FROM spans GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 3
        ),
        hits AS (
            SELECT s.doc_id, s.pos FROM spans s JOIN boiler b USING (span)
        ),
        swe AS (
            SELECT doc_id, pos, pos + 4 AS e,
                   MAX(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING) AS prev_e
            FROM hits
        ),
        cov AS (
            SELECT doc_id,
                   CAST(SUM(GREATEST(0, e - GREATEST(pos - 1, COALESCE(prev_e, 0))))
                        AS BIGINT) AS covered
            FROM swe GROUP BY doc_id
        )
        SELECT w.doc_id,
               LEN(w.toks)                               AS n_tokens,
               COALESCE(cov.covered, 0)                  AS covered_tokens,
               CAST(COALESCE(cov.covered, 0) AS DOUBLE) / LEN(w.toks)
                                                         AS boilerplate_frac
        FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
    """,
    doc=(
        "Boilerplate span coverage (the Lee et al. 2022 'Deduplicating "
        "Training Data' repeated-substring theme at the token-window grain): "
        "for every document, the fraction of token positions covered by at "
        "least one 5-token span that also appears in >= 3 distinct "
        "documents. Three stages, all declarative: (1) explode token windows "
        "to (doc, pos, span) — O(tokens) rows; (2) the span document-"
        "frequency table, one hash shuffle on the span, threshold-filtered "
        "to the small boilerplate set and broadcast back (map-side "
        "semi-join, same shape as the contamination check); (3) interval "
        "UNION per document via the classic sweep — running max of span "
        "ends over a (doc, pos) window, so overlapping spans are never "
        "double-counted. Everything is integer arithmetic — bit-exact "
        "cross-engine. At 100 TB spans would be grouped on xxhash64(span) "
        "instead of the string (8-byte shuffle keys, 2^-64 collision on the "
        "DF count only); the string form keeps the oracle exact here."
    ),
    tags=("quality", "dedup", "boilerplate", "window"),
)
def q_boilerplate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 5
    d = load(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    n = F.size("w")
    idx = F.when(n >= K, F.sequence(F.lit(1), n - K + 1)).otherwise(
        F.array().cast("array<int>")
    )
    from ..operators.dedup import track_cache

    # The span table feeds both the DF count and the hit join; persist it so
    # the tokenizer/explode pass runs once. (At 100 TB you'd either write the
    # span table to storage or accept the recompute — one extra map-only
    # tokenizer pass — rather than pin O(tokens) rows in executor memory.)
    spans = track_cache(
        d.select("doc_id", "w", F.explode(idx).alias("pos")).select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.slice("w", F.col("pos"), K)).alias("span"),
        )
    )
    boiler = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 3)
        .select("span")
    )
    hits = spans.join(F.broadcast(boiler), "span").select("doc_id", "pos")
    w_doc = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    e = F.col("pos") + (K - 1)
    swe = hits.select(
        "doc_id", "pos", e.alias("e"), F.max(e).over(w_doc).alias("prev_e")
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("e") - F.greatest(F.col("pos") - 1, F.coalesce(F.col("prev_e"), F.lit(0))),
    )
    cov = swe.groupBy("doc_id").agg(F.sum(contrib).cast("long").alias("covered"))
    covered = F.coalesce(F.col("covered"), F.lit(0).cast("long"))
    return (
        d.select("doc_id", n.alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            covered.alias("covered_tokens"),
            (covered.cast("double") / F.col("n_tokens")).alias("boilerplate_frac"),
        )
    )


@register(
    "q_quality_logit",
    oracle="""
        WITH f AS (
            SELECT doc_id, source,
                   LEN(string_split(text, ' ')) AS n_tokens,
                   CAST(LEN(list_filter(string_split(text, ' '),
                            x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                       / LEN(string_split(text, ' ')) AS stop_r,
                   CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / LEN(string_split(text, ' ')) AS ttr,
                   CAST(LENGTH(text) AS DOUBLE)
                       / LEN(string_split(text, ' ')) AS cpt
            FROM documents
        ),
        s AS (
            SELECT doc_id, source, n_tokens, stop_r, ttr, cpt,
                   -2.0 + 3.0 * stop_r + 2.5 * ttr + 0.002 * n_tokens
                        - 0.3 * ABS(cpt - 5.0) AS score
            FROM f
        )
        SELECT doc_id, source, n_tokens, stop_r, ttr, cpt, score,
               1.0 / (1.0 + EXP(-score)) AS p_keep,
               CASE WHEN 1.0 / (1.0 + EXP(-score)) >= 0.6 THEN 'high'
                    WHEN 1.0 / (1.0 + EXP(-score)) >= 0.4 THEN 'medium'
                    ELSE 'low' END AS tier
        FROM s
    """,
    doc=(
        "Model-based quality filtering with FROZEN weights — the fastText/"
        "logistic-classifier inference step of the LLM curation recipes "
        "(CCNet / DataComp-style), expressed as pure column arithmetic: "
        "features (stopword ratio, type-token ratio, chars/token, length) "
        "are exact rationals of integer counts, the linear score is a fixed "
        "dot product, and p_keep = sigmoid(score) feeds a deterministic "
        "tier CASE. Inference over N docs is embarrassingly parallel, "
        "zero-shuffle, and stays in WholeStageCodegen — at 100 TB this is "
        "a map-only pass, exactly how a frozen quality model (weights "
        "broadcast) deploys over a corpus. Training the weights is an "
        "offline step outside the engine (the reference for the shape: "
        "any linear model's coefficients arrive as literals/broadcast)."
    ),
    tags=("quality", "classifier", "scoring"),
)
def q_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    n = F.size(w)
    stop_r = F.size(F.filter(w, lambda x: x.isin("the", "a", "of", "and", "to"))).cast(
        "double"
    ) / n
    ttr = F.size(F.array_distinct(w)).cast("double") / n
    cpt = F.length("text").cast("double") / n
    f = d.select(
        "doc_id",
        "source",
        n.alias("n_tokens"),
        stop_r.alias("stop_r"),
        ttr.alias("ttr"),
        cpt.alias("cpt"),
    )
    score = (
        F.lit(-2.0)
        + F.lit(3.0) * F.col("stop_r")
        + F.lit(2.5) * F.col("ttr")
        + F.lit(0.002) * F.col("n_tokens")
        - F.lit(0.3) * F.abs(F.col("cpt") - F.lit(5.0))
    )
    s = f.withColumn("score", score)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score")))
    return s.select(
        "doc_id",
        "source",
        "n_tokens",
        "stop_r",
        "ttr",
        "cpt",
        "score",
        p.alias("p_keep"),
        F.when(p >= 0.6, F.lit("high"))
        .when(p >= 0.4, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("tier"),
    )


@register(
    "q_benford_order_totals",
    oracle="""
        WITH u AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_totalprice > 0
        ),
        d AS (
            SELECT CAST(SUBSTR(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM u
        ),
        agg AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
        tot AS (SELECT digit, n_obs, SUM(n_obs) OVER () AS n FROM agg)
        SELECT digit, n_obs,
               CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS obs_share,
               CAST(CAST(LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS DECIMAL(27,8)) AS DOUBLE)
                   / CAST(CAST(LN(10.0) AS DECIMAL(27,8)) AS DOUBLE) AS benford_share
        FROM tot
    """,
    doc=(
        "Benford's-law first-digit audit of order totals — the classic "
        "fabricated-data / fraud screen (natural multiplicative amounts "
        "follow P(d) = log10(1+1/d); synthetic-uniform data deviates "
        "sharply, which THIS fixture deliberately demonstrates). The "
        "leading digit comes from the exact integer cents via string head "
        "— no log10/pow floating derivation to disagree on — and the "
        "expected share uses the decimal-rounded-log pattern. One hash agg "
        "onto a 9-row grain; the total attaches via an unpartitioned "
        "window over those 9 rows."
    ),
    tags=("quality", "profiling", "benford"),
)
def q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.rint(F.col("o_totalprice") * 100).cast("long")
    d = o.where(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    agg = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = agg.withColumn("n", F.sum("n_obs").over(Window.partitionBy()))
    dd = F.col("digit").cast("double")
    return tot.select(
        "digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("n").cast("double")).alias("obs_share"),
        (
            F.log(F.lit(1.0) + F.lit(1.0) / dd).cast("decimal(27,8)").cast("double")
            / F.log(F.lit(10.0)).cast("decimal(27,8)").cast("double")
        ).alias("benford_share"),
    )


@register(
    "q_exact_substr_trim",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sp AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       range(1, GREATEST(LEN(toks) - 3, 1)),
                       i -> struct_pack(
                           pos := i,
                           span := array_to_string(list_slice(toks, i, i + 4), ' ')
                       ))) AS s
            FROM w
        ),
        spans AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM sp),
        boiler AS (
            SELECT span FROM spans GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 3
        ),
        hits AS (
            SELECT s.doc_id, s.pos FROM spans s JOIN boiler b USING (span)
        ),
        covered AS (
            SELECT DISTINCT doc_id, pos + k.k AS pos
            FROM hits CROSS JOIN (SELECT UNNEST(range(5)) AS k) k
        ),
        px AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       range(1, LEN(toks) + 1),
                       i -> struct_pack(pos := i, tok := toks[i]))) AS s
            FROM w
        ),
        positions AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM px),
        kept AS (
            SELECT p.doc_id, p.pos, p.tok
            FROM positions p
            ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
        ),
        agg AS (
            SELECT doc_id,
                   COUNT(*) AS kept_tokens,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
            FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id,
               LEN(w.toks)                  AS n_tokens,
               COALESCE(a.kept_tokens, 0)  AS kept_tokens,
               COALESCE(a.cleaned_md5, md5('')) AS cleaned_md5
        FROM w LEFT JOIN agg a USING (doc_id)
    """,
    doc=(
        "ExactSubstr-style corpus TRIM (Lee et al. 2022 'Deduplicating "
        "Training Data', the REMOVE step their suffix-array pipeline "
        "produces): q_boilerplate_span_coverage finds the token positions "
        "covered by cross-document repeated 5-token spans (document "
        "frequency >= 3); this query actually REMOVES them, emitting the "
        "cleaned per-document token stream (verified by md5 so the full "
        "text is checked without shipping it). All declarative: span DF "
        "table -> broadcast boilerplate set -> positions anti-join on "
        "(doc_id, pos) -> ordered reassembly via sorted collect_list per "
        "document (bounded by document length). At 100 TB the span keys "
        "group on xxhash64 and the anti-join co-shuffles fact-sized tables "
        "on (doc_id, pos) — no driver-side anything, no all-pairs shape."
    ),
    tags=("quality", "dedup", "boilerplate", "llm-pipeline"),
)
def q_exact_substr_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import track_cache

    K = 5
    d = load(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    n = F.size("w")
    idx = F.when(n >= K, F.sequence(F.lit(1), n - K + 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = track_cache(
        d.select("doc_id", "w", F.explode(idx).alias("pos")).select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.slice("w", F.col("pos"), K)).alias("span"),
        )
    )
    boiler = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 3)
        .select("span")
    )
    hits = spans.join(F.broadcast(boiler), "span").select("doc_id", "pos")
    covered = hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (K - 1))).alias("pos"),
    ).distinct()
    positions = d.select(
        "doc_id", F.posexplode("w").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = positions.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]
        ),
        " ",
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"), F.md5(cleaned).alias("cleaned_md5")
    )
    return (
        d.select("doc_id", n.alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long")).alias("kept_tokens"),
            F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


_DSIR_ORACLE_WEIGHTS = """
    WITH toks AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, UNNEST(w) AS gram FROM toks
        UNION ALL
        SELECT doc_id, lang,
               UNNEST(list_transform(range(greatest(len(w) - 1, 0)),
                                     i -> w[i+1] || ' ' || w[i+2])) AS gram
        FROM toks
    ),
    bucketed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(gram), 1, 4)) AS INT) % 4096 AS bucket
        FROM grams
    ),
    counts AS (
        SELECT bucket,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
               COUNT(*) AS cr
        FROM bucketed GROUP BY bucket
    ),
    totals AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
    ratio AS (
        SELECT bucket,
               CAST(LN(ct + 1) AS DECIMAL(27,8))
               - CAST(LN((SELECT tt FROM totals) + 4096) AS DECIMAL(27,8))
               - CAST(LN(cr + 1) AS DECIMAL(27,8))
               + CAST(LN((SELECT tr FROM totals) + 4096) AS DECIMAL(27,8)) AS lr
        FROM counts
    )
    SELECT b.doc_id, CAST(SUM(r.lr) AS DOUBLE) AS log_weight
    FROM bucketed b JOIN ratio r ON b.bucket = r.bucket
    GROUP BY b.doc_id
"""


@register(
    "q_dsir_importance_weights",
    oracle=_DSIR_ORACLE_WEIGHTS,
    doc=(
        "DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169): "
        "hashed unigram+bigram bag models of a TARGET domain (here the "
        "lang='en' slice) vs the raw corpus; log w = sum c_k(ln p_k - "
        "ln q_k), Laplace-smoothed, K=4096 md5 buckets. Every ln term is "
        "DECIMAL(27,8)-quantized before the exact decimal sum, so the "
        "result is order-independent and engine-portable. Plan: one "
        "bucket-grain pass builds both distributions, the K-row log-ratio "
        "table broadcasts, and per-doc weights take ONE shuffle "
        "(operators/dsir.py)."
    ),
    tags=("text", "quality", "selection", "llm-pipeline"),
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import dsir_log_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_log_weights(docs, F.col("lang") == "en")


@register(
    "q_dsir_resample",
    oracle=f"""
        WITH weights AS ({_DSIR_ORACLE_WEIGHTS}),
        keyed AS (
            SELECT doc_id, log_weight,
                   CAST(CAST(log_weight AS DECIMAL(27,8))
                        + CAST(-LN(-LN((CAST(('0x' || substr(md5('42' ||
                              CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
                              / 4294967297.0)) AS DECIMAL(27,8))
                        AS DOUBLE) AS key
            FROM weights
        )
        SELECT doc_id, log_weight, key FROM keyed
        ORDER BY key DESC, doc_id ASC LIMIT 100
    """,
    doc=(
        "DSIR resampling: Gumbel-top-k without replacement proportional to "
        "softmax(log_weight), with DETERMINISTIC Gumbel noise derived from "
        "md5(seed || doc_id) — the same corpus and seed select the same "
        "documents on any engine at any partitioning. Plan: map-side key + "
        "TakeOrdered(n); no full sort (operators/dsir.py::dsir_resample)."
    ),
    tags=("text", "quality", "selection", "llm-pipeline", "topk"),
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import dsir_log_weights, dsir_resample

    docs = load(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, F.col("lang") == "en")
    return dsir_resample(w, n=100)


@register(
    "q_quality_classifier_train",
    oracle=None,  # iterative GD — no closed-form SQL; math + determinism in pytest
    doc=(
        "Quality-classifier TRAINING (the step q_quality_logit deploys): "
        "distributed L2-regularized logistic regression on hashed bag-of-"
        "words features, labels = reference slice (src0-src3, the CCNet/"
        "GPT-3 'positives are curated pages' setup). The training loop is "
        "pure relational dataflow — long-format (doc, bucket, x) features, "
        "per-iteration margin = broadcast-weight join + doc groupBy, "
        "gradient = residual join + bucket groupBy, all reductions decimal-"
        "exact so training is bit-identical under any partitioning "
        "(operators/logreg.py). Per iteration only the O(n_buckets) weight "
        "vector visits the driver. Output: a one-row training report "
        "(sizes, first/last mean NLL, exact rank-statistic train AUC)."
    ),
    tags=("text", "quality", "classifier", "llm-pipeline"),
)
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import track_cache
    from ..operators.logreg import auc_rank, hashed_features, logreg_score, logreg_train

    docs = load(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("_doc"),
        F.col("source").isin("src0", "src1", "src2", "src3").cast("double").alias("y"),
    )
    feats = track_cache(hashed_features(docs, n_buckets=32))
    weights, losses = logreg_train(feats, labels, n_iters=8, lr=1.0, l2=1e-4)
    auc = auc_rank(logreg_score(feats, weights), labels)
    # n_docs and n_pos fused into ONE aggregate job (they were two separate
    # count() scans — guide §5); the projection matches the label frame
    # logreg_train pinned, so this reads the cache. y is exactly 0.0/1.0,
    # so sum(cast long) == the filtered count, bit-for-bit; coalesce keeps
    # all-NULL labels at 0 positives, as the filtered count was.
    lrow = (
        labels.select("_doc", F.col("y").cast("double").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("y").cast("long")), F.lit(0)).alias("n_pos"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                int(lrow["n"]),
                int(lrow["n_pos"]),
                len(weights),
                float(losses[0]),
                float(losses[-1]),
                float(auc),
            )
        ],
        "n_docs bigint, n_pos bigint, n_features int, "
        "loss_first double, loss_last double, auc double",
    )
