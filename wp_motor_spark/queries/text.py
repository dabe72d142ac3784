"""Text statistics and language models over `documents`: n-gram LMs and
perplexity, vocabulary growth and lexical diversity, keyness and
collocations, readability and overlap metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.operators import text
from wp_motor_spark.queries._common import _t, query
from wp_motor_spark.session import scoped_persist


_TOP_TOKENS_N = 50


@query(rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), agg AS (
  SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
  FROM filt GROUP BY token
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
       token, cnt, doc_freq
FROM agg
ORDER BY cnt DESC, token ASC
LIMIT {_TOP_TOKENS_N}
""", name="top_tokens")
def top_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency table (stopword derivation): top 50 tokens
    by (count desc, token asc) with corpus count and document frequency.
    Two-phase aggregation — map-side partial combine absorbs the Zipf
    head, final sort touches |vocab| rows only."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.top_tokens(docs, n=_TOP_TOKENS_N)


@query(r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), dl AS (
  SELECT doc_id, count(*) AS len FROM filt GROUP BY doc_id
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM filt GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM filt GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf / greatest(dl.len, 1)
               * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfreq.df),
               10) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token)
), ranked AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, string_agg(token, ',' ORDER BY rk) AS keywords
FROM ranked WHERE rk <= 5 GROUP BY doc_id
""", name="tfidf_keywords")
def tfidf_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords (tf/len * ln(N/df), ties by term):
    one token shuffle for df via run-boundary flags, id-keyed tf
    aggregation, broadcast idf join, per-doc ranking window."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.tfidf_keywords(docs, top_k=5)


@query(r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), filt AS (
  SELECT doc_id, token FROM tok WHERE length(token) >= 1
), dl AS (
  SELECT doc_id, count(*) AS len FROM filt GROUP BY doc_id
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM filt GROUP BY doc_id, token
), corpus AS (
  SELECT token, count(*) AS c FROM filt GROUP BY token
), total AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM filt
)
SELECT tf.doc_id,
       round(sum(tf.tf * -ln(corpus.c / total.n)) / greatest(dl.len, 1), 6)
         AS surprisal,
       round(sum(tf.tf * -ln(tf.tf / CAST(greatest(dl.len, 1) AS DOUBLE)))
             / greatest(dl.len, 1), 6) AS entropy
FROM tf JOIN corpus USING (token) JOIN dl USING (doc_id), total
GROUP BY tf.doc_id, dl.len
""", name="doc_information")
def doc_information_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc information signals: mean corpus-unigram surprisal
    (perplexity proxy) and within-doc token entropy. One token-keyed
    corpus count broadcast onto id-keyed (id, token, tf) rows."""
    from wp_motor_spark.operators import profile

    docs = _t(spark, sf_dir, "documents")
    return profile.doc_information(docs)


@query(r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), bg AS (
  SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
  WHERE len(a) >= 2
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c) AS ctx FROM c12 GROUP BY 1
)
SELECT bg.doc_id,
       round(CAST(exp(-avg(ln(CAST(c12.c AS DOUBLE) / c1.ctx))) AS DOUBLE), 4) AS ppl
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY 1
""")
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity (the CCNet-style quality
    signal: fluent text scores low, gibberish high) against a model
    trained on the corpus itself — P(w2|w1) = c(w1,w2) / c(w1·), doc
    score exp(-mean ln P). Every scored bigram exists in the counts (the
    corpus includes the doc), so no smoothing term is needed and the
    DuckDB oracle reproduces the number exactly.

    Scale shape: ONE bigram-keyed shuffle builds c(w1,w2); c(w1·) is a
    rollup of those counts; the per-doc score equi-joins the exploded
    bigrams against the count tables with NO broadcast hint — over raw
    web text the whitespace-token bigram TYPE count grows near-linearly
    with the corpus (Heaps' law: URLs, ids, numbers), so at 100 TB the
    model tables are tens of GB and must shuffle-join on (w1, w2) /
    (w1). AQE still picks a broadcast join automatically whenever the
    built table is in fact under the threshold (it is at test SFs), so
    the small case loses nothing. Text never shuffles; only
    (doc_id, w1, w2) triples move. The bigram stream and the c(w1,w2)
    model persist (r16): both are referenced twice (model build +
    scoring join; c1 rollup + join), and without the caches the text
    tokenization and the bigram agg each ran twice — narrow
    (long, word, word) / (word, word, long) rows, disk-spillable
    (guide §5 caching rule: reused AND recompute-expensive)."""
    docs = _t(spark, sf_dir, "documents")
    bg = scoped_persist(
        docs.select("doc_id", text.tokens(F.col("text")).alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.expr("slice(a, 1, size(a) - 1)"),
                    F.expr("slice(a, 2, size(a) - 1)"),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("z"),
        )
        .select("doc_id", "z.w1", "z.w2")
    )
    c12 = scoped_persist(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("ctx"))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.exp(-F.avg(F.log(F.col("c").cast("double") / F.col("ctx")))),
                4,
            ).alias("ppl")
        )
    )


@query(r"""
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS cw FROM (SELECT unnest(a) AS w FROM tok) GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM bg) AS n_bg, (SELECT sum(cw) FROM uni) AS n_uni
)
SELECT c12.w1, c12.w2, c12.c AS pair_count,
       round(ln((CAST(c12.c AS DOUBLE) / n_bg)
                / ((CAST(u1.cw AS DOUBLE) / n_uni)
                   * (CAST(u2.cw AS DOUBLE) / n_uni))), 4) AS pmi
FROM c12
JOIN uni u1 ON u1.w = c12.w1
JOIN uni u2 ON u2.w = c12.w2
CROSS JOIN tot
WHERE c12.c >= 20
ORDER BY pmi DESC, c12.w1, c12.w2
LIMIT 20
""")
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations over the corpus: ln(N·c(a,b) / (c(a)·c(b)))
    for bigrams seen ≥ 20 times — the classic phrase-mining signal
    (Church & Hanks 1990). Top 20 by PMI.

    Scale shape: ONE bigram-keyed shuffle for c(a,b); unigram counts
    are a separate token-keyed rollup; totals are one-row broadcast
    aggs. The scoring joins carry NO broadcast hint on the unigram
    table — a raw-text vocab grows under Heaps' law (1e8-1e9 distinct
    tokens at 100 TB), so the c≥20 frequent-bigram frame shuffle-joins
    on w1/w2; AQE broadcasts the unigram side at runtime when actually
    small. Text never shuffles — only (w1, w2, count) triples move;
    TakeOrderedAndProject caps the result."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured both the
    # token-array cache and the count-frame caches net-negative locally
    toks = docs.select(text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 2
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("z")
    ).select("z.w1", "z.w2")
    # Explicit not-null filter (a no-op: split() never yields NULL tokens)
    # so the c12 subtree canonicalizes identically in the scoring branch
    # (where the inner join pushes isnotnull down) and the totals branch —
    # otherwise ReuseExchange misses and the bigram pass runs twice.
    bg = bg.where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = toks.select(F.explode("a").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    )
    # Corpus totals fold INTO the plan as a broadcast one-row frame (the
    # customer_deciles bounds pattern): n_bg = Σ c(a,b) and n_uni = Σ c(w)
    # derive from the already-aggregated count tables, so the query runs
    # as ONE action with ReusedExchange on the c12/uni shuffles instead
    # of separate count()/collect() passes re-tokenizing the corpus.
    totals = c12.agg(F.sum("c").cast("double").alias("n_bg")).crossJoin(
        uni.agg(F.sum("cw").cast("double").alias("n_uni"))
    )
    return (
        c12.where(F.col("c") >= 20)
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("cw", "c1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("cw", "c2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c").cast("double") / F.col("n_bg"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), corpus AS (
  SELECT w, sum(c) AS cw FROM cnt GROUP BY 1
), src_tot AS (
  SELECT source, sum(c) AS ns FROM cnt GROUP BY 1
), tot AS (
  SELECT CAST(sum(ns) AS DOUBLE) AS n FROM src_tot
)
SELECT cnt.source,
       CAST(first(ns) AS BIGINT) AS n_tokens,
       round(sum((CAST(c AS DOUBLE) / ns)
                 * ln((CAST(c AS DOUBLE) / ns) / (CAST(cw AS DOUBLE) / n))),
             4) AS kl
FROM cnt
JOIN src_tot USING (source)
JOIN corpus USING (w)
CROSS JOIN tot
GROUP BY 1
""")
def domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution from
    the corpus distribution — the standard domain-skew signal when mixing
    training-data sources (cf. DoReMi / data-mixture papers).

    Scale shape: one (source, token)-keyed count shuffle; corpus counts
    and source totals derive from it (ReusedExchange); the corpus total
    folds in as a broadcast one-row frame; final agg is per-source (tiny).
    Documents never shuffle — only (source, token, count) triples."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    corpus = cnt.groupBy("w").agg(F.sum("c").alias("cw"))
    src_tot = cnt.groupBy("source").agg(F.sum("c").alias("ns"))
    n_tot = src_tot.agg(F.sum("ns").cast("double").alias("n"))
    p_s = F.col("c").cast("double") / F.col("ns")
    p_c = F.col("cw").cast("double") / F.col("n")
    return (
        cnt.join(F.broadcast(src_tot), "source")
        .join(corpus, "w")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.first("ns").cast("long").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 4).alias("kl"),
        )
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY 1
  ) WHERE c >= 5
  ORDER BY c DESC, w
  LIMIT 1000
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(CAST(count(*) FILTER (WHERE v.w IS NULL) AS DOUBLE) / count(*),
             4) AS oov_rate
FROM tok LEFT JOIN vocab v USING (w)
GROUP BY 1
""")
def vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-derived
    vocabulary (top 1000 tokens with count >= 5, ties broken by token) —
    the coverage check run before committing to a tokenizer vocab.

    Scale shape: vocabulary = token-keyed count agg + TakeOrdered top-K,
    then BROADCAST into the per-token probe (no vocab-side shuffle);
    the only other exchange groups (doc_id, flag) pairs. The vocab is a
    lazy subplan — no driver collect during query build."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 5)
        .orderBy(F.desc("c"), "w")
        .limit(1000)
        .select("w", F.lit(1).alias("__in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
), bg AS (
  SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
  WHERE len(a) >= 2
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c) AS ctx FROM c12 GROUP BY 1
), ppl AS (
  SELECT bg.doc_id,
         round(CAST(exp(-avg(ln(CAST(c12.c AS DOUBLE) / c1.ctx))) AS DOUBLE),
               4) AS ppl
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY 1
), j AS (
  SELECT p.doc_id, d.source, p.ppl
  FROM ppl p JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
), q AS (
  SELECT source,
         quantile_cont(ppl, 1.0/3) AS q1,
         quantile_cont(ppl, 2.0/3) AS q2
  FROM j GROUP BY 1
)
SELECT doc_id, j.source, ppl,
       CASE WHEN ppl <= q1 THEN 'head'
            WHEN ppl <= q2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN q ON j.source = q.source
""")
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    source, split documents into head / middle / tail by the tertiles
    of their bigram-LM perplexity — the mixture knob CCNet uses to
    up-sample fluent text per language/source shard.

    Scale shape: per-source tertile CUT POINTS come from a TWO-LEVEL
    exact computation with bounded state — (1) a (source, rounded-ppl)
    count histogram (every agg buffer is one scalar count; a plain
    `percentile` agg would buffer a per-source value->count map whose
    size scales with the source's distinct-ppl count, ~1e7-1e8 entries
    in one in-memory buffer at 100 TB), (2) a per-source cumulative sum
    over the histogram (a window SORT, which spills to disk, over
    distinct values only) locates the two p*(n-1) index positions and
    linearly interpolates exactly like Spark `percentile` / DuckDB
    `quantile_cont` (lower + frac*(upper - lower) on doubles). The
    |sources|-row cut frame broadcasts back and the bucket label is a
    map-side comparison — deliberately NOT a per-source ntile window,
    whose total order would send every doc of one source through one
    reducer at 100 TB. Cuts and the comparison use the ROUNDED ppl so
    the DuckDB oracle lands on identical buckets."""
    ppl = lm_perplexity(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # persist the tiny (doc_id, source, ppl) frame: it feeds BOTH the
    # histogram/cut branch and the final bucket join, and without the
    # cache the whole bigram-LM subtree executes twice (4 FileScans ->
    # 2). |docs| rows x 3 scalars — disk-spillable at any corpus size.
    j = scoped_persist(ppl.join(src, "doc_id"))
    hist = j.groupBy("source", "ppl").agg(F.count(F.lit(1)).alias("cnt"))
    wsrc = Window.partitionBy("source").orderBy("ppl")
    cum = (
        hist.withColumn("hi", F.sum("cnt").over(wsrc))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
    )
    n = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    # index positions for p in {1/3, 2/3}: pos = p*(n-1); the value at
    # global 0-based index i lives on the histogram row with lo <= i < hi
    cum = cum.join(F.broadcast(n), "source")

    def _cut(p: float, tag: str):
        pos = F.lit(p) * (F.col("n") - 1).cast("double")
        ilo, ihi = F.floor(pos), F.ceil(pos)
        return [
            F.max(
                F.when((F.col("lo") <= ilo) & (ilo < F.col("hi")), F.col("ppl"))
            ).alias(f"vlo_{tag}"),
            F.max(
                F.when((F.col("lo") <= ihi) & (ihi < F.col("hi")), F.col("ppl"))
            ).alias(f"vhi_{tag}"),
            F.max(pos - F.floor(pos).cast("double")).alias(f"frac_{tag}"),
        ]

    q = (
        cum.groupBy("source")
        .agg(*_cut(1.0 / 3, "1"), *_cut(2.0 / 3, "2"))
        .select(
            "source",
            (F.col("vlo_1") + F.col("frac_1") * (F.col("vhi_1") - F.col("vlo_1"))).alias("q1"),
            (F.col("vlo_2") + F.col("frac_2") * (F.col("vhi_2") - F.col("vlo_2"))).alias("q2"),
        )
    )
    return j.join(F.broadcast(q), "source").select(
        "doc_id",
        "source",
        "ppl",
        F.when(F.col("ppl") <= F.col("q1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("q2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@query(r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS r
  FROM cnt
)
SELECT source,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))),
             4) AS zipf_slope,
       count(*) AS n_ranks
FROM rk WHERE r <= 1000
GROUP BY 1
""")
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over
    the top-1000 token ranks — the corpus-health fingerprint (natural
    language sits near -1; machine-generated or template-heavy sources
    drift flatter), the quick screen a mixture pipeline runs per crawl.

    Scale shape: one (source, token) shuffle builds the counts; the
    top-1000 cut is the same TWO-PHASE rank brute_force_topk uses
    (local top-1000 per scan partition first, so no reducer holds a
    source's whole vocabulary); the regression is a per-source
    aggregate over <= 1000 rows via built-in regr_slope. Ranks
    tie-break (count desc, token asc) in both engines so the cut is
    identical."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    order = (F.desc("c"), F.asc("w"))
    w1 = Window.partitionBy("source", "__pid").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    ranked = (
        cnt.withColumn("__pid", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(w1))
        .where(F.col("__pr") <= 1000)
        .drop("__pid", "__pr")
        .withColumn("r", F.row_number().over(w2))
        .where(F.col("r") <= 1000)
    )
    return ranked.groupBy("source").agg(
        F.round(
            F.regr_slope(F.log(F.col("c").cast("double")), F.log("r")), 4
        ).alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


@query(r"""
WITH t AS (
  SELECT source,
         len(string_split_regex(trim(lower(text)), '\s+')) AS n
  FROM documents
)
SELECT source,
       CAST(floor(log2(n)) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS tokens
FROM t
GROUP BY 1, 2
""")
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log2-bucketed document-length histogram (the
    sequence-length telemetry that sizes packing windows and context
    budgets): bucket = floor(log2(n_tokens)), with doc counts and the
    bucket's token share.

    Scale shape: MAP-ONLY projection (tokenize + size + log2) feeding a
    (source, bucket) agg — bounded output (|sources| x ~20 buckets),
    map-side partials absorb everything."""
    docs = _t(spark, sf_dir, "documents")
    n = F.size(text.tokens(F.col("text")))
    return (
        docs.select("source", n.alias("n"))
        .groupBy("source", F.floor(F.log2("n")).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("tokens"),
        )
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents WHERE n_chars > 0
), e AS (
  SELECT doc_id,
         round(CAST(-list_sum(list_transform(
             list_transform(list_distinct(a),
                            t -> len(list_filter(a, x -> x = t))
                                 / CAST(len(a) AS DOUBLE)),
             p -> p * ln(p))) AS DOUBLE), 4) AS token_entropy,
         round(len(list_distinct(a)) / CAST(len(a) AS DOUBLE), 4) AS ttr
  FROM tok
)
SELECT doc_id, token_entropy, ttr, token_entropy < 3.0 AS low_entropy
FROM e
""")
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy + type-token
    ratio — the cheap repetitiveness screen a curation pipeline runs
    before the expensive LM scorers (a doc whose tokens concentrate on
    a few types has low entropy; spam/template text lands here first).

    Scale shape: MAP-ONLY — the entropy is computed inside one
    projection with array HOFs over each row's own token array
    (distinct-types x tokens comparisons per row, bounded by doc
    length), so NOTHING shuffles; the filter flag is a literal
    comparison. At 100 TB this is a single scan with full codegen."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    return (
        # n_chars > 0 guards empty docs with a SCAN-column comparison the
        # parquet reader pushes down (a size(a) >= 1 post-split filter
        # can't push; split of a trimmed non-empty string is never empty)
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", text.tokens(F.col("text")).alias("a"))
        .select(
            "doc_id",
            F.round(
                F.expr(
                    "aggregate(transform(array_distinct(a),"
                    " t -> size(filter(a, x -> x = t)) / cast(size(a) as double)),"
                    " 0D, (acc, p) -> acc - p * ln(p))"
                ),
                4,
            ).alias("token_entropy"),
            F.round(
                F.size(F.array_distinct(F.col("a")))
                / F.size(F.col("a")).cast("double"),
                4,
            ).alias("ttr"),
        )
        .withColumn("low_entropy", F.col("token_entropy") < 3.0)
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS train,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), tok3 AS (
  SELECT * FROM tok WHERE len(a) >= 3
), tri AS (
  SELECT doc_id, train, u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
  FROM tok3, LATERAL (
    SELECT unnest(list_zip(a[1:len(a)-2], a[2:len(a)-1], a[3:])) AS z) u
), bg AS (
  SELECT train, u.z[1] AS w1, u.z[2] AS w2
  FROM tok3, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), un AS (
  SELECT train, u.w AS w FROM tok3, LATERAL (SELECT unnest(a) AS w) u
), c123 AS (
  SELECT w1, w2, w3, count(*) AS c123 FROM tri WHERE train GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg WHERE train GROUP BY 1, 2
), c1 AS (
  SELECT w, count(*) AS c1 FROM un WHERE train GROUP BY 1
), n_tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_tot FROM un WHERE train
)
SELECT doc_id,
       round(CAST(exp(-avg(ln(
         CASE
           WHEN c123.c123 IS NOT NULL
             THEN CAST(c123.c123 AS DOUBLE) / b12.c12
           WHEN b23.c12 IS NOT NULL
             THEN 0.4 * CAST(b23.c12 AS DOUBLE) / u2.c1
           WHEN u3.c1 IS NOT NULL
             THEN 0.16 * CAST(u3.c1 AS DOUBLE) / n_tot
           ELSE 0.16 / n_tot
         END))) AS DOUBLE), 4) AS sbo_ppl
FROM tri
LEFT JOIN c123 USING (w1, w2, w3)
LEFT JOIN c12 b12 ON tri.w1 = b12.w1 AND tri.w2 = b12.w2
LEFT JOIN c12 b23 ON tri.w2 = b23.w1 AND tri.w3 = b23.w2
LEFT JOIN c1 u2 ON tri.w2 = u2.w
LEFT JOIN c1 u3 ON tri.w3 = u3.w
CROSS JOIN n_tot
GROUP BY 1
""")
def stupid_backoff_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram Stupid-Backoff score (Brants et al. 2007,
    "Large Language Models in Machine Translation": S(w3|w1w2) =
    c123/c12, backing off to 0.4*c23/c2, then 0.4^2*c3/N; unseen
    unigrams floor at 0.4^2/N) with the model trained on the EVEN
    doc_ids only — the held-out odd docs genuinely exercise the backoff
    chain, which is the point of the scheme at web scale. Reported as
    sbo_ppl = exp(-mean ln S): the distribution-shift screen that beats
    the self-trained bigram `lm_perplexity` at flagging out-of-domain
    shards.

    Scale shape: counts build from the training half in n-gram-keyed
    shuffles; scoring left-joins the exploded trigram stream against the
    count tables with NO broadcast hints — distinct trigram AND bigram
    types grow near-linearly with web-scale corpora, and even the
    whitespace-token unigram "vocab" keeps growing under Heaps' law
    (URLs, ids, numbers), so every model join is a shuffled hash join
    on its n-gram key; AQE converts any side that is actually small
    (all of them at test SFs) to a broadcast join at runtime. Only
    (doc, w1, w2, w3) tuples move; the doc text never shuffles. The
    one-row (N) frame stays an explicit broadcast cross join — it is
    genuinely bounded at one row."""
    docs = _t(spark, sf_dir, "documents")
    # persisted (r16): the token frame feeds FIVE subtrees (trigram
    # stream x2, bigram stream, unigram stream x2) — the tokenization
    # ran five times without the cache; (long, bool, array<word>) rows,
    # disk-spillable
    tok = scoped_persist(
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2 == 0).alias("train"),
            text.tokens(F.col("text")).alias("a"),
        ).where(F.size("a") >= 3)
    )
    tri = tok.select(
        "doc_id",
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 2),"
                " i -> struct(a[i-1] as w1, a[i] as w2, a[i+1] as w3))"
            )
        ).alias("z"),
    ).select("doc_id", "train", "z.w1", "z.w2", "z.w3")
    bg = tok.select(
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(a[i-1] as w1, a[i] as w2))"
            )
        ).alias("z"),
    ).select("train", "z.w1", "z.w2")
    un = tok.select("train", F.explode("a").alias("w"))

    c123 = (
        tri.where("train")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    c12 = (
        bg.where("train")
        .groupBy(F.col("w1").alias("b1"), F.col("w2").alias("b2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = (
        un.where("train").groupBy(F.col("w").alias("u1"))
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_tot = un.where("train").agg(
        F.count(F.lit(1)).cast("double").alias("n_tot")
    )

    scored = (
        tri.join(c123, ["w1", "w2", "w3"], "left")
        .join(
            c12,
            (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")),
            "left",
        )
        .join(
            c12.toDF("q2", "q3", "c23"),
            (F.col("w2") == F.col("q2")) & (F.col("w3") == F.col("q3")),
            "left",
        )
        .join(c1.toDF("u2", "c2"), F.col("w2") == F.col("u2"), "left")
        .join(c1.toDF("u3", "c3"), F.col("w3") == F.col("u3"), "left")
        .crossJoin(F.broadcast(n_tot))
    )
    s = (
        F.when(
            F.col("c123").isNotNull(),
            F.col("c123").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            0.4 * F.col("c23").cast("double") / F.col("c2"),
        )
        .when(
            F.col("c3").isNotNull(),
            0.16 * F.col("c3").cast("double") / F.col("n_tot"),
        )
        .otherwise(0.16 / F.col("n_tot"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.exp(-F.avg(F.log(s))), 4).alias("sbo_ppl")
    )


@query(r"""
WITH toks AS (
  SELECT source, doc_id, u.tk AS tk
  FROM (SELECT source, doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS a
        FROM documents) t,
  LATERAL (SELECT unnest(a) AS tk) u
), firstdoc AS (
  SELECT source, tk, min(doc_id) AS fd FROM toks GROUP BY 1, 2
), docn AS (
  SELECT source, doc_id, count(*) AS n FROM toks GROUP BY 1, 2
), maxid AS (
  SELECT max(doc_id) AS mx FROM documents
), lattice AS (
  SELECT unnest([power(2, k)::BIGINT FOR k IN range(4, 31)]) AS thr
), v AS (
  SELECT source, thr, count(*) AS v
  FROM firstdoc, lattice, maxid
  WHERE fd <= thr AND thr <= 2 * mx
  GROUP BY 1, 2
), n AS (
  SELECT source, thr, sum(docn.n) AS n
  FROM docn, lattice, maxid
  WHERE doc_id <= thr AND thr <= 2 * mx
  GROUP BY 1, 2
)
SELECT source, count(*) AS points,
       round(regr_slope(ln(CAST(v AS DOUBLE)), ln(CAST(n AS DOUBLE))), 4)
         AS heaps_beta
FROM v JOIN n USING (source, thr)
GROUP BY 1
""")
def heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Heaps'-law exponent (Heaps 1978: vocabulary grows as
    V = K * N^beta, beta ~0.4-0.6 for natural language): OLS slope of
    ln V on ln N over doc_id-prefix checkpoints — a corpus whose beta
    collapses toward 0 is template/boilerplate-dominated; one drifting
    toward 1 is ID/hash noise. The crawl-health twin of `zipf_slope`.

    Scale shape: checkpoints are a FIXED power-of-two doc_id lattice, so
    both V and N come from conditional aggregations with NO per-source
    total order (the naive cumulative-distinct needs a per-source
    ordered window = one reducer per source at 100 TB). V(thr) = count
    of tokens whose FIRST doc_id <= thr — one (source, token)-keyed
    shuffle bounded by vocab size; N(thr) = conditional sums over the
    per-doc count frame. The lattice caps at 2*max(doc_id) via a
    broadcast one-row max (lint: ALLOWED one-row broadcast), keeping
    every checkpoint informative; the regression input is
    |sources| x |lattice| rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(text.tokens(F.col("text"))).alias("tk")
    )
    firstdoc = toks.groupBy("source", "tk").agg(F.min("doc_id").alias("fd"))
    docn = toks.groupBy("source", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    maxid = docs.agg(F.max("doc_id").alias("mx"))

    thr = F.explode(
        F.array(*[F.lit(2 ** k) for k in range(4, 31)])
    ).alias("thr")
    v = (
        firstdoc.select("source", "fd")
        .crossJoin(F.broadcast(maxid))
        .select("source", "fd", thr, "mx")
        .where((F.col("fd") <= F.col("thr")) & (F.col("thr") <= 2 * F.col("mx")))
        .groupBy("source", "thr")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    n = (
        docn.crossJoin(F.broadcast(maxid))
        .select("source", "doc_id", "n", thr, "mx")
        .where(
            (F.col("doc_id") <= F.col("thr")) & (F.col("thr") <= 2 * F.col("mx"))
        )
        .groupBy("source", "thr")
        .agg(F.sum("n").alias("n"))
    )
    return (
        v.join(n, ["source", "thr"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("points"),
            F.round(
                F.regr_slope(F.log(F.col("v").cast("double")),
                             F.log(F.col("n").cast("double"))),
                4,
            ).alias("heaps_beta"),
        )
    )


@query(r"""
WITH cnt AS (
  SELECT u.tk AS tk, count(*) AS exact_cnt
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS a
        FROM documents) t,
  LATERAL (SELECT unnest(a) AS tk) u
  GROUP BY 1
), cells AS (
  SELECT s.seed,
         ('0x' || substr(md5(s.seed || ':' || tk), 1, 8))::BIGINT % 1024 AS b,
         sum(exact_cnt) AS cell
  FROM cnt, (SELECT unnest([0, 1, 2, 3]) AS seed) s
  GROUP BY 1, 2
), top AS (
  SELECT tk, exact_cnt,
         row_number() OVER (ORDER BY exact_cnt DESC, tk) AS rk
  FROM cnt QUALIFY rk <= 20
)
SELECT tk, exact_cnt,
       -- CAST: cell is SUM(BIGINT) = HUGEINT, which pandas/Arrow
       -- materializes as float64 ('888.0' vs Spark's long '888') in the
       -- driver's exact comparison
       CAST(min(cell) AS BIGINT) AS cm_est,
       round((min(cell) - exact_cnt) / CAST(exact_cnt AS DOUBLE), 4)
         AS rel_overestimate,
       rk
FROM top JOIN cells
  ON cells.b = ('0x' || substr(md5(cells.seed || ':' || tk), 1, 8))::BIGINT
               % 1024
GROUP BY tk, exact_cnt, rk
""")
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, evaluated on the exact top-20 heavy hitters: estimated vs
    exact count and relative overestimate — the fixed-memory frequency
    sketch a streaming curation pipeline keeps per shard (d=4 rows x
    w=1024 buckets = 4096 counters regardless of vocabulary size).
    Hashes are md5-derived so the DuckDB oracle computes the IDENTICAL
    sketch (same convention as winnow_fingerprints/training_shards).

    Scale shape: exact counts are one token-keyed shuffle (bounded
    vocab); the sketch itself aggregates the |vocab| count frame into
    <= 4096 (seed, bucket) cells — at 100 TB the sketch build is a
    rollup of the count table, NOT a second pass over the corpus; the
    top-20 cut is the two-phase rank. Estimate lookup joins the 20-row
    frame against the broadcast 4096-cell table."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )

    def bucket(seed: int, col):
        h = F.md5(F.concat_ws(":", F.lit(str(seed)), col))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(1024)
        )

    cells = (
        cnt.select(
            "exact_cnt",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("seed"), bucket(s, F.col("tk")).alias("b")
                    )
                    for s in range(4)
                ])
            ).alias("z"),
        )
        .groupBy("z.seed", "z.b")
        .agg(F.sum("exact_cnt").alias("cell"))
    )
    order = (F.desc("exact_cnt"), F.asc("tk"))
    w_part = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    w_all = Window.orderBy(*order)
    top = (
        cnt.withColumn("__pr", F.row_number().over(w_part))
        .where(F.col("__pr") <= 20)
        .withColumn("rk", F.row_number().over(w_all))
        .where(F.col("rk") <= 20)
        .select("tk", "exact_cnt", "rk")
    )
    est = None
    t = top
    for s in range(4):
        t = t.join(
            F.broadcast(
                cells.where(F.col("seed") == s).select(
                    F.col("b").alias(f"b{s}"), F.col("cell").alias(f"cell{s}")
                )
            ),
            bucket(s, F.col("tk")) == F.col(f"b{s}"),
        )
        e = F.col(f"cell{s}")
        est = e if est is None else F.least(est, e)
    return t.select(
        "tk",
        "exact_cnt",
        est.alias("cm_est"),
        F.round((est - F.col("exact_cnt")) / F.col("exact_cnt"), 4).alias(
            "rel_overestimate"
        ),
        "rk",
    )


@query(r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n1,
       CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n2,
       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / sum(c), 6) AS p0,
       CASE WHEN count(*) FILTER (WHERE c = 1) > 0
            THEN round(2.0 * count(*) FILTER (WHERE c = 2)
                       / count(*) FILTER (WHERE c = 1), 6)
       END AS r_star
FROM cnt
GROUP BY source
""")
def good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simple Good-Turing unseen-probability mass (Gale &
    Sampson 1995): p0 = N1/N, the probability a NEXT token is a type
    never seen in this source — the coverage estimate a tokenizer/vocab
    build runs per crawl to decide whether a source is under-sampled.
    Also emits the Turing-adjusted singleton count r* = 2*N2/N1.

    Scale shape: one (source, token) shuffle builds the count table
    (map-side partial agg carries only distinct tokens per partition);
    the frequency-of-frequency rollup is a second tiny agg over the
    count table (|vocab| rows, not |corpus|); output is |sources| rows.
    No windows, no driver state — linear at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.count_if(F.col("c") == 1).alias("n1"),
            F.count_if(F.col("c") == 2).alias("n2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n1",
            "n2",
            F.round(F.col("n1") / F.col("n_tokens"), 6).alias("p0"),
            # a source with zero singletons has no Turing estimate (NULL
            # on both sides, not a divide-by-zero)
            F.when(
                F.col("n1") > 0, F.round(2.0 * F.col("n2") / F.col("n1"), 6)
            ).alias("r_star"),
        )
    )


@query(r"""
WITH tok AS (
  SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT source, 1 AS n, unnest(t) AS g FROM tok
  UNION ALL
  SELECT source, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM tok
  WHERE len(t) >= 2
)
SELECT source, n,
       count(*) AS total,
       count(DISTINCT g) AS uniq,
       round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
         AS distinct_ratio
FROM grams
GROUP BY 1, 2
""")
def distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-n diversity (Li et al. 2016, "A Diversity-
    Promoting Objective Function"): |unique n-grams| / |n-grams| for
    n=1,2 — the template/boilerplate screen (machine-generated sources
    repeat bigrams, driving distinct-2 down) run before mixture
    weighting.

    Scale shape: unigrams and bigrams are built MAP-ONLY with array HOFs
    per row, then two (source, gram) distinct aggregations — the same
    partial-agg shuffle shape as the count tables; output |sources|
    rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", text.tokens(F.col("text")).alias("t")
    )
    grams = toks.select(
        "source",
        F.explode(
            F.concat(
                F.transform(F.col("t"), lambda w: F.concat(F.lit("1\x01"), w)),
                F.when(
                    F.size("t") >= 2,
                    F.transform(
                        F.slice(F.col("t"), 1, F.size("t") - 1),
                        lambda w, i: F.concat(
                            F.lit("2\x01"), w, F.lit(" "),
                            F.element_at(F.col("t"), i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("g"),
    )
    return (
        grams.select("source", F.substring("g", 1, 1).alias("n"), "g")
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct("g").alias("uniq"),
        )
        .select(
            "source",
            F.col("n").cast("int").alias("n"),
            "total",
            "uniq",
            F.round(F.col("uniq") / F.col("total"), 6).alias("distinct_ratio"),
        )
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, doc_id % 2 = 0 AS train,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE length(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT doc_id, train, a[i] AS w1, a[i+1] AS w2
  FROM tok, UNNEST(range(1, length(a))) AS t(i)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE train GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1p_fw
  FROM bg WHERE train GROUP BY w1
), cont AS (
  SELECT w2, COUNT(*) AS n1p_bw
  FROM (SELECT DISTINCT w1, w2 FROM bg WHERE train) GROUP BY w2
), tt AS (
  SELECT COUNT(*) AS T FROM (SELECT DISTINCT w1, w2 FROM bg WHERE train)
), scored AS (
  SELECT b.doc_id,
    GREATEST(
      CASE WHEN c1.c1 IS NOT NULL THEN
        GREATEST(COALESCE(c12.c12, 0) - 0.75, 0.0) / c1.c1
        + 0.75 * c1.n1p_fw / c1.c1 * (COALESCE(cont.n1p_bw, 0) * 1.0 / tt.T)
      ELSE COALESCE(cont.n1p_bw, 0) * 1.0 / tt.T END,
      1.0 / (tt.T + 1)) AS p
  FROM bg b
  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
  LEFT JOIN cont ON b.w2 = cont.w2
  CROSS JOIN tt
  WHERE NOT b.train
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(EXP(-AVG(LN(p))), 3) AS kn_ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
""")
def kneser_ney_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Chen & Goodman 1999,
    "An Empirical Study of Smoothing Techniques", eq. 18; fixed discount
    D=0.75): P(w2|w1) = max(c12-D,0)/c1 + D·N1+(w1,·)/c1 · Pcont(w2),
    Pcont(w2) = N1+(·,w2)/T with T = distinct bigram types. The model
    trains on EVEN doc_ids; the held-out odd docs score kn_ppl =
    exp(-mean ln P). Unseen w1 falls back to Pcont alone; a fully-unseen
    continuation floors at 1/(T+1) — the KN continuation estimate is the
    piece stupid-backoff lacks, and the pair of scores is the standard
    LM-based domain screen.

    Scale shape: counts build from the training half in bigram-keyed
    partial-agg shuffles; scoring left-joins the exploded bigram stream
    against the bigram count table AND the unigram/continuation tables
    with NO broadcast hints — distinct bigram types grow with the
    corpus, and even the whitespace-token unigram "vocab" keeps growing
    under Heaps' law (1e8-1e9 distinct tokens at 100 TB), so all three
    model joins are shuffled hash joins on their n-gram key; AQE
    broadcasts any side that is actually small at runtime. The one-row
    T total is a broadcast cross join. Only (doc,w1,w2) tuples move."""
    from wp_motor_spark.operators import text

    D = 0.75
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("train"),
        text.tokens(F.col("text")).alias("a"),
    ).where(F.size("a") >= 2)
    # NOT persisted (r16 interleaved A/B: caching the exploded string
    # stream measured 1.59 -> 2.23 s med — the columnar cache encode of
    # wide string rows costs more than re-deriving; only the bounded
    # aggregates below cache)
    bg = tok.select(
        "doc_id",
        "train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(a[i-1] as w1, a[i] as w2))"
            )
        ).alias("z"),
    ).select("doc_id", "train", "z.w1", "z.w2")
    train = bg.where("train")
    c12 = train.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = train.groupBy("w1").agg(
        F.count("*").alias("c1"), F.count_distinct("w2").alias("n1p_fw")
    )
    # |bigram types|-bounded distinct, referenced by BOTH cont and T
    types = scoped_persist(train.select("w1", "w2").distinct())
    cont = types.groupBy("w2").agg(F.count("*").alias("n1p_bw"))
    t_total = types.agg(F.count("*").alias("T"))
    test = bg.where(~F.col("train"))
    scored = (
        test.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(t_total))
    )
    pcont = F.coalesce(F.col("n1p_bw"), F.lit(0)) / F.col("T")
    p_seen_w1 = (
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - F.lit(D), F.lit(0.0))
        / F.col("c1")
        + F.lit(D) * F.col("n1p_fw") / F.col("c1") * pcont
    )
    p = F.when(F.col("c1").isNotNull(), p_seen_w1).otherwise(pcont)
    p = F.greatest(p, F.lit(1.0) / (F.col("T") + F.lit(1)))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.exp(-F.avg(F.log(p))), 3).alias("kn_ppl"),
        )
        .orderBy("doc_id")
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
), m AS (
  SELECT doc_id,
    len(a) AS n_words,
    GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) != '')), 1) AS n_sentences,
    list_sum(list_transform(a,
      w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS n_syllables
  FROM tok
)
SELECT doc_id, n_words, n_sentences, CAST(n_syllables AS BIGINT) AS n_syllables,
  round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
               - 84.6 * (n_syllables * 1.0 / n_words), 4) AS fre,
  round(0.39 * (n_words * 1.0 / n_sentences)
        + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 4) AS fk_grade
FROM m
""")
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade level (Flesch 1948;
    Kincaid et al. 1975) — the readability screen education-quality
    corpus filters (e.g. FineWeb-Edu-style pipelines) run per document.
    Syllables use the standard vowel-group heuristic (runs of [aeiouy],
    min 1 per word); sentences split on [.!?]+ runs, blank segments
    dropped, floor 1.

    Scale shape: MAP-ONLY — tokenization, the per-word syllable fold,
    and the sentence count are all HOF expressions inside whole-stage
    codegen; no shuffle, no UDF, text never moves."""
    docs = _t(spark, sf_dir, "documents")
    words = text.tokens(F.col("text"))
    n_words = F.size(words)
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda a, w: a
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
        ).cast("long"),
    )
    n_sent = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    wps = n_words.cast("double") / n_sent
    spw = syl.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("fre"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    )


@query(r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok != ''
  GROUP BY doc_id, tok
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS v_types,
         SUM(c * c) AS s2
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, v_types,
  round(1e4 * (s2 - n_tokens) / CAST(n_tokens * n_tokens AS DOUBLE), 4)
    AS yule_k,
  CASE WHEN n_tokens > 1
       THEN round(ln(CAST(v_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 4)
  END AS herdan_c
FROM agg
""")
def yule_k_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity characteristics per document: Yule's K (Yule
    1944, "The Statistical Study of Literary Vocabulary": K = 1e4 *
    (sum_t f_t^2 - N) / N^2 — repetitiveness that is length-robust,
    unlike raw TTR) and Herdan's C (ln V / ln N). Low K + high C =
    varied vocabulary; repetition loops and keyword-stuffed spam spike
    K — the length-insensitive cousin of the `doc_repetition` screen.

    Scale shape: one (doc_id, token) partial-agg shuffle builds the
    per-doc frequency spectrum, one doc-keyed rollup closes it; sums
    are exact integers until the final division. No model table, no
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("v_types"),
            F.sum(F.col("c") * F.col("c")).alias("__s2"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "v_types",
            F.round(
                F.lit(1e4)
                * (F.col("__s2") - F.col("n_tokens"))
                / (F.col("n_tokens") * F.col("n_tokens")).cast("double"),
                4,
            ).alias("yule_k"),
            F.when(
                F.col("n_tokens") > 1,
                F.round(
                    F.log(F.col("v_types").cast("double"))
                    / F.log(F.col("n_tokens").cast("double")),
                    4,
                ),
            ).alias("herdan_c"),
        )
    )


@query(r"""
WITH toks AS (
  SELECT DISTINCT doc_id, source IN ('src0', 'src1') AS pos, tok
  FROM (SELECT doc_id, source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok != ''
), cont AS (
  SELECT tok,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM toks GROUP BY tok
), totals AS (
  SELECT SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN source NOT IN ('src0','src1') THEN 1 ELSE 0 END) AS n_neg
  FROM documents
), j AS (
  SELECT tok, a, b, n_pos - a AS c, n_neg - b AS d, n_pos + n_neg AS n
  FROM cont, totals
)
SELECT tok, a AS pos_docs, b AS neg_docs,
  round(CAST(n AS DOUBLE) * power(a * d - b * c, 2)
        / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE), 4) AS chi2
FROM j
WHERE (a + b) * (c + d) * (a + c) * (b + d) > 0
ORDER BY chi2 DESC, tok
LIMIT 20
""")
def chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection (Yang & Pedersen 1997, "A
    Comparative Study on Feature Selection in Text Categorization"):
    rank tokens by their chi^2 association with the curated class
    (source in src0/src1 — the same supervision naive_bayes_quality
    trains on), using DOCUMENT-level contingency tables (a, b, c, d =
    docs with/without the token in each class). Top-20 features — the
    vocabulary a lightweight quality classifier would actually use.

    Scale shape: one (token, doc-class) distinct + count shuffle
    builds the contingency counts; class totals fold in as a one-row
    broadcast; chi^2 is map-side arithmetic on exact longs and the
    result is a TakeOrdered top-20. NO broadcast of the token table
    (Heaps' law — the BCAST_GROWING rule)."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            (F.col("source").isin("src0", "src1")).alias("pos"),
            F.explode(F.array_distinct(text.tokens(F.col("text")))).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    cont = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("b"),
    )
    totals = docs.agg(
        F.sum(F.when(F.col("source").isin("src0", "src1"), 1).otherwise(0)).alias(
            "n_pos"
        ),
        F.sum(F.when(~F.col("source").isin("src0", "src1"), 1).otherwise(0)).alias(
            "n_neg"
        ),
    )
    j = cont.crossJoin(F.broadcast(totals)).select(
        "tok",
        "a",
        "b",
        (F.col("n_pos") - F.col("a")).alias("c"),
        (F.col("n_neg") - F.col("b")).alias("d"),
        (F.col("n_pos") + F.col("n_neg")).alias("n"),
    )
    num = (
        F.col("n").cast("double")
        * F.pow(F.col("a") * F.col("d") - F.col("b") * F.col("c"), 2)
    )
    den = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    ).cast("double")
    return (
        j.where(den > 0)
        .select(
            "tok",
            F.col("a").alias("pos_docs"),
            F.col("b").alias("neg_docs"),
            F.round(num / den, 4).alias("chi2"),
        )
        .orderBy(F.desc("chi2"), "tok")
        .limit(20)
    )


@query(r"""
WITH toks AS (
  SELECT source IN ('src0','src1','src2','src3') AS cur,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), per AS (
  SELECT term,
         CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS y_c,
         CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS y_r
  FROM toks WHERE term != '' GROUP BY 1
  HAVING SUM(1) >= 10
), tot AS (
  SELECT SUM(y_c) AS n_c, SUM(y_r) AS n_r, SUM(y_c + y_r) AS n_all FROM per
), scored AS (
  SELECT term, y_c, y_r,
    round((ln((y_c + 100.0 * (y_c + y_r) / n_all)
              / (n_c + 100.0 - y_c - 100.0 * (y_c + y_r) / n_all))
           - ln((y_r + 100.0 * (y_c + y_r) / n_all)
                / (n_r + 100.0 - y_r - 100.0 * (y_c + y_r) / n_all)))
          / sqrt(1.0 / (y_c + 100.0 * (y_c + y_r) / n_all)
                 + 1.0 / (y_r + 100.0 * (y_c + y_r) / n_all)), 4) AS z_odds
  FROM per, tot
)
SELECT * FROM (
  (SELECT term, y_c, y_r, z_odds, 'curated' AS side FROM scored
   ORDER BY z_odds DESC, term LIMIT 15)
  UNION ALL
  (SELECT term, y_c, y_r, z_odds, 'rest' AS side FROM scored
   ORDER BY z_odds ASC, term LIMIT 15)
)
ORDER BY side, abs(z_odds) DESC, term
""")
def log_odds_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-odds keyword extraction with an informative
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words",
    eq. 15-22): which tokens are most over-represented in the curated
    sources (src0-src3) vs the rest of the corpus — the corpus-
    comparison view a curation team reads before writing quality
    rules. alpha_w = a0 * corpus share (a0 = 100); z = delta / sqrt(
    1/(y_cw + a_w) + 1/(y_rw + a_w)); tokens with corpus count < 10
    are dropped; top 15 per side by z (ties broken on the term).

    Scale shape: ONE token agg shuffle (map-side partials), the group
    totals fold in as a one-row broadcast, and each side's top-15 is a
    TakeOrdered over the vocab — no global sort materializes."""
    docs = _t(spark, sf_dir, "documents")
    a0 = 100.0
    toks = docs.select(
        F.col("source").isin("src0", "src1", "src2", "src3").alias("cur"),
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).where(F.col("term") != "")
    per = toks.groupBy("term").agg(
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("y_c"),
        F.sum(F.when(F.col("cur"), 0).otherwise(1)).alias("y_r"),
    ).where(F.col("y_c") + F.col("y_r") >= 10)
    tot = per.agg(
        F.sum("y_c").alias("n_c"),
        F.sum("y_r").alias("n_r"),
        F.sum(F.col("y_c") + F.col("y_r")).alias("n_all"),
    )
    j = per.crossJoin(F.broadcast(tot))
    aw = a0 * (F.col("y_c") + F.col("y_r")) / F.col("n_all")
    delta = F.log(
        (F.col("y_c") + aw)
        / (F.col("n_c") + a0 - F.col("y_c") - aw)
    ) - F.log(
        (F.col("y_r") + aw)
        / (F.col("n_r") + a0 - F.col("y_r") - aw)
    )
    z = delta / F.sqrt(
        1.0 / (F.col("y_c") + aw) + 1.0 / (F.col("y_r") + aw)
    )
    scored = j.select(
        "term", "y_c", "y_r", F.round(z, 4).alias("z_odds")
    )
    top_cur = scored.orderBy(F.desc("z_odds"), "term").limit(15).select(
        "*", F.lit("curated").alias("side")
    )
    top_ref = scored.orderBy(F.asc("z_odds"), "term").limit(15).select(
        "*", F.lit("rest").alias("side")
    )
    return top_cur.unionAll(top_ref).orderBy(
        "side", F.desc(F.abs(F.col("z_odds"))), "term"
    )


@query(r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tok,
  round(CASE
    WHEN len(toks) = 0 THEN 0.0
    WHEN len(toks) >= 25 THEN
      CAST(list_sum(list_transform(range(1, len(toks) - 25 + 2),
           i -> len(list_distinct(list_slice(toks, i, i + 24))))) AS DOUBLE)
        / (25 * (len(toks) - 25 + 1))
    ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
  END, 6) AS mattr
FROM t
""")
def mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-Average Type-Token Ratio (Covington & McFall 2010,
    "Cutting the Gordian Knot: MATTR") — the length-invariant lexical
    diversity signal (plain TTR shrinks with doc length, so it cannot
    rank docs of different sizes; yule_k_diversity is the frequency-
    based alternative). Window W=25 whitespace tokens; docs shorter
    than W fall back to plain TTR. mattr = (sum of per-window distinct
    counts) / (W * n_windows) — computed as ONE integer sum and ONE
    division, so both engines agree bitwise.

    Scale shape: MAP-ONLY — the token split and the O(n*W) sliding
    distinct-count run as HOF expressions per row; no explode, no
    shuffle, the text column never moves."""
    W = 25
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n - W + 1),
            lambda i: F.size(F.array_distinct(F.slice(toks, i, W))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mattr = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0.0))
        .when(
            n >= W,
            dsum.cast("double") / (F.lit(W) * (n - W + 1)),
        )
        .otherwise(
            F.size(F.array_distinct(toks)).cast("double") / n
        )
    )
    return docs.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(n)
        .alias("n_tok"),
        F.round(mattr, 6).alias("mattr"),
    )


@query(r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
), hits AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(list_slice(
           list_filter(range(1, len(toks) + 1),
                       i -> toks[i] = 'data'), 1, 2)) AS pos
  FROM t
)
SELECT doc_id, pos,
  -- COALESCE: DuckDB's array_to_string over an EMPTY slice is NULL,
  -- Spark's array_join is '' (the refinedweb_line_filter precedent)
  COALESCE(array_to_string(
      list_slice(toks, GREATEST(pos - 3, 1), pos - 1), ' '), '')
    AS left_ctx,
  COALESCE(array_to_string(
      list_slice(toks, pos + 1, LEAST(pos + 3, n)), ' '), '')
    AS right_ctx
FROM hits ORDER BY doc_id, pos
""")
def kwic_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance (the corpus-linguistics KWIC
    view, Luhn 1960) for the literal term 'data': every occurrence
    with up to 3 tokens of left and right context — the qualitative
    inspection surface a curation team uses to audit what a filter
    term actually matches before adding it to a rule. At most the
    first 2 occurrences per doc keep the fan-out bounded.

    Scale shape: MAP-ONLY — occurrence positions, context slices, and
    the per-doc cap are all HOF expressions over the token array; no
    explode until the final <=2-per-doc rows, no shuffle before the
    output sort."""
    term = "data"
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    hits = F.slice(
        F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.element_at(toks, i) == term,
        ),
        1,
        2,
    )
    out = docs.select(
        "doc_id",
        n.alias("__n"),
        toks.alias("__toks"),
        F.explode(hits).alias("pos"),
    )
    left = F.array_join(
        F.slice(
            F.col("__toks"),
            F.greatest(F.col("pos") - 3, F.lit(1)),
            F.least(F.lit(3), F.col("pos") - 1),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(
            F.col("__toks"),
            F.col("pos") + 1,
            F.least(F.lit(3), F.col("__n") - F.col("pos")),
        ),
        " ",
    )
    return out.select(
        "doc_id", "pos", left.alias("left_ctx"), right.alias("right_ctx")
    ).orderBy("doc_id", "pos")


@query("""
WITH per AS (
  SELECT source, SUM(CAST(n_chars AS DECIMAL(18,0))) AS xs
  FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(xs) AS x, COUNT(*) AS m FROM per
), s AS (
  SELECT source, CAST(xs AS DOUBLE) / CAST(x AS DOUBLE) AS share, m
  FROM per, tot
)
SELECT source, round(share, 6) AS share,
       round(share * ln(share * m), 6) AS theil_term,
       round(SUM(share * ln(share * m)) OVER (), 6) AS theil_t,
       round(ln(CAST(m AS DOUBLE)), 6) AS max_theil
FROM s ORDER BY source
""")
def theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index (Theil 1967) of corpus mass across
    sources, with its between/within additive decomposition collapsed
    to the source level: T = sum_s (x_s/X) ln((x_s/X)/(1/m)) over
    char-mass shares — 0 when sources contribute equally, ln(m) at
    maximal concentration. The corpus-balance read that complements
    language_balance_gini with a decomposable measure. Also emits each
    source's share and its term contribution.

    Scale shape: one source rollup (decimal char sums) + a 1-row total
    broadcast; output |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(F.sum(dch).alias("xs"))
    tot = per.agg(
        F.sum("xs").alias("x"), F.count(F.lit(1)).alias("m")
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("xs").cast("double") / F.col("x").cast("double")
    term = share * F.log(share * F.col("m").cast("double"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        j.select(
            "source",
            F.round(share, 6).alias("share"),
            F.round(term, 6).alias("theil_term"),
            F.round(F.sum(term).over(wall), 6).alias("theil_t"),
            F.round(
                F.log(F.col("m").cast("double")), 6
            ).alias("max_theil"),
        )
        .orderBy("source")
    )


@query(r"""
WITH toks AS (
  SELECT lang = 'en' AS in_en, t.tok
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(tok)
  WHERE length(t.tok) >= 3
), per AS (
  SELECT tok,
         CAST(SUM(CASE WHEN in_en THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN in_en THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM per
), scored AS (
  SELECT tok, a, b,
         round(2.0 * (
           CASE WHEN a > 0 THEN a * ln(a / (CAST(na AS DOUBLE) * (a + b)
                                            / (na + nb)))
                ELSE 0.0 END
           + CASE WHEN b > 0 THEN b * ln(b / (CAST(nb AS DOUBLE) * (a + b)
                                              / (na + nb)))
                  ELSE 0.0 END), 4) AS g2,
         CASE WHEN CAST(a AS DOUBLE) / na > CAST(b AS DOUBLE) / nb
              THEN 'en_marked' ELSE 'other_marked' END AS direction
  FROM per, tot
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY g2 DESC, tok) AS rank FROM scored
)
SELECT rank, tok, a AS en_count, b AS other_count, g2, direction
FROM ranked WHERE rank <= 50 ORDER BY rank
""")
def dunning_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (Dunning 1993, the G^2 statistic
    corpus linguistics standardized on): which tokens are
    over/under-represented in English docs vs the rest of the corpus —
    the classic keyword-contrast companion to log_odds_keywords'
    Monroe prior-regularized z. G^2 = 2 sum O ln(O/E) over the 2x2
    token table (zero cells contribute 0); emits the top 50 by G^2
    with the direction. Integer counts; E is a rational; each G^2 is
    one deterministic double expression.

    Scale shape: one token-keyed agg with conditional partials (one
    corpus pass), a 1-row totals broadcast, and the top-50 pick via
    rank over the vocab-bounded score frame."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("lang") == "en").alias("in_en"),
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).where(F.length("tok") >= 3)
    per = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("in_en"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("in_en"), 0).otherwise(1)).alias("b"),
    )
    tot = per.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    j = per.crossJoin(F.broadcast(tot))
    ad = F.col("a").cast("double")
    bd = F.col("b").cast("double")
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ea = nad * (ad + bd) / (nad + nbd)
    eb = nbd * (ad + bd) / (nad + nbd)
    g2 = 2.0 * (
        F.when(F.col("a") > 0, ad * F.log(ad / ea)).otherwise(F.lit(0.0))
        + F.when(F.col("b") > 0, bd * F.log(bd / eb)).otherwise(F.lit(0.0))
    )
    scored = j.select(
        "tok",
        "a",
        "b",
        F.round(g2, 4).alias("g2"),
        F.when(ad / nad > bd / nbd, "en_marked")
        .otherwise("other_marked")
        .alias("direction"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("g2"), "tok")),
    )
    return ranked.where(F.col("rank") <= 50).select(
        "rank", "tok", F.col("a").alias("en_count"),
        F.col("b").alias("other_count"), "g2", "direction"
    ).orderBy("rank")


@query(r"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(tok)
  WHERE length(t.tok) >= 1
), top AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
    FROM toks GROUP BY tok
  ) WHERE rk <= 30
), st AS (
  SELECT source, toks.tok, COUNT(*) AS c
  FROM toks JOIN top ON toks.tok = top.tok GROUP BY 1, 2
), stot AS (
  SELECT source, COUNT(*) AS n FROM toks GROUP BY 1
), rel AS (
  SELECT st.source, tok, CAST(c AS DOUBLE) / n AS f
  FROM st JOIN stot ON st.source = stot.source
), z AS (
  SELECT source, tok,
         (f - AVG(f) OVER (PARTITION BY tok))
           / stddev_pop(f) OVER (PARTITION BY tok) AS z
  FROM rel
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         round(SUM(ABS(a.z - b.z)) / COUNT(*), 4) AS delta
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT ROW_NUMBER() OVER (ORDER BY delta, src_a, src_b) AS rank,
       src_a, src_b, delta
FROM pairs QUALIFY rank <= 30 ORDER BY rank
""")
def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance (Burrows 2002; Evert et al.
    2017's evaluation): between every source pair, the mean absolute
    difference of z-scored relative frequencies over the corpus's top
    30 most-frequent tokens — THE attribution/style distance of
    computational stylometry, here reading which sources write alike
    (a contamination/provenance screen). z-scores standardize each
    token's relative frequency across the |sources| population.

    Scale shape: one token agg pass; the top-30 vocabulary picks via
    rank over the vocab-bounded count frame and broadcasts; the
    z-score frame is |sources| x 30 and the pair frame |sources|^2/2 —
    all bounded."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).where(F.length("tok") >= 1)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
        )
        .where(F.col("rk") <= 30)
        .select("tok")
    )
    st = toks.join(F.broadcast(top), "tok").groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    stot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    rel = st.join(F.broadcast(stot), "source").select(
        "source",
        "tok",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("f"),
    )
    wt = Window.partitionBy("tok")
    z = rel.select(
        "source",
        "tok",
        (
            (F.col("f") - F.avg("f").over(wt)) / F.stddev_pop("f").over(wt)
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("src_a"), "tok", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), "tok", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb")))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("delta"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    rk = Window.orderBy("delta", "src_a", "src_b")
    return (
        pairs.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= 30)
        .select("rank", "src_a", "src_b", "delta")
        .orderBy("rank")
    )


@query(r"""
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS a FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), bg AS (
  SELECT u.z[1] AS w1, u.z[2] AS w2
  FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:])) AS z) u
), c12 AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS cw FROM (SELECT unnest(a) AS w FROM tok) GROUP BY 1
), tot AS (
  SELECT CAST((SELECT count(*) FROM bg) AS DOUBLE) AS n_bg
)
SELECT c12.w1, c12.w2, c12.c AS pair_count,
       round((c - CAST(u1.cw AS DOUBLE) * u2.cw / n_bg) / sqrt(CAST(c AS DOUBLE)), 4)
         AS t_score
FROM c12 JOIN uni u1 ON c12.w1 = u1.w JOIN uni u2 ON c12.w2 = u2.w, tot
WHERE c >= 20
ORDER BY t_score DESC, w1, w2 LIMIT 20
""")
def collocation_tscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation strength by t-score (Church & Hanks 1990; the
    t-score column of Manning & Schütze ch.5): t = (c(a,b) -
    c(a)c(b)/N) / sqrt(c(a,b)) for bigrams seen >= 20 times, top 20 —
    the FREQUENT-collocation ranking that complements bigram_pmi's
    rare-pair bias (PMI surfaces 'hapax glued pairs'; t-score surfaces
    'of the'-class workhorses worth a tokenizer merge). Counts are
    exact integers; one double per surviving bigram.

    Scale shape: identical to bigram_pmi — one bigram rollup, one
    unigram rollup, NO broadcast hint on the Heaps-growing unigram
    table, TakeOrdered caps the output."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured both the
    # token-array cache and the count-frame caches net-negative locally
    toks = docs.select(text.tokens(F.col("text")).alias("a")).where(
        F.size("a") >= 2
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("z")
    ).select("z.w1", "z.w2")
    bg = bg.where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = toks.select(F.explode("a").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    )
    totals = c12.agg(F.sum("c").cast("double").alias("n_bg"))
    t = (
        F.col("c").cast("double")
        - F.col("c1").cast("double")
        * F.col("c2").cast("double")
        / F.col("n_bg")
    ) / F.sqrt(F.col("c").cast("double"))
    return (
        c12.where(F.col("c") >= 20)
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("cw", "c1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("cw", "c2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            F.round(t, 4).alias("t_score"),
        )
        .orderBy(F.desc("t_score"), "w1", "w2")
        .limit(20)
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
), per AS (
  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS total FROM per GROUP BY 1
  ORDER BY total DESC, w LIMIT 30
), g AS (
  SELECT per.w, total, COUNT(*) AS docs_with,
         SUM(CAST(c AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM per JOIN vocab ON per.w = vocab.w GROUP BY 1, 2
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT w, total AS corpus_count, docs_with,
       round(CAST(s AS DOUBLE) / n_docs, 6) AS mean_per_doc,
       round((CAST(s2 AS DOUBLE) / n_docs
              - (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs))
             / (CAST(s AS DOUBLE) / n_docs), 4) AS vmr,
       CASE WHEN (CAST(s2 AS DOUBLE) / n_docs
                  - (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs))
                 / (CAST(s AS DOUBLE) / n_docs) > 2.0
            THEN 'bursty' ELSE 'poisson_like' END AS verdict
FROM g, nd ORDER BY corpus_count DESC, w
""")
def word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word burstiness of the top-30 vocabulary (Church & Gale
    1995, "Poisson mixtures"; Katz 1996): the variance-to-mean ratio
    of a word's per-document count — VMR ~ 1 means the word sprinkles
    Poisson-like (function words), VMR >> 1 means it clumps into
    bursts (topical words). The content/function split a stopword
    list approximates, measured instead of assumed. Documents missing
    the word contribute ZERO counts: var folds from exact decimal
    sum(c), sum(c^2) over occurrences plus the document total, so the
    zeros are exact without materializing them.

    Scale shape: one (doc, word) rollup, a rank-LIMITed top-30 vocab
    (bounded broadcast — the vocab_oov cap discipline), one decimal
    rollup per surviving word."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    per = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        per.groupBy("w")
        .agg(F.sum("c").alias("total"))
        .orderBy(F.desc("total"), "w")
        .limit(30)
    )
    dc = F.col("c").cast("decimal(18,0)")
    g = (
        per.join(F.broadcast(vocab), "w")
        .groupBy("w", "total")
        .agg(
            F.count(F.lit(1)).alias("docs_with"),
            F.sum(dc).alias("s"),
            F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
        )
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j = g.crossJoin(F.broadcast(nd))
    n = F.col("n_docs").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    vmr = var / mean
    return j.select(
        "w",
        F.col("total").alias("corpus_count"),
        "docs_with",
        F.round(mean, 6).alias("mean_per_doc"),
        F.round(vmr, 4).alias("vmr"),
        F.when(vmr > 2.0, "bursty").otherwise("poisson_like")
        .alias("verdict"),
    ).orderBy(F.desc("corpus_count"), "w")


@query(r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(a) AS g FROM tok) GROUP BY 1, 2
), bi AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, u.z[1] || ' ' || u.z[2] AS g
        FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:]))
                           AS z) u)
  GROUP BY 1, 2
), r1 AS (
  SELECT cand.doc_id, ref.doc_id AS ref_id,
         CAST(SUM(LEAST(cand.c, ref.c)) AS BIGINT) AS ov
  FROM uni cand JOIN uni ref ON cand.g = ref.g
  WHERE ref.doc_id < 5 AND cand.doc_id >= 5
  GROUP BY 1, 2
), rt1 AS (
  SELECT doc_id AS ref_id, CAST(SUM(c) AS BIGINT) AS rt FROM uni
  WHERE doc_id < 5 GROUP BY 1
), r2 AS (
  SELECT cand.doc_id, ref.doc_id AS ref_id,
         CAST(SUM(LEAST(cand.c, ref.c)) AS BIGINT) AS ov
  FROM bi cand JOIN bi ref ON cand.g = ref.g
  WHERE ref.doc_id < 5 AND cand.doc_id >= 5
  GROUP BY 1, 2
), rt2 AS (
  SELECT doc_id AS ref_id, CAST(SUM(c) AS BIGINT) AS rt FROM bi
  WHERE doc_id < 5 GROUP BY 1
)
SELECT r1.doc_id, r1.ref_id,
       round(CAST(r1.ov AS DOUBLE) / rt1.rt, 6) AS rouge1_recall,
       COALESCE(round(CAST(r2.ov AS DOUBLE) / rt2.rt, 6), 0.0)
         AS rouge2_recall
FROM r1
JOIN rt1 ON r1.ref_id = rt1.ref_id
LEFT JOIN r2 ON r1.doc_id = r2.doc_id AND r1.ref_id = r2.ref_id
LEFT JOIN rt2 ON r2.ref_id = rt2.ref_id
ORDER BY rouge1_recall DESC, r1.doc_id, r1.ref_id LIMIT 20
""")
def rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 recall (Lin 2004) of every candidate document
    against a fixed 5-doc reference set (doc_id < 5): the clipped
    n-gram overlap eval a summarization/contamination screen runs —
    here surfacing the 20 candidates that best 'cover' a reference.
    Overlaps are exact integer sums of min(c_cand, c_ref) per n-gram;
    recall divides by the reference's n-gram total once per pair.

    Scale shape: the reference side is a key-lookup (doc_id < 5) —
    bounded broadcast; candidates join it by n-gram (map-side against
    the tiny ref vocab), roll up per (cand, ref) pair, and
    TakeOrdered keeps 20."""
    docs = _t(spark, sf_dir, "documents")
    # NOT persisted (r16): interleaved persist A/Bs measured every
    # caching variant (tok arrays, gram counts, both) net-negative to
    # neutral locally — the string-keyed cache encode costs more than
    # the re-derivation it saves at bench scale; left as planned
    tok = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("a")
    ).where(F.size("a") >= 2)
    uni = tok.select("doc_id", F.explode("a").alias("g")).groupBy(
        "doc_id", "g"
    ).agg(F.count(F.lit(1)).alias("c"))
    bi = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))

    def recall(grams, name):
        ref = grams.where(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("ref_id"),
            "g",
            F.col("c").alias("cr"),
        )
        reftot = ref.groupBy("ref_id").agg(F.sum("cr").alias("rt"))
        cand = grams.where(F.col("doc_id") >= 5)
        ov = (
            cand.join(F.broadcast(ref), "g")
            .groupBy("doc_id", "ref_id")
            .agg(F.sum(F.least(F.col("c"), F.col("cr"))).alias("ov"))
            .join(F.broadcast(reftot), "ref_id")
            .select(
                "doc_id",
                "ref_id",
                F.round(
                    F.col("ov").cast("double") / F.col("rt").cast("double"),
                    6,
                ).alias(name),
            )
        )
        return ov

    r1 = recall(uni, "rouge1_recall")
    r2 = recall(bi, "rouge2_recall")
    return (
        r1.join(r2, ["doc_id", "ref_id"], "left")
        .select(
            "doc_id",
            "ref_id",
            "rouge1_recall",
            F.coalesce("rouge2_recall", F.lit(0.0)).alias("rouge2_recall"),
        )
        .orderBy(F.desc("rouge1_recall"), "doc_id", "ref_id")
        .limit(20)
    )


@query(r"""
WITH tok AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
  WHERE doc_id < 100
    AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2
), ns AS (
  SELECT COUNT(*) AS ns FROM tok
), uni AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(a) AS g FROM tok) GROUP BY 1, 2
), bi AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, u.z[1] || ' ' || u.z[2] AS g
        FROM tok, LATERAL (SELECT unnest(list_zip(a[1:len(a)-1], a[2:]))
                           AS z) u)
  GROUP BY 1, 2
), s1 AS (
  SELECT a.doc_id, CAST(SUM(x.ov) AS BIGINT) AS s_len1
  FROM (SELECT DISTINCT doc_id FROM uni) a
  JOIN (SELECT ga.doc_id AS da, gb.doc_id AS db,
               SUM(LEAST(ga.c, gb.c)) AS ov
        FROM uni ga JOIN uni gb ON ga.g = gb.g AND ga.doc_id != gb.doc_id
        GROUP BY 1, 2) x ON a.doc_id = x.da
  GROUP BY 1
), t1 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len1 FROM uni GROUP BY 1
), s2 AS (
  SELECT a.doc_id, CAST(SUM(x.ov) AS BIGINT) AS s_len2
  FROM (SELECT DISTINCT doc_id FROM bi) a
  JOIN (SELECT ga.doc_id AS da, gb.doc_id AS db,
               SUM(LEAST(ga.c, gb.c)) AS ov
        FROM bi ga JOIN bi gb ON ga.g = gb.g AND ga.doc_id != gb.doc_id
        GROUP BY 1, 2) x ON a.doc_id = x.da
  GROUP BY 1
), t2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len2 FROM bi GROUP BY 1
)
SELECT tok.doc_id, source,
       round(COALESCE(s_len1, 0) / ((ns - 1.0) * len1), 6) AS mean_p1,
       round(COALESCE(s_len2, 0) / ((ns - 1.0) * len2), 6) AS mean_p2,
       round(sqrt(COALESCE(s_len1, 0) / ((ns - 1.0) * len1)
                  * (COALESCE(s_len2, 0) / ((ns - 1.0) * len2))), 6)
         AS self_bleu
FROM tok
LEFT JOIN s1 ON tok.doc_id = s1.doc_id
LEFT JOIN t1 ON tok.doc_id = t1.doc_id
LEFT JOIN s2 ON tok.doc_id = s2.doc_id
LEFT JOIN t2 ON tok.doc_id = t2.doc_id, ns
ORDER BY self_bleu DESC, tok.doc_id LIMIT 20
""")
def self_bleu_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU diversity probe (Zhu et al. 2018, "Texygen") over a
    bounded 100-doc sample (doc_id < 100): for each sample doc, the
    mean modified unigram and bigram precision against every OTHER
    sample doc — high self-BLEU = the corpus repeats itself (mode
    collapse in generated data, boilerplate in crawled data). The
    per-doc means are EXACT rationals: mean p_n = sum_b overlap_b /
    ((n_sample - 1) * len_a), so only integer sums cross rows; the
    top-20 most self-similar docs are reported.

    Scale shape: the sample is a key-lookup (doc_id < 100), every
    join is within the bounded sample vocabulary, and the pair rollup
    is |sample|^2-bounded."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.where(F.col("doc_id") < 100).select(
        "doc_id", "source", text.tokens(F.col("text")).alias("a")
    ).where(F.size("a") >= 2)
    nsamp = tok.agg(F.count(F.lit(1)).alias("ns"))

    def pairsum(grams, lname):
        ga = grams.select(
            F.col("doc_id").alias("da"), "g", F.col("c").alias("ca")
        )
        gb = grams.select(
            F.col("doc_id").alias("db"), "g", F.col("c").alias("cb")
        )
        ov = (
            ga.join(gb, "g")
            .where(F.col("da") != F.col("db"))
            .groupBy("da", "db")
            .agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("ov"))
        )
        tot = grams.groupBy("doc_id").agg(F.sum("c").alias(lname))
        s = ov.groupBy("da").agg(F.sum("ov").alias(f"s_{lname}"))
        return s, tot

    uni = tok.select(
        "doc_id", F.explode("a").alias("g")
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    bi = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(a, 1, size(a) - 1)"),
                F.expr("slice(a, 2, size(a) - 1)"),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("g"),
    ).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    s1, t1 = pairsum(uni, "len1")
    s2, t2 = pairsum(bi, "len2")
    base = tok.select("doc_id", "source")
    j = (
        base.join(s1.withColumnRenamed("da", "doc_id"), "doc_id", "left")
        .join(t1, "doc_id", "left")
        .join(s2.withColumnRenamed("da", "doc_id"), "doc_id", "left")
        .join(t2, "doc_id", "left")
        .crossJoin(F.broadcast(nsamp))
    )
    p1 = F.coalesce(F.col("s_len1"), F.lit(0)).cast("double") / (
        (F.col("ns") - 1).cast("double") * F.col("len1").cast("double")
    )
    p2 = F.coalesce(F.col("s_len2"), F.lit(0)).cast("double") / (
        (F.col("ns") - 1).cast("double") * F.col("len2").cast("double")
    )
    bleu = F.sqrt(p1 * p2)
    return (
        j.select(
            "doc_id",
            "source",
            F.round(p1, 6).alias("mean_p1"),
            F.round(p2, 6).alias("mean_p2"),
            F.round(bleu, 6).alias("self_bleu"),
        )
        .orderBy(F.desc("self_bleu"), "doc_id")
        .limit(20)
    )
