"""Statistical tests and estimators: k-sample location and scale tests,
robust location, tail and first-digit screens, A/B readouts, causal and
survey estimators, resampling intervals, and classifier evaluation
(ROC AUC, calibration, agreement, threshold sweeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wp_motor_spark.operators import text
from wp_motor_spark.queries._common import _holds_rank, _t, query
from wp_motor_spark.queries.corpus import NAIVE_BAYES_SQL, naive_bayes_quality


@query(f"""
WITH cm AS (
  SELECT
    CAST(SUM(CASE WHEN keep AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN keep AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN NOT keep AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN NOT keep AND NOT pos THEN 1 ELSE 0 END) AS BIGINT)
      AS tn
  FROM ({NAIVE_BAYES_SQL}) nb
  JOIN (SELECT doc_id, source IN ('src0', 'src1') AS pos FROM documents) t
    USING (doc_id)
)
SELECT tp, fp, fn, tn,
  round(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE), 6) AS precision,
  round(tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 6) AS recall,
  round(2 * (tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE))
          * (tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE))
        / GREATEST(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE)
                   + tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 1e-12), 6) AS f1,
  round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
FROM cm
""")
def classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation (precision / recall / F1 / accuracy) of
    the self-trained `naive_bayes_quality` keep decision against its
    own supervision (source in src0/src1) — the eval step every
    quality-classifier pipeline runs before trusting the filter on
    held-out data. Reported per predicted class plus the confusion
    counts, so the filter's failure mode (over-keep vs over-drop) is
    visible, not just a single score.

    Scale shape: rides the naive_bayes plan (token-count shuffle +
    doc-keyed rollup), then ONE 4-cell confusion aggregation; the
    metric arithmetic is on exact longs in a one-row frame."""
    scored = naive_bayes_quality(spark, sf_dir).select("doc_id", "keep")
    truth = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").isin("src0", "src1").alias("pos")
    )
    cm = scored.join(truth, "doc_id").agg(
        F.sum(F.when(F.col("keep") & F.col("pos"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("pos"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("pos"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("keep") & ~F.col("pos"), 1).otherwise(0)).alias("tn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)).cast(
        "double"
    )
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)).cast(
        "double"
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6).alias(
            "f1"
        ),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).cast(
                "double"
            ),
            6,
        ).alias("accuracy"),
    )


@query(r"""
WITH m AS (
  SELECT doc_id,
    len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) * 1.0
      / GREATEST(len(string_split_regex(trim(lower(text)), '\s+')), 1) AS x
  FROM documents
), rep AS (
  SELECT doc_id, x, b FROM m, UNNEST(range(0, 200)) AS t(b)
), wtd AS (
  SELECT b,
    -ln((('0x' || substr(md5('boot:' || CAST(doc_id AS VARCHAR) || ':'
                             || CAST(b AS VARCHAR)), 1, 13))::BIGINT + 1.0)
        / (power(16, 13) + 1.0)) AS w,
    x
  FROM rep
), means AS (
  SELECT b, round(SUM(w * x) / SUM(w), 8) AS mb FROM wtd GROUP BY b
), arr AS (
  SELECT list_sort(list(mb)) AS xs FROM means
), pt AS (SELECT AVG(x) AS mean FROM m)
SELECT round(mean, 6) AS mean,
  round(xs[CAST(floor(0.025 * (len(xs) - 1)) AS INT) + 1]
        + (0.025 * (len(xs) - 1) - floor(0.025 * (len(xs) - 1)))
          * (xs[CAST(ceil(0.025 * (len(xs) - 1)) AS INT) + 1]
             - xs[CAST(floor(0.025 * (len(xs) - 1)) AS INT) + 1]), 6) AS ci_lo,
  round(xs[CAST(floor(0.975 * (len(xs) - 1)) AS INT) + 1]
        + (0.975 * (len(xs) - 1) - floor(0.975 * (len(xs) - 1)))
          * (xs[CAST(ceil(0.975 * (len(xs) - 1)) AS INT) + 1]
             - xs[CAST(floor(0.975 * (len(xs) - 1)) AS INT) + 1]), 6) AS ci_hi,
  200 AS n_replicates
FROM arr, pt
""")
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-bootstrap confidence interval (Rubin 1981; the
    exponential-weight formulation) for a corpus metric — the 95% CI
    on mean lexical diversity a curation dashboard shows next to the
    point estimate. B=200 replicates, each reweighting every doc by
    w = -ln(u) with u an md5-derived uniform keyed on (doc, replicate)
    — fully deterministic, so the DuckDB oracle reproduces the exact
    same 200 replicate means and the same interval.

    Scale shape: the doc metric computes once (map-only); the B
    replicates EXPLODE a bounded sequence per doc (fan-out 200, tuned
    like mrl_truncation_eval's 4x), partial-agg by replicate id to B
    rows, and the percentile selection sorts a 200-element array.
    Replicate means round to 8 dp before ranking so cross-engine
    sum-order ulps cannot reorder the cut."""
    B = 200
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = text.tokens(F.col("text"))
    m = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))).alias(
            "x"
        ),
    )
    rep = m.select(
        "doc_id", "x", F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b")
    )
    h = F.md5(
        F.concat_ws(":", F.lit("boot"), F.col("doc_id").cast("string"), F.col("b").cast("string"))
    )
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0) / (
        float(16**13) + 1.0
    )
    w = -F.log(u)
    means = (
        rep.select("b", w.alias("w"), (w * F.col("x")).alias("wx"))
        .groupBy("b")
        .agg(F.round(F.sum("wx") / F.sum("w"), 8).alias("mb"))
    )
    arr = means.agg(F.sort_array(F.collect_list("mb")).alias("xs"))

    def _q(p: float):
        pos = F.lit(p) * (F.size("xs") - 1).cast("double")
        lo = F.element_at("xs", F.floor(pos).cast("int") + 1)
        hi = F.element_at("xs", F.ceil(pos).cast("int") + 1)
        return lo + (pos - F.floor(pos)) * (hi - lo)

    point = m.agg(F.avg("x").alias("mean"))
    return arr.crossJoin(F.broadcast(point)).select(
        F.round("mean", 6).alias("mean"),
        F.round(_q(0.025), 6).alias("ci_lo"),
        F.round(_q(0.975), 6).alias("ci_hi"),
        F.lit(B).alias("n_replicates"),
    )


@query("""
WITH g AS (
  SELECT CAST(floor(n_chars / 50) AS BIGINT) AS score,
         COUNT(*) AS n,
         SUM(CASE WHEN source IN ('src0','src1','src2','src3')
                  THEN 1 ELSE 0 END) AS npos
  FROM documents GROUP BY 1
), r AS (
  SELECT npos, n,
         COALESCE(SUM(n) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS avg_rank
  FROM g
), a AS (
  SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
         CAST(SUM(n - npos) AS BIGINT) AS n_neg,
         SUM(npos * avg_rank) AS spr
  FROM r
)
SELECT n_pos, n_neg,
  round((spr - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc,
  round(((spr - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)) * 2 - 1, 6)
    AS gini
FROM a
""")
def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a document quality score against curated-source
    labels via the Mann-Whitney rank-sum identity (Hanley & McNeil
    1982): AUC = (sum of positive ranks - n_pos(n_pos+1)/2) /
    (n_pos * n_neg), with midrank tie correction — the eval a quality
    classifier gets before its threshold gates a corpus. Score is the
    bucketed length signal floor(n_chars/50) (deliberately coarse so
    tie handling is exercised); positives are the curated sources
    src0-src3 (the naive_bayes_quality supervision).

    Scale shape: NO per-row global rank — ranks fold per SCORE GROUP:
    one (score) agg shuffle, a cumulative window over the bounded
    |distinct scores| frame, and a scalar rollup. Midranks are exact
    binary halves (x.0/x.5), so double sums are exact — bit-identical
    across engines and partition orders."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.floor(F.col("n_chars") / 50).alias("score"),
            pos.cast("int").alias("p"),
        )
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("npos"))
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.withColumn(
        "avg_rank",
        F.coalesce(F.sum("n").over(w), F.lit(0)) + (F.col("n") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("npos").alias("n_pos"),
        F.sum(F.col("n") - F.col("npos")).alias("n_neg"),
        F.sum(F.col("npos") * F.col("avg_rank")).alias("__spr"),
    )
    auc = (
        F.col("__spr") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(auc * 2 - 1, 6).alias("gini"),
    )


@query(r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS pos
  FROM documents
), s AS (
  SELECT LEAST(9, CAST(floor(tok / (tok + 50.0) * 10) AS INT)) AS bin,
         tok / (tok + 50.0) AS conf,
         CASE WHEN pos THEN 1 ELSE 0 END AS p
  FROM t
), per AS (
  SELECT bin, COUNT(*) AS n, AVG(conf) AS avg_conf, AVG(p) AS acc
  FROM s GROUP BY 1
), tot AS (
  SELECT bin, n, avg_conf, acc,
         n * 1.0 / (SUM(n) OVER ()) * abs(acc - avg_conf) AS contrib
  FROM per
)
SELECT bin, n, round(avg_conf, 6) AS avg_conf, round(acc, 6) AS accuracy,
       round(contrib, 6) AS contribution,
       round(SUM(contrib) OVER (), 6) AS ece
FROM tot ORDER BY bin
""")
def ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error screen (Naeini et al. 2015; Guo et
    al. 2017 eq. 3): a deterministic rational-sigmoid confidence
    tok/(tok+50) (NO libm exp — a single division both engines compute
    bit-identically, so bin assignment can never drift cross-engine)
    against the curated-source label, folded into 10 equal-width
    confidence bins: per-bin count, mean confidence, empirical
    accuracy, |gap|, and the bin's weighted ECE contribution, plus the
    total ECE repeated per row (the headline number a model-monitoring
    dashboard alerts on).

    Scale shape: one map-only score pass, ONE (bin) agg shuffle with
    map-side partials, windows only over the bounded 10-row frame."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.least(F.lit(9), F.floor(conf * 10).cast("int")).alias("bin"),
            conf.alias("conf"),
            pos.cast("int").alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("conf").alias("avg_conf"),
            F.avg("p").alias("acc"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per.withColumn("__N", F.sum("n").over(wall)).withColumn(
        "__contrib",
        F.col("n") / F.col("__N") * F.abs(F.col("acc") - F.col("avg_conf")),
    )
    return out.select(
        "bin",
        "n",
        F.round("avg_conf", 6).alias("avg_conf"),
        F.round("acc", 6).alias("accuracy"),
        F.round("__contrib", 6).alias("contribution"),
        F.round(F.sum("__contrib").over(wall), 6).alias("ece"),
    ).orderBy("bin")


@query(r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END >= 50
           AS a,
         n_chars >= 280 AS b
  FROM documents
), c AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
           AS n00
  FROM t
)
SELECT n, n11, n10, n01, n00,
  round((n11 + n00) * 1.0 / n, 6) AS p_o,
  round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
        * 1.0 / (n * n), 6) AS p_e,
  CASE WHEN ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
            * 1.0 / (n * n) < 1
       THEN round(((n11 + n00) * 1.0 / n
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                * 1.0 / (n * n))
             / (1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                    * 1.0 / (n * n)), 6)
       ELSE 0.0 END AS kappa
FROM c
""")
def cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen 1960 kappa) between two
    deterministic document-quality annotators — the agreement audit a
    labeling pipeline runs before trusting weak labels: rater A keeps
    docs with >= 50 whitespace tokens, rater B keeps docs with >= 280
    chars (both near the corpus median, so the 2x2 table is genuinely
    populated). kappa = (p_o - p_e) / (1 - p_e) from the confusion
    marginals, reported with the raw cell counts so the disagreement
    direction is visible; the degenerate p_e = 1 case (both raters
    constant) is defined to kappa = 0 on both engines.

    Scale shape: map-only predicates + ONE scalar rollup (map-side
    partials, 1 row out). Integer counts -> deterministic doubles."""
    docs = _t(spark, sf_dir, "documents")
    a = (text.token_count_ws(F.col("text")) >= 50).cast("int")
    b = (F.col("n_chars") >= 280).cast("int")
    agg = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (F.col("n") * F.col("n"))
    return agg.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_o"),
        F.round(pe, 6).alias("p_e"),
        F.when(pe < 1.0, F.round((po - pe) / (1 - pe), 6))
        .otherwise(F.lit(0.0))
        .alias("kappa"),
    )


@query(r"""
WITH base AS (
  SELECT lang, n_chars AS x,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS y
  FROM documents
), gx AS (
  SELECT lang, x, COUNT(*) AS n FROM base GROUP BY 1, 2
), rx AS (
  SELECT lang, x,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS r_x
  FROM gx
), gy AS (
  SELECT lang, y, COUNT(*) AS n FROM base GROUP BY 1, 2
), ry AS (
  SELECT lang, y,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (n + 1) / 2.0 AS r_y
  FROM gy
), j AS (
  SELECT base.lang,
         CAST(r_x AS DECIMAL(18,1)) AS dx,
         CAST(r_y AS DECIMAL(18,1)) AS dy
  FROM base JOIN rx USING (lang, x) JOIN ry USING (lang, y)
), a AS (
  SELECT lang, COUNT(*) AS n,
         SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(CAST(dx * dy AS DECIMAL(38,2))) AS sxy,
         SUM(CAST(dx * dx AS DECIMAL(38,2))) AS sxx,
         SUM(CAST(dy * dy AS DECIMAL(38,2))) AS syy
  FROM j GROUP BY 1
)
SELECT lang, n,
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
FROM a ORDER BY lang
""")
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation (Spearman 1904, the
    tie-corrected Pearson-on-midranks form) between two quality
    signals, char length and whitespace token count — the redundancy
    screen a curation team runs before stacking correlated signals
    into an ensemble filter.

    Scale shape: NO per-row sort — midranks fold per (lang, value)
    GROUP (the auc_roc discipline): two bounded-domain aggs (char
    lengths and token counts are bounded value domains), cumulative
    windows over those bounded frames, broadcast joins back to rows,
    then one per-lang Pearson rollup. Midranks are exact halves and
    the moment sums run in DECIMAL, so both engines agree bitwise at
    any partition order; the final rho is one double expression."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        text.token_count_ws(F.col("text")).alias("y"),
    )

    def midranks(df, col):
        per = df.groupBy("lang", col).agg(F.count(F.lit(1)).alias("n"))
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return per.select(
            "lang",
            col,
            (
                F.coalesce(F.sum("n").over(w), F.lit(0))
                + (F.col("n") + 1) / 2.0
            ).alias(f"r_{col}"),
        )

    rx = midranks(base, "x")
    ry = midranks(base, "y")
    joined = base.join(F.broadcast(rx), ["lang", "x"]).join(
        F.broadcast(ry), ["lang", "y"]
    )
    dx = F.col("r_x").cast("decimal(18,1)")
    dy = F.col("r_y").cast("decimal(18,1)")
    agg = joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum((dx * dy).cast("decimal(38,2)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,2)")).alias("sxx"),
        F.sum((dy * dy).cast("decimal(38,2)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            n * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return agg.select(
        "lang", "n", F.round(num / den, 6).alias("rho")
    ).orderBy("lang")


@query("""
WITH base AS (
  SELECT source, CAST(floor(n_chars / 20) AS BIGINT) AS score
  FROM documents
), per AS (
  SELECT source, score, COUNT(*) AS n FROM base GROUP BY 1, 2
), cum AS (
  SELECT source, score,
         SUM(n) OVER (PARTITION BY source ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY source) AS n_cal
  FROM per
), qhat AS (
  SELECT source, MIN(score) AS q_hat, CAST(MAX(n_cal) AS BIGINT) AS n_cal
  FROM cum
  WHERE cum >= CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)
  GROUP BY 1
), kept AS (
  SELECT base.source, COUNT(*) AS n_kept
  FROM base JOIN qhat ON base.source = qhat.source
  WHERE score <= q_hat
  GROUP BY 1
)
SELECT source, n_cal, q_hat, n_kept
FROM qhat JOIN kept USING (source)
ORDER BY source
""")
def conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal quality threshold per source (Vovk et al. 2005;
    Angelopoulos & Bates 2021 tutorial, eq. 2): the per-source score
    cutoff q_hat = the ceil((n+1)(1-alpha))-th smallest nonconformity
    score, alpha = 0.1 — the distribution-free way to set a quality
    gate with a coverage guarantee instead of an arbitrary global
    threshold (the finite-sample +1 correction is what distinguishes
    this from a plain quantile). Nonconformity = the bucketed length
    signal; emits q_hat and the kept count per source.

    Scale shape: the quantile folds per (source, score) GROUP — one
    bounded agg, a per-source cumulative window over the bounded
    frame, then a 1-row-per-source argmin (the first score whose
    cumulative count reaches the conformal rank). Integer arithmetic
    end to end."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", F.floor(F.col("n_chars") / 20).alias("score")
    )
    per = base.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("source")
    cum = per.select(
        "source",
        "score",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wall).alias("n_cal"),
    )
    rank_needed = F.ceil((F.col("n_cal") + 1) * 0.9).cast("long")
    qualifying = cum.where(F.col("cum") >= rank_needed)
    qhat = qualifying.groupBy("source").agg(
        F.min("score").alias("q_hat"), F.max("n_cal").alias("n_cal")
    )
    kept = (
        base.join(F.broadcast(qhat), "source")
        .where(F.col("score") <= F.col("q_hat"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        qhat.join(kept, "source")
        .select("source", "n_cal", "q_hat", "n_kept")
        .orderBy("source")
    )


_SWEEP_THRESHOLDS = (-4.0, -3.5, -3.0, -2.5, -2.0, -1.5, -1.0)


def _threshold_sweep_sql() -> str:
    ts = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in _SWEEP_THRESHOLDS)
    return f"""
WITH nb AS ({NAIVE_BAYES_SQL}),
j AS (
  SELECT nb_score, source IN ('src0', 'src1') AS pos, threshold
  FROM nb
  JOIN documents USING (doc_id),
  UNNEST([{ts}]) AS t(threshold)
), agg AS (
  SELECT threshold,
    CAST(SUM(CASE WHEN nb_score > threshold AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN nb_score > threshold AND NOT pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN nb_score <= threshold AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    COUNT(*) AS n
  FROM j GROUP BY 1
)
SELECT threshold, tp, fp, fn,
  round(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE), 6) AS precision,
  round(tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 6) AS recall,
  round(2 * (tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE))
          * (tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE))
        / GREATEST(tp / CAST(GREATEST(tp + fp, 1) AS DOUBLE)
                   + tp / CAST(GREATEST(tp + fn, 1) AS DOUBLE), 1e-12), 6)
    AS f1,
  round((tp + fp) / CAST(n AS DOUBLE), 6) AS kept_frac
FROM agg ORDER BY threshold
"""


@query(_threshold_sweep_sql())
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the quality classifier (the PR-curve
    companion to the single-threshold `classifier_prf` and the
    rank-free `auc_roc`): precision / recall / F1 / kept-fraction of
    the `naive_bayes_quality` score at 7 fixed thresholds spanning the
    score's working range — the table a curation team reads to CHOOSE
    the gate, not just audit one. Comparisons run on the same
    round-4 score both engines emit, so boundary decisions can never
    drift cross-engine.

    Scale shape: rides the NB plan once; the sweep is a bounded x7
    literal explode AFTER the per-doc scores exist (7 rows per doc into
    a |thresholds|-row rollup with map-side partials)."""
    scored = naive_bayes_quality(spark, sf_dir).select("doc_id", "nb_score")
    labels = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").isin("src0", "src1").alias("pos"),
    )
    j = scored.join(labels, "doc_id").select(
        "nb_score",
        "pos",
        F.explode(
            F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
        ).alias("threshold"),
    )
    keep = F.col("nb_score") > F.col("threshold")
    agg = j.groupBy("threshold").agg(
        F.sum(F.when(keep & F.col("pos"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(keep & ~F.col("pos"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~keep & F.col("pos"), 1).otherwise(0)).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        ).alias("f1"),
        F.round((F.col("tp") + F.col("fp")) / F.col("n"), 6).alias(
            "kept_frac"
        ),
    ).orderBy("threshold")


@query("""
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per_user AS (
  SELECT user_id % 2 = 1 AS treated,
         CAST(SUM(CASE WHEN epoch(ts) * 2 <= t0 + t1 THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN epoch(ts) * 2 > t0 + t1 THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events, bounds
  GROUP BY user_id
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(CAST(y AS DECIMAL(18,0))) AS sy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx
  FROM per_user
), consts AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
         CAST(sx AS DOUBLE) / n AS mx
  FROM mom
), adj AS (
  SELECT treated, CAST(y AS DOUBLE) AS yv,
         y - theta * (x - mx) AS ya
  FROM per_user, consts
)
SELECT treated, COUNT(*) AS n_users,
       round(AVG(yv), 6) AS raw_mean,
       round(AVG(ya), 6) AS cuped_mean,
       round(1.0 - var_pop(ya) / var_pop(yv), 6) AS var_reduction
FROM adj GROUP BY 1 ORDER BY treated
""")
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi &
    Walker 2013, "Improving the Sensitivity of Online Controlled
    Experiments"): each user's POST-period metric is adjusted by their
    PRE-period covariate, Y' = Y - theta (X - mean X) with theta =
    cov(X,Y)/var(X) pooled across arms — the standard trick that cuts
    experiment runtimes ~40-50% because user-level baselines absorb
    between-user variance. Arms are the deterministic user_id parity;
    pre/post split at the time midpoint. Emits per-arm raw and
    adjusted means plus the variance-reduction fraction 1 -
    var(Y')/var(Y) — the number an experimentation platform quotes.

    Scale shape: one per-user (pre, post) rollup, then EVERYTHING is
    scalar: theta and the means fold in as one-row broadcasts; the
    final frame is 2 rows. Moment sums run in DECIMAL over the
    integer per-user counts, so theta is bit-identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts").cast("long") * 2
                    <= F.col("t0") + F.col("t1"),
                    1,
                ).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("ts").cast("long") * 2
                    > F.col("t0") + F.col("t1"),
                    1,
                ).otherwise(0)
            ).alias("y"),
        )
        .select(
            (F.col("user_id") % 2 == 1).alias("treated"), "x", "y"
        )
    )
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
    )
    nn = F.col("n").cast("double")
    theta = (
        nn * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nn * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    consts = mom.select(
        theta.alias("__theta"),
        (F.col("sx").cast("double") / nn).alias("__mx"),
    )
    adj = per_user.crossJoin(F.broadcast(consts)).select(
        "treated",
        F.col("y").cast("double").alias("yv"),
        (
            F.col("y")
            - F.col("__theta") * (F.col("x") - F.col("__mx"))
        ).alias("ya"),
    )
    return (
        adj.groupBy("treated")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("yv"), 6).alias("raw_mean"),
            F.round(F.avg("ya"), 6).alias("cuped_mean"),
            F.round(
                1.0 - F.var_pop("ya") / F.var_pop("yv"), 6
            ).alias("var_reduction"),
        )
        .orderBy("treated")
    )


@query("""
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
), binned AS (
  SELECT event_type, user_id % 2 = 1 AS treated,
         LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin
  FROM events, bounds
), per AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS nc
  FROM binned GROUP BY 1, 2
), ranked AS (
  SELECT event_type, nt, nc, nt + nc AS t,
         COALESCE(SUM(nt + nc) OVER (
           PARTITION BY event_type ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (nt + nc + 1) / 2.0 AS midrank
  FROM per
), agg AS (
  SELECT event_type,
         CAST(SUM(nt) AS BIGINT) AS n1, CAST(SUM(nc) AS BIGINT) AS n2,
         SUM(nt * midrank) AS r1,
         CAST(SUM(t * t * t - t) AS BIGINT) AS ties
  FROM ranked GROUP BY 1
), stat AS (
  SELECT event_type, n1, n2,
         r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u,
         (r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
          - CAST(n1 AS DOUBLE) * n2 / 2.0)
         / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                * ((CAST(n1 AS DOUBLE) + n2 + 1)
                   - CAST(ties AS DOUBLE)
                     / ((CAST(n1 AS DOUBLE) + n2)
                        * (CAST(n1 AS DOUBLE) + n2 - 1)))) AS z
  FROM agg
)
SELECT event_type, n1 AS n_treated, n2 AS n_control,
       round(u, 1) AS u_stat, round(z, 4) AS z,
       CASE WHEN z > 1.96 THEN 'treated_higher'
            WHEN z < -1.96 THEN 'control_higher'
            ELSE 'no_difference' END AS verdict
FROM stat ORDER BY event_type
""")
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test (Mann & Whitney 1947)
    per event_type: does the treated arm's value distribution
    stochastically dominate control? The nonparametric A/B readout an
    experimentation platform runs when values are skewed and a t-test's
    normality assumption fails. Arms are the deterministic user_id
    parity (the cuped_adjustment convention). Values are 1000-bin
    quantized (the ks_drift discipline), and the statistic is the
    tie-corrected U over the quantized variable: midranks fold per
    (type, bin) GROUP — never a per-row sort. z uses the tie-corrected
    variance; no continuity correction (documented, same both sides).

    Scale shape: one (type, bin, arm) rollup (<=1000 bins x 2 arms per
    type — bounded), cumulative windows over that bounded frame, and
    scalar assembly. The one-row min/max frame broadcasts."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
    )
    per = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("treated"), 0).otherwise(1)).alias("nc"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("nt") + F.col("nc")
    ranked = per.select(
        "event_type",
        "nt",
        "nc",
        t.alias("t"),
        (
            F.coalesce(F.sum(F.col("nt") + F.col("nc")).over(w), F.lit(0))
            + (t + 1) / 2.0
        ).alias("midrank"),
    )
    # tie term cubes per-bin counts: at 100 TB a popular bin can hold
    # ~1e8 rows and t^3 overflows LONG — cube in DECIMAL
    td = F.col("t").cast("decimal(12,0)")
    agg = ranked.groupBy("event_type").agg(
        F.sum("nt").alias("n1"),
        F.sum("nc").alias("n2"),
        F.sum(F.col("nt") * F.col("midrank")).alias("r1"),
        F.sum((td * td * td - td).cast("decimal(38,0)")).alias("ties"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    u = F.col("r1") - n1 * (n1 + 1) / 2.0
    var = (
        n1 * n2 / 12.0
        * ((nn + 1) - F.col("ties").cast("double") / (nn * (nn - 1)))
    )
    z = (u - n1 * n2 / 2.0) / F.sqrt(var)
    return agg.select(
        "event_type",
        F.col("n1").alias("n_treated"),
        F.col("n2").alias("n_control"),
        F.round(u, 1).alias("u_stat"),
        F.round(z, 4).alias("z"),
        F.when(z > 1.96, "treated_higher")
        .when(z < -1.96, "control_higher")
        .otherwise("no_difference")
        .alias("verdict"),
    ).orderBy("event_type")


@query("""
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), med AS (
  SELECT event_type, vc AS med
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), dev AS (
  SELECT cents.event_type, ABS(vc - med) AS z
  FROM cents JOIN med ON cents.event_type = med.event_type
), g AS (
  SELECT event_type, COUNT(*) AS ng,
         SUM(CAST(z AS DECIMAL(18,0))) AS sz,
         SUM(CAST(CAST(z AS DECIMAL(18,0)) * CAST(z AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS szz
  FROM dev GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, SUM(sz) AS s FROM g
), parts AS (
  SELECT k, n,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(sz AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)
             * (CAST(sz AS DOUBLE) / ng - CAST(s AS DOUBLE) / n)) AS ssb,
         SUM(CAST(szz AS DOUBLE)
             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng) AS ssw
  FROM g, tot GROUP BY 1, 2
)
SELECT k AS n_groups, n AS n_obs,
       round(ssb, 4) AS ss_between, round(ssw, 4) AS ss_within,
       round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
FROM parts
""")
def levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test (Levene 1960; Brown & Forsythe 1974 —
    the median-centered variant, robust to non-normality): are the
    event-type groups' value variances equal? The homoscedasticity
    screen run before pooling variances in an ANOVA or stacking groups
    into one control chart. Deviations are |v - median(group)| with the
    group median EXACT over integer-floored cents (the
    robust_source_stats histogram-rank discipline: lower median =
    smallest cent value whose cumulative count reaches ceil(n/2));
    the one-way ANOVA F over those deviations runs in DECIMAL moments.

    Scale shape: a (type, cents) histogram rollup (bounded by the value
    domain in cents), a cumulative window over that bounded frame for
    the median, a broadcast median join back, then one decimal-moment
    rollup — no per-row sort anywhere."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(_holds_rank(F.ceil(F.col("n") / 2)))
        .select("event_type", F.col("vc").alias("med"))
    )
    dev = cents.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("med")).alias("z")
    )
    dz = F.col("z").cast("decimal(18,0)")
    g = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(dz).alias("sz"),
        F.sum((dz * dz).cast("decimal(38,0)")).alias("szz"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sz").alias("s"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ngd = F.col("ng").cast("double")
    szd = F.col("sz").cast("double")
    between = F.sum(
        ngd
        * (szd / ngd - F.col("s").cast("double") / F.col("n").cast("double"))
        * (szd / ngd - F.col("s").cast("double") / F.col("n").cast("double"))
    )
    within = F.sum(F.col("szz").cast("double") - szd * szd / ngd)
    out = j.groupBy("k", "n").agg(
        between.alias("ssb"), within.alias("ssw")
    )
    fstat = (
        F.col("ssb") / (F.col("k") - 1).cast("double")
    ) / (
        F.col("ssw") / (F.col("n") - F.col("k")).cast("double")
    )
    return out.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
    )


@query("""
WITH agg AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
), s AS (
  SELECT source, n, k,
         CAST(k AS DOUBLE) / n AS p,
         1.0 + 1.96 * 1.96 / n AS denom
  FROM agg
)
SELECT source, n, k, round(p, 6) AS p_hat,
       round(((p + 1.96 * 1.96 / (2.0 * n))
              - 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n))) / denom,
             6) AS ci_lo,
       round(((p + 1.96 * 1.96 / (2.0 * n))
              + 1.96 * sqrt(p * (1.0 - p) / n
                            + 1.96 * 1.96 / (4.0 * n * n))) / denom,
             6) AS ci_hi
FROM s ORDER BY source
""")
def wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval (Wilson 1927) for each source's
    short-document defect rate (n_chars < 200) — the interval a data
    quality dashboard should quote instead of the Wald interval, which
    collapses to zero width at p=0 and undercovers at small n. Closed
    form: (p + z^2/2n +- z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n),
    z = 1.96.

    Scale shape: one source-keyed rollup, then pure scalar arithmetic —
    map-only after the agg; output bounded by |sources|."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias("k"),
    )
    z = 1.96
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = (
        z
        * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
        / denom
    )
    return agg.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    ).orderBy("source")


@query("""
WITH per AS (
  SELECT CAST(FLOOR(o_totalprice
              / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS INTEGER)
           AS digit,
         COUNT(*) AS cnt
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per
)
SELECT digit, cnt,
       round(CAST(cnt AS DOUBLE) / n, 6) AS obs_share,
       round(LOG10(1.0 + 1.0 / digit), 6) AS benford_share,
       round((CAST(cnt AS DOUBLE) / n - LOG10(1.0 + 1.0 / digit))
             / sqrt(LOG10(1.0 + 1.0 / digit)
                    * (1.0 - LOG10(1.0 + 1.0 / digit)) / n), 4) AS z_dev
FROM per, tot ORDER BY digit
""")
def benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (Benford 1938; Nigrini 2012's fraud
    audit staple) over order totals: observed leading-digit shares vs
    the log10(1 + 1/d) law, with each digit's standardized deviation —
    the anomaly read an auditor runs over transaction amounts before
    drilling in. Leading digit extracted arithmetically
    (p / 10^floor(log10 p)), never via string formatting.

    Scale shape: map-only digit extraction + a 9-group rollup; the
    1-row total broadcasts. Output is exactly 9 rows."""
    od = _t(spark, sf_dir, "orders")
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    per = (
        od.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per.agg(F.sum("cnt").alias("n"))
    j = per.crossJoin(F.broadcast(tot))
    obs = F.col("cnt").cast("double") / F.col("n").cast("double")
    exp_share = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    zdev = (obs - exp_share) / F.sqrt(
        exp_share * (1.0 - exp_share) / F.col("n").cast("double")
    )
    return j.select(
        "digit",
        "cnt",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp_share, 6).alias("benford_share"),
        F.round(zdev, 4).alias("z_dev"),
    ).orderBy("digit")


@query("""
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), thr AS (
  SELECT event_type, vc AS u
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CEIL(0.9 * n) AND cum >= CEIL(0.9 * n)
), exc AS (
  SELECT cents.event_type, u, CAST(vc - u AS DECIMAL(18,0)) AS e
  FROM cents JOIN thr ON cents.event_type = thr.event_type
  WHERE vc > u
)
SELECT event_type, CAST(u AS DOUBLE) / 100.0 AS threshold,
       COUNT(*) AS n_exceed,
       round(CAST(SUM(e) AS DOUBLE) / COUNT(*) / 100.0, 6) AS mean_excess,
       CAST(MAX(e) AS BIGINT) AS max_excess_cents
FROM exc GROUP BY event_type, u ORDER BY event_type
""")
def pot_mean_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold tail read (Pickands 1975; Davison & Smith
    1990's mean-excess diagnostic) per event_type: the threshold u is
    the exact P90 of the value in integer cents (histogram-rank — the
    robust_source_stats discipline: smallest cent value whose
    cumulative count reaches ceil(0.9 n)), and the op emits the
    exceedance count, the mean excess E[X - u | X > u] (the GPD
    scale-vs-shape diagnostic an SRE reads before fitting a tail), and
    the max excess. Excesses are integers, so moments are DECIMAL
    exact.

    Scale shape: one (type, cents) histogram rollup (value-domain
    bounded), a cumulative window over that bounded frame for P90, a
    broadcast threshold join back, one rollup."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(_holds_rank(F.ceil(0.9 * F.col("n"))))
        .select("event_type", F.col("vc").alias("u"))
    )
    exc = (
        cents.join(F.broadcast(thr), "event_type")
        .where(F.col("vc") > F.col("u"))
        .select(
            "event_type",
            "u",
            (F.col("vc") - F.col("u")).cast("decimal(18,0)").alias("e"),
        )
    )
    return (
        exc.groupBy("event_type", "u")
        .agg(
            F.count(F.lit(1)).alias("n_exceed"),
            (F.sum("e").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("__me"),
            F.max("e").cast("long").alias("max_excess_cents"),
        )
        .select(
            "event_type",
            (F.col("u").cast("double") / 100.0).alias("threshold"),
            "n_exceed",
            F.round(F.col("__me") / 100.0, 6).alias("mean_excess"),
            "max_excess_cents",
        )
        .orderBy("event_type")
    )


@query("""
WITH per AS (
  SELECT source, COUNT(*) AS ns,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS ss
  FROM documents GROUP BY 1
), gtot AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents
), zf AS (
  SELECT source, ns,
         (CAST(ss AS DOUBLE) / ns - CAST(s AS DOUBLE) / n)
         / (sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
            / sqrt(CAST(ns AS DOUBLE))) AS z
  FROM per, gtot
), pv AS (
  SELECT source, ns, round(z, 4) AS z,
         2.0 * (1.0 - 1.0 / (1.0 + exp(-(0.07056 * ABS(z) * ABS(z) * ABS(z)
                                         + 1.5976 * ABS(z))))) AS p
  FROM zf
), ranked AS (
  SELECT source, ns, z, p,
         ROW_NUMBER() OVER (ORDER BY p, source) AS i,
         COUNT(*) OVER () AS m
  FROM pv
), passing AS (
  SELECT *,
         MAX(CASE WHEN p <= 0.05 * i / m THEN i ELSE 0 END) OVER ()
           AS max_pass
  FROM ranked
)
SELECT source, ns, z, round(p, 6) AS p_value,
       round(0.05 * i / m, 6) AS bh_threshold,
       i <= max_pass AS rejected
FROM passing ORDER BY source
""")
def benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995) over
    the per-source mean-length drift family: each source's mean
    n_chars is z-tested against the global mean (decimal moments,
    exact), z maps to a two-sided p through the logistic normal-CDF
    approximation Phi(x) ~ 1/(1+exp(-0.07056 x^3 - 1.5976 x)) (Bowling
    et al. 2009 — algebraic, so both engines compute the identical
    double), and BH rejects the largest prefix of ascending p with
    p_(i) <= (i/m) q at q = 0.05 — the multiple-testing guard a
    monitoring suite needs once it runs one test per source.

    Scale shape: one source rollup + one global 1-row broadcast; the
    rank window runs over the |sources|-bounded p frame. The BH step
    count (max passing i) folds as a window max over that bounded
    frame."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum(dch).alias("ss"),
    )
    glob = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dch).alias("s"),
        F.sum((dch * dch).cast("decimal(38,0)")).alias("s2"),
    )
    j = per.crossJoin(F.broadcast(glob))
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sd = F.sqrt(F.col("s2").cast("double") / nd - mu * mu)
    z = (
        (F.col("ss").cast("double") / F.col("ns").cast("double") - mu)
        / (sd / F.sqrt(F.col("ns").cast("double")))
    )
    az = F.abs(z)
    phi = 1.0 / (
        1.0 + F.exp(-(0.07056 * az * az * az + 1.5976 * az))
    )
    pv = j.select(
        "source",
        "ns",
        F.round(z, 4).alias("z"),
        (2.0 * (1.0 - phi)).alias("p"),
    )
    m = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pv.withColumn(
        "i", F.row_number().over(Window.orderBy("p", "source"))
    ).withColumn("m", F.count(F.lit(1)).over(m))
    passing = ranked.withColumn(
        "pass_i",
        F.when(
            F.col("p") <= 0.05 * F.col("i") / F.col("m"), F.col("i")
        ).otherwise(F.lit(0)),
    ).withColumn("max_pass", F.max("pass_i").over(m))
    return passing.select(
        "source",
        "ns",
        "z",
        F.round("p", 6).alias("p_value"),
        F.round(0.05 * F.col("i") / F.col("m"), 6).alias("bh_threshold"),
        (F.col("i") <= F.col("max_pass")).alias("rejected"),
    ).orderBy("source")


@query("""
WITH hist AS (
  SELECT source, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, n_chars, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS n
  FROM hist
), k AS (
  SELECT *, CAST(FLOOR(0.1 * n) AS BIGINT) AS g,
         GREATEST(0, LEAST(cum, n - CAST(FLOOR(0.1 * n) AS BIGINT))
                     - GREATEST(cum - cnt,
                                CAST(FLOOR(0.1 * n) AS BIGINT))) AS kept
  FROM cum
), stats AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(g) AS BIGINT) AS g,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(kept AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS tsum,
         MAX(CASE WHEN cum >= g + 1 AND cum - cnt < g + 1
                  THEN n_chars END) AS lo_val,
         MAX(CASE WHEN cum >= n - g AND cum - cnt < n - g
                  THEN n_chars END) AS hi_val
  FROM k GROUP BY 1
)
SELECT source, n, g AS n_trimmed_each_side,
       round(CAST(tsum AS DOUBLE) / (n - 2 * g), 6) AS trimmed_mean,
       round((CAST(tsum AS DOUBLE)
              + CAST(g AS DOUBLE) * (lo_val + hi_val)) / n, 6)
         AS winsorized_mean,
       lo_val AS lo_cut, hi_val AS hi_cut
FROM stats ORDER BY source
""")
def trimmed_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed and winsorized location estimates (Tukey & McLaughlin
    1963) of document length per source: the 10%-trimmed mean (drop
    the g = floor(0.1 n) smallest and largest) and the winsorized mean
    (clamp those tails to the cut values) — the outlier-robust pair a
    corpus report quotes next to the raw mean. EXACT via the
    histogram-rank discipline: per value group, the kept multiplicity
    is the overlap of its rank span [cum-cnt+1, cum] with the window
    [g+1, n-g]; the cut values are the groups holding ranks g+1 and
    n-g. Integer value sums run in DECIMAL.

    Scale shape: one (source, n_chars) histogram rollup (bounded value
    domain), cumulative windows over that bounded frame, one rollup —
    no per-row sort."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("source").orderBy("n_chars")
    wall = Window.partitionBy("source")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("g", F.floor(0.1 * F.col("n")).cast("long"))
    )
    lo_r = F.col("g") + 1
    hi_r = F.col("n") - F.col("g")
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), hi_r)
        - F.greatest(F.col("cum") - F.col("cnt"), lo_r - 1),
    )
    dv = F.col("n_chars").cast("decimal(18,0)")
    stats = cum.groupBy("source").agg(
        F.max("n").alias("n"),
        F.max("g").alias("g"),
        F.sum((dv * kept.cast("decimal(18,0)")).cast("decimal(38,0)")).alias(
            "tsum"
        ),
        F.max(
            F.when(
                (F.col("cum") >= lo_r) & (F.col("cum") - F.col("cnt") < lo_r),
                F.col("n_chars"),
            )
        ).alias("lo_val"),
        F.max(
            F.when(
                (F.col("cum") >= hi_r) & (F.col("cum") - F.col("cnt") < hi_r),
                F.col("n_chars"),
            )
        ).alias("hi_val"),
    )
    nd = (F.col("n") - 2 * F.col("g")).cast("double")
    tmean = F.col("tsum").cast("double") / nd
    wsum = (
        F.col("tsum").cast("double")
        + F.col("g").cast("double")
        * (F.col("lo_val") + F.col("hi_val")).cast("double")
    )
    return stats.select(
        "source",
        "n",
        F.col("g").alias("n_trimmed_each_side"),
        F.round(tmean, 6).alias("trimmed_mean"),
        F.round(wsum / F.col("n").cast("double"), 6).alias("winsorized_mean"),
        F.col("lo_val").alias("lo_cut"),
        F.col("hi_val").alias("hi_cut"),
    ).orderBy("source")


@query("""
WITH per AS (
  SELECT event_type, user_id % 2 = 1 AS treated, COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1, 2
), j AS (
  SELECT t.event_type, t.n AS nt, c.n AS nc,
         CAST(t.s AS DOUBLE) / t.n AS mt, CAST(c.s AS DOUBLE) / c.n AS mc,
         CAST(t.s2 AS DOUBLE) - t.n * (CAST(t.s AS DOUBLE) / t.n)
           * (CAST(t.s AS DOUBLE) / t.n) AS sst,
         CAST(c.s2 AS DOUBLE) - c.n * (CAST(c.s AS DOUBLE) / c.n)
           * (CAST(c.s AS DOUBLE) / c.n) AS ssc
  FROM (SELECT * FROM per WHERE treated) t
  JOIN (SELECT * FROM per WHERE NOT treated) c
    ON t.event_type = c.event_type
), d AS (
  SELECT event_type, nt, nc,
         (mt - mc) / sqrt((sst + ssc) / (nt + nc - 2.0)) AS d,
         1.0 - 3.0 / (4.0 * (nt + nc - 2.0) - 1.0) AS jc
  FROM j
)
SELECT event_type, nt AS n_treated, nc AS n_control,
       round(d, 6) AS cohens_d, round(d * jc, 6) AS hedges_g,
       CASE WHEN ABS(d) < 0.2 THEN 'negligible'
            WHEN ABS(d) < 0.5 THEN 'small'
            WHEN ABS(d) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d ORDER BY event_type
""")
def cohens_d_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size per event_type between the A/B arms
    (Cohen 1988's d with pooled SD; Hedges 1981's small-sample
    correction J = 1 - 3/(4 df - 1)) over values in integer cents —
    the magnitude read that accompanies any significance test, because
    with big n everything is 'significant'. Arms are the user_id
    parity (the cuped convention). Moments run in DECIMAL, so d is one
    deterministic double expression.

    Scale shape: one (type, arm) rollup, then scalar assembly per
    type. Output |types| rows."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    per = ev.groupBy(
        "event_type", (F.col("user_id") % 2 == 1).alias("treated")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    t = per.where(F.col("treated")).select(
        "event_type",
        F.col("n").alias("nt"),
        F.col("s").alias("st"),
        F.col("s2").alias("s2t"),
    )
    c = per.where(~F.col("treated")).select(
        "event_type",
        F.col("n").alias("nc"),
        F.col("s").alias("sc"),
        F.col("s2").alias("s2c"),
    )
    j = t.join(c, "event_type")
    ntd = F.col("nt").cast("double")
    ncd = F.col("nc").cast("double")
    mt = F.col("st").cast("double") / ntd
    mc = F.col("sc").cast("double") / ncd
    sst = F.col("s2t").cast("double") - ntd * mt * mt
    ssc = F.col("s2c").cast("double") - ncd * mc * mc
    sp = F.sqrt((sst + ssc) / (ntd + ncd - 2.0))
    d = (mt - mc) / sp
    jcorr = 1.0 - 3.0 / (4.0 * (ntd + ncd - 2.0) - 1.0)
    return j.select(
        "event_type",
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * jcorr, 6).alias("hedges_g"),
        F.when(F.abs(d) < 0.2, "negligible")
        .when(F.abs(d) < 0.5, "small")
        .when(F.abs(d) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    ).orderBy("event_type")


@query("""
WITH cents AS (
  SELECT event_type, user_id % 2 = 1 AS treated,
         CAST(FLOOR(value * 100) AS BIGINT) AS vc
  FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), med AS (
  SELECT event_type, vc AS med
  FROM (
    SELECT event_type, vc, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), cells AS (
  SELECT cents.event_type,
         CAST(SUM(CASE WHEN treated AND vc > med THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN treated AND vc <= med THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT treated AND vc > med THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN NOT treated AND vc <= med THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM cents JOIN med ON cents.event_type = med.event_type
  GROUP BY 1
), terms AS (
  SELECT event_type, a, b, c, d,
         CAST(a + b + c + d AS DOUBLE) AS nk,
         a - CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d) AS ame,
         CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
           / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
              * (a + b + c + d - 1.0)) AS vk,
         CAST(a AS DOUBLE) * d / (a + b + c + d) AS rk,
         CAST(b AS DOUBLE) * c / (a + b + c + d) AS sk
  FROM cells
), pooled AS (
  SELECT SUM(ame) AS sum_ame, SUM(vk) AS sum_v,
         SUM(rk) AS sum_r, SUM(sk) AS sum_s
  FROM terms
)
SELECT event_type, a, b, c, d,
       round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 4)
         AS stratum_or,
       round(sum_r / sum_s, 4) AS mh_or,
       round((ABS(sum_ame) - 0.5) * (ABS(sum_ame) - 0.5) / sum_v, 4)
         AS cmh_chi2
FROM terms, pooled ORDER BY event_type
""")
def cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified association test (Mantel &
    Haenszel 1959; Cochran 1954): does the treated arm exceed each
    event type's own median value more often than control, pooled
    ACROSS types as strata — the confounder-guarded 2x2 readout
    (Simpson's-paradox-proof where a naive pooled table is not). Per
    stratum: exposure = user parity, outcome = value above the
    stratum's exact cents median (histogram-rank). Emits per-stratum
    2x2 counts and odds ratios plus the pooled MH odds ratio and CMH
    chi-square (continuity-corrected) repeated on each row.

    Scale shape: one cents-histogram per type (bounded domain) for the
    medians, one (type, arm, outcome) rollup, then |types|-row scalar
    assembly with the pooled terms in a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.floor(F.col("value") * 100).alias("vc"),
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(_holds_rank(F.ceil(F.col("n") / 2)))
        .select("event_type", F.col("vc").alias("med"))
    )
    cells = (
        cents.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("treated") & (F.col("vc") > F.col("med")), 1)
                .otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("treated") & (F.col("vc") <= F.col("med")), 1)
                .otherwise(0)
            ).alias("b"),
            F.sum(
                F.when(~F.col("treated") & (F.col("vc") > F.col("med")), 1)
                .otherwise(0)
            ).alias("c"),
            F.sum(
                F.when(~F.col("treated") & (F.col("vc") <= F.col("med")), 1)
                .otherwise(0)
            ).alias("d"),
        )
    )
    nk = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    ad, bd, cd, dd = (
        F.col("a").cast("double"),
        F.col("b").cast("double"),
        F.col("c").cast("double"),
        F.col("d").cast("double"),
    )
    terms = cells.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        (ad - (ad + bd) * (ad + cd) / nk).alias("amE"),
        (
            (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
            / (nk * nk * (nk - 1.0))
        ).alias("vk"),
        (ad * dd / nk).alias("rk"),
        (bd * cd / nk).alias("sk"),
    )
    pooled = terms.agg(
        F.sum("amE").alias("sum_ame"),
        F.sum("vk").alias("sum_v"),
        F.sum("rk").alias("sum_r"),
        F.sum("sk").alias("sum_s"),
    )
    chi2 = (
        (F.abs(F.col("sum_ame")) - 0.5)
        * (F.abs(F.col("sum_ame")) - 0.5)
        / F.col("sum_v")
    )
    return (
        terms.crossJoin(F.broadcast(pooled))
        .select(
            "event_type",
            "a",
            "b",
            "c",
            "d",
            F.round(
                ad * dd / (bd * cd),
                4,
            ).alias("stratum_or"),
            F.round(F.col("sum_r") / F.col("sum_s"), 4).alias("mh_or"),
            F.round(chi2, 4).alias("cmh_chi2"),
        )
        .orderBy("event_type")
    )


@query("""
WITH per_user AS (
  SELECT user_id % 2 = 1 AS treated, COUNT(*) AS stratum,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), cell AS (
  SELECT stratum, treated, COUNT(*) AS n,
         SUM(CAST(y AS DECIMAL(18,0))) AS sy
  FROM per_user GROUP BY 1, 2
), kept AS (
  SELECT t.stratum, t.n AS nt, c.n AS nc,
         CAST(t.sy AS DOUBLE) / t.n - CAST(c.sy AS DOUBLE) / c.n AS gap
  FROM (SELECT * FROM cell WHERE treated) t
  JOIN (SELECT * FROM cell WHERE NOT treated) c ON t.stratum = c.stratum
), pool AS (
  SELECT CAST(SUM(nt) AS BIGINT) AS tot_t, SUM(nt * gap) AS wgap FROM kept
)
SELECT stratum, nt, nc, round(gap, 6) AS stratum_gap,
       round(wgap / tot_t, 6) AS pooled_att
FROM kept, pool ORDER BY stratum
""")
def cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching treatment effect (Iacus, King & Porro
    2012): users match EXACTLY on their activity stratum (total event
    count), strata missing either arm drop (the CEM prune), and the
    ATT is the treated-weighted mean of per-stratum outcome gaps —
    purchase count as the outcome, user parity as the arm. The
    confounder here is mechanical: heavier users have more purchases,
    so the naive arm gap is activity-confounded; CEM removes it
    exactly.

    Scale shape: one per-user rollup, one (stratum, arm) rollup over
    the bounded activity domain, scalar pooling via a 1-row broadcast.
    Output is |kept strata| rows (pooled ATT repeated per row, the
    cmh_test convention)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("stratum"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).select(
        (F.col("user_id") % 2 == 1).alias("treated"), "stratum", "y"
    )
    cell = per_user.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(18,0)")).alias("sy"),
    )
    t = cell.where(F.col("treated")).select(
        "stratum", F.col("n").alias("nt"), F.col("sy").alias("syt")
    )
    c = cell.where(~F.col("treated")).select(
        "stratum", F.col("n").alias("nc"), F.col("sy").alias("syc")
    )
    kept = t.join(c, "stratum")
    gap = (
        F.col("syt").cast("double") / F.col("nt").cast("double")
        - F.col("syc").cast("double") / F.col("nc").cast("double")
    )
    wsum = kept.agg(
        F.sum("nt").alias("tot_t"),
        F.sum(F.col("nt").cast("double") * gap).alias("wgap"),
    )
    att = F.col("wgap") / F.col("tot_t").cast("double")
    return (
        kept.crossJoin(F.broadcast(wsum))
        .select(
            "stratum",
            "nt",
            "nc",
            F.round(gap, 6).alias("stratum_gap"),
            F.round(att, 6).alias("pooled_att"),
        )
        .orderBy("stratum")
    )


@query("""
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per AS (
  SELECT user_id % 2 = 1 AS treated,
         epoch(ts) * 2 > t0 + t1 AS post, user_id,
         CAST(SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS DOUBLE)
           / COUNT(*) AS y
  FROM events, bounds GROUP BY 1, 2, 3
), cells AS (
  SELECT treated, post, COUNT(*) AS n, AVG(y) AS m, var_samp(y) AS v
  FROM per GROUP BY 1, 2
), pooled AS (
  SELECT ((SELECT m FROM cells WHERE treated AND post)
          - (SELECT m FROM cells WHERE treated AND NOT post))
         - ((SELECT m FROM cells WHERE NOT treated AND post)
            - (SELECT m FROM cells WHERE NOT treated AND NOT post)) AS did,
         sqrt((SELECT v / n FROM cells WHERE treated AND post)
              + (SELECT v / n FROM cells WHERE treated AND NOT post)
              + (SELECT v / n FROM cells WHERE NOT treated AND post)
              + (SELECT v / n FROM cells WHERE NOT treated AND NOT post))
           AS se
)
SELECT treated, post, n, round(m, 6) AS cell_mean_cents,
       round(did, 6) AS did_estimate, round(se, 6) AS did_se,
       round(did / se, 4) AS did_t
FROM cells, pooled ORDER BY treated, post
""")
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (the Card & Krueger 1994 two-period
    two-group design): outcome = user-period mean value in cents, arms
    = user parity, periods split at the time midpoint. Emits the four
    cell means, the DiD point estimate (gap-in-gaps), and its
    large-sample SE from the four cell variances — the workhorse
    quasi-experimental readout when randomization wasn't available.
    Cell moments run in DECIMAL cents, so the estimate is one
    deterministic double expression.

    Scale shape: one per-(user, period) rollup, one 4-cell rollup,
    then pure scalar assembly. Output is 4 rows (cells) with the
    pooled estimate repeated (the cmh_test convention)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            (F.col("user_id") % 2 == 1).alias("treated"),
            (
                F.col("ts").cast("long") * 2 > F.col("t0") + F.col("t1")
            ).alias("post"),
            "user_id",
        )
        .agg(
            (
                F.sum(F.floor(F.col("value") * 100).cast("decimal(18,0)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
    )
    cells = per.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    # explicit 4-cell assembly (no pivot — keeps both engines identical)
    tt = cells.where(F.col("treated") & F.col("post")).select(
        F.col("m").alias("m_tp"), (F.col("v") / F.col("n")).alias("se_tp")
    )
    tb = cells.where(F.col("treated") & ~F.col("post")).select(
        F.col("m").alias("m_tb"), (F.col("v") / F.col("n")).alias("se_tb")
    )
    ct = cells.where(~F.col("treated") & F.col("post")).select(
        F.col("m").alias("m_cp"), (F.col("v") / F.col("n")).alias("se_cp")
    )
    cb = cells.where(~F.col("treated") & ~F.col("post")).select(
        F.col("m").alias("m_cb"), (F.col("v") / F.col("n")).alias("se_cb")
    )
    pooled = (
        tt.crossJoin(tb).crossJoin(ct).crossJoin(cb).select(
            (
                (F.col("m_tp") - F.col("m_tb"))
                - (F.col("m_cp") - F.col("m_cb"))
            ).alias("did"),
            F.sqrt(
                F.col("se_tp")
                + F.col("se_tb")
                + F.col("se_cp")
                + F.col("se_cb")
            ).alias("se"),
        )
    )
    return (
        cells.crossJoin(F.broadcast(pooled))
        .select(
            "treated",
            "post",
            "n",
            F.round("m", 6).alias("cell_mean_cents"),
            F.round("did", 6).alias("did_estimate"),
            F.round("se", 6).alias("did_se"),
            F.round(F.col("did") / F.col("se"), 4).alias("did_t"),
        )
        .orderBy("treated", "post")
    )


def _sprt_sql() -> str:
    import math

    l1 = repr(math.log(0.55 / 0.5))
    l0 = repr(math.log(0.45 / 0.5))
    bound = repr(math.log(19.0))
    return f"""
WITH cents AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(FLOOR(value * 100) AS BIGINT) AS vc
  FROM events
), hist AS (
  SELECT vc, COUNT(*) AS cnt FROM cents GROUP BY 1
), med AS (
  SELECT vc AS med
  FROM (SELECT vc, cnt, SUM(cnt) OVER (ORDER BY vc) AS cum,
               SUM(cnt) OVER () AS n
        FROM hist)
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), daily AS (
  SELECT event_type, day,
         CAST(SUM(CASE WHEN vc > med THEN 1 ELSE 0 END) AS BIGINT) AS k,
         COUNT(*) AS n
  FROM cents, med GROUP BY 1, 2
), llr AS (
  SELECT event_type, day,
         CAST(SUM(k) OVER w AS DOUBLE) * {l1}
           + CAST(SUM(n) OVER w - SUM(k) OVER w AS DOUBLE) * {l0} AS llr
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), crossed AS (
  SELECT event_type, day, llr,
         CASE WHEN llr >= {bound} THEN 'accept_h1'
              WHEN llr <= -{bound} THEN 'accept_h0' END AS decision
  FROM llr
), first AS (
  SELECT event_type, day AS decision_day, decision,
         round(llr, 6) AS llr_at_decision
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS rn
        FROM crossed WHERE decision IS NOT NULL)
  WHERE rn = 1
), final AS (
  SELECT event_type, round(llr, 6) AS final_llr
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day DESC) AS rn
        FROM llr)
  WHERE rn = 1
)
SELECT final.event_type, final_llr,
       COALESCE(decision, 'continue') AS decision,
       decision_day, llr_at_decision
FROM final LEFT JOIN first ON final.event_type = first.event_type
ORDER BY final.event_type
"""


@query(_sprt_sql())
def sprt_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test readout (Wald 1945):
    per event_type, the cumulative Bernoulli log-likelihood ratio for
    H1: P(value > global median) = 0.55 vs H0: 0.5, walked day by day
    with the alpha = beta = 0.05 boundaries +-ln(19) — when COULD this
    monitor have stopped, and which way? The global median is exact
    over integer cents (histogram-rank). LLR_T = K ln(p1/p0) + (N - K)
    ln(q1/q0) with integer (K, N) per prefix, so every day's statistic
    is an exact-integer combination of two double constants —
    deterministic cross-engine.

    Scale shape: one global cents histogram (bounded domain) for the
    median, a calendar-bounded daily rollup, cumulative windows over
    |days|, and a first-crossing pick via one more bounded window."""
    ev = _t(spark, sf_dir, "events")
    import math

    cents = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor(F.col("value") * 100).alias("vc"),
    )
    hist = cents.groupBy("vc").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("vc")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wall))
        .where(_holds_rank(F.ceil(F.col("n") / 2)))
        .select(F.col("vc").alias("med"))
    )
    l1 = math.log(0.55 / 0.5)
    l0 = math.log(0.45 / 0.5)
    bound = math.log(19.0)
    daily = (
        cents.crossJoin(F.broadcast(med))
        .groupBy("event_type", "day")
        .agg(
            F.sum(F.when(F.col("vc") > F.col("med"), 1).otherwise(0)).alias(
                "k"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    llr = daily.select(
        "event_type",
        "day",
        (
            F.sum("k").over(wd).cast("double") * F.lit(l1)
            + (F.sum("n").over(wd) - F.sum("k").over(wd)).cast("double")
            * F.lit(l0)
        ).alias("llr"),
    )
    crossed = llr.withColumn(
        "decision",
        F.when(F.col("llr") >= bound, "accept_h1")
        .when(F.col("llr") <= -bound, "accept_h0")
        .otherwise(None),
    )
    first = (
        crossed.where(F.col("decision").isNotNull())
        .groupBy("event_type")
        .agg(F.min(F.struct("day", "decision", "llr")).alias("f"))
        .select(
            "event_type",
            F.col("f.day").alias("decision_day"),
            F.col("f.decision").alias("decision"),
            F.round(F.col("f.llr"), 6).alias("llr_at_decision"),
        )
    )
    final = llr.groupBy("event_type").agg(
        F.max(F.struct("day", "llr")).alias("l")
    ).select("event_type", F.round(F.col("l.llr"), 6).alias("final_llr"))
    return (
        final.join(first, "event_type", "left")
        .select(
            "event_type",
            "final_llr",
            F.coalesce("decision", F.lit("continue")).alias("decision"),
            "decision_day",
            "llr_at_decision",
        )
        .orderBy("event_type")
    )


@query("""
WITH per AS (
  SELECT source, COUNT(*) AS ns,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS ss
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ns) AS BIGINT) AS n, SUM(ss) AS s FROM per
)
SELECT source, ns,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_all,
       round(CAST(s - ss AS DOUBLE) / (n - ns), 6) AS mean_without,
       round(CAST(s - ss AS DOUBLE) / (n - ns)
             - CAST(s AS DOUBLE) / n, 6) AS influence
FROM per, tot ORDER BY source
""")
def jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence (Quenouille 1956 / Tukey 1958
    jackknife, the honest closed-form cousin of influence functions):
    how much does dropping each entire source shift the corpus mean
    document length? delta_s = S-minus-s mean - overall mean, exactly
    computable from per-source aggregates — the first-cut answer to
    "which source is dragging my length distribution", before anything
    model-based. Decimal sums make each delta one deterministic double.

    Scale shape: one source rollup + a 1-row total broadcast; output
    |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"), F.sum(dch).alias("ss")
    )
    tot = per.agg(F.sum("ns").alias("n"), F.sum("ss").alias("s"))
    j = per.crossJoin(F.broadcast(tot))
    mean_all = F.col("s").cast("double") / F.col("n").cast("double")
    mean_wo = (
        (F.col("s") - F.col("ss")).cast("double")
        / (F.col("n") - F.col("ns")).cast("double")
    )
    return j.select(
        "source",
        "ns",
        F.round(mean_all, 6).alias("mean_all"),
        F.round(mean_wo, 6).alias("mean_without"),
        F.round(mean_wo - mean_all, 6).alias("influence"),
    ).orderBy("source")


@query("""
WITH per AS (
  SELECT source, COUNT(*) AS nh,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents GROUP BY 1
), wgt AS (
  SELECT source, nh,
         nh * sqrt(CAST(s2 AS DOUBLE) / nh
                   - (CAST(s AS DOUBLE) / nh) * (CAST(s AS DOUBLE) / nh))
           AS w
  FROM per
), j AS (
  SELECT source, nh, 10000.0 * w / (SELECT SUM(w) FROM wgt) AS exact
  FROM wgt
), f AS (
  SELECT source, nh, round(exact, 4) AS exact_share,
         CAST(FLOOR(exact) AS BIGINT) AS base,
         exact - FLOOR(exact) AS rem
  FROM j
), r AS (
  SELECT *, 10000 - SUM(base) OVER () AS short,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr
  FROM f
)
SELECT source, nh, exact_share,
       base + CASE WHEN rr <= short THEN 1 ELSE 0 END AS allocated
FROM r ORDER BY source
""")
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934): how
    a 10,000-doc annotation budget should split across sources,
    n_h ~ N_h * S_h (stratum size times stratum SD of doc length) —
    the design that minimizes the stratified estimator's variance,
    integerized by largest remainder (the hamilton_allocation
    discipline: floors, then the K largest fractional remainders get
    +1, ties by source name).

    Scale shape: one source moment rollup (decimal-exact), a 1-row
    total broadcast, rank window over the |sources| frame."""
    docs = _t(spark, sf_dir, "documents")
    dch = F.col("n_chars").cast("decimal(18,0)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(dch).alias("s"),
        F.sum((dch * dch).cast("decimal(38,0)")).alias("s2"),
    )
    nh = F.col("nh").cast("double")
    mu = F.col("s").cast("double") / nh
    sd = F.sqrt(F.col("s2").cast("double") / nh - mu * mu)
    wgt = per.select("source", "nh", (nh * sd).alias("w"))
    tot = wgt.agg(F.sum("w").alias("tw"))
    j = wgt.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        (10000.0 * F.col("w") / F.col("tw")).alias("exact"),
    )
    withfloor = j.select(
        "source",
        "nh",
        F.round("exact", 4).alias("exact_share"),
        F.floor("exact").cast("long").alias("base"),
        (F.col("exact") - F.floor("exact")).alias("rem"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = withfloor.withColumn(
        "short", F.lit(10000) - F.sum("base").over(wall)
    ).withColumn(
        "rr",
        F.row_number().over(Window.orderBy(F.desc("rem"), "source")),
    )
    return ranked.select(
        "source",
        "nh",
        "exact_share",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
        ).alias("allocated"),
    ).orderBy("source")


@query(None)
def bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry source-strength fit (Bradley & Terry 1952) via
    Hunter's 2004 MM algorithm, over quality duels minted from the
    corpus: within each (lang, length-bucket) prompt-proxy group the
    top-5 docs by the dpo_pairs quality score each 'beat' the bottom-5
    (cross-source duels only), and MM iterates p_i = W_i / sum_j
    n_ij / (p_i + p_j) for a FIXED 100 rounds with 0.5 pseudo-wins on
    every ordered source pair (keeps the comparison graph connected) —
    the same fit that ranks models from pairwise human preferences,
    here ranking SOURCES from document-quality duels. Rows-only for
    the driver (iterative fit); the gate recomputes the duels and the
    exact MM sequence in python (tests/test_quality.py).

    Scale shape: rank windows per bounded group mint <=25 duels/group;
    the wins matrix is |sources|^2-BOUNDED and collects once (the
    pq_quantize codebook discipline); MM runs driver-side on that tiny
    matrix; the result is a |sources|-row local frame."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    toks = text.token_count_ws(F.col("text"))
    base = docs.select(
        "lang",
        (F.floor(F.col("n_chars") / 200) * 200).alias("len_bucket"),
        "doc_id",
        "source",
        (
            F.col("n_chars").cast("double")
            / F.greatest(toks, F.lit(1)).cast("double")
        ).alias("score"),
    )
    wg = Window.partitionBy("lang", "len_bucket")
    ranked = base.select(
        "lang",
        "len_bucket",
        "source",
        "score",
        F.row_number().over(
            wg.orderBy(F.desc("score"), F.desc("doc_id"))
        ).alias("rb"),
        F.row_number().over(
            wg.orderBy(F.asc("score"), F.asc("doc_id"))
        ).alias("rw"),
    )
    top = ranked.where(F.col("rb") <= 5).select(
        "lang",
        "len_bucket",
        F.col("source").alias("winner"),
        F.col("score").alias("ws"),
    )
    bot = ranked.where(F.col("rw") <= 5).select(
        "lang",
        "len_bucket",
        F.col("source").alias("loser"),
        F.col("score").alias("ls"),
    )
    duels = (
        top.join(bot, ["lang", "len_bucket"])
        .where((F.col("winner") != F.col("loser")) & (F.col("ws") > F.col("ls")))
        .groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wins = {(r["winner"], r["loser"]): r["w"] for r in duels.collect()}
    sources = sorted(
        {w for w, _ in wins} | {l for _, l in wins}
        | {r["source"] for r in docs.select("source").distinct().collect()}
    )
    # pseudo-win smoothing on every ordered pair
    n_ij = {}
    for i in sources:
        for j in sources:
            if i != j:
                n_ij[(i, j)] = wins.get((i, j), 0) + 0.5
    p = {s: 1.0 for s in sources}
    for _ in range(100):
        newp = {}
        for i in sources:
            wi = sum(n_ij[(i, j)] for j in sources if j != i)
            denom = sum(
                (n_ij[(i, j)] + n_ij[(j, i)]) / (p[i] + p[j])
                for j in sources
                if j != i
            )
            newp[i] = wi / denom
        tot = sum(newp.values())
        p = {s: v * len(sources) / tot for s, v in newp.items()}
    rows = [
        (
            s,
            round(p[s], 6),
            int(sum(wins.get((s, j), 0) for j in sources)),
            int(sum(wins.get((j, s), 0) for j in sources)),
        )
        for s in sources
    ]
    out = spark.createDataFrame(
        rows, "source string, bt_strength double, wins long, losses long"
    )
    rk = Window.orderBy(F.desc("bt_strength"), "source")
    return out.select(
        "source",
        "bt_strength",
        "wins",
        "losses",
        F.row_number().over(rk).alias("rank"),
    ).orderBy("source")


@query("""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), per AS (
  SELECT user_id % 100 AS bucket, COUNT(*) AS b FROM users GROUP BY 1
), tot AS (
  SELECT CAST(SUM(b) AS BIGINT) AS n, COUNT(*) AS k FROM per
), agg AS (
  SELECT n, k,
         SUM(CAST((CAST(100 AS DECIMAL(18,0)) * CAST(b AS DECIMAL(18,0))
                   - CAST(n AS DECIMAL(18,0)))
                  * (CAST(100 AS DECIMAL(18,0)) * CAST(b AS DECIMAL(18,0))
                     - CAST(n AS DECIMAL(18,0))) AS DECIMAL(38,0))) AS num,
         CAST(MAX(b) AS BIGINT) AS max_bucket,
         CAST(MIN(b) AS BIGINT) AS min_bucket
  FROM per, tot GROUP BY 1, 2
)
SELECT n AS n_users, k AS n_buckets, min_bucket, max_bucket,
       round(CAST(num AS DOUBLE) / (100.0 * n), 4) AS srm_chi2,
       CASE WHEN CAST(num AS DOUBLE) / (100.0 * n) > 148.21
            THEN 'mismatch' ELSE 'ok' END AS verdict
FROM agg
""")
def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (the experimentation-platform guard
    popularized by Kohavi, Tang & Xu 2020, "Trustworthy Online
    Controlled Experiments"): users hash into 100 assignment buckets
    (user_id mod 100 — deterministic), and the chi-square against the
    uniform expectation screams if the assignment pipeline is dropping
    or double-counting anyone — the FIRST check any A/B readout must
    pass, run before looking at the metric. The statistic folds as
    sum (100 b_i - n)^2 / (100 n) with an exact-integer numerator (the
    per-bucket sums run in DECIMAL), so both engines agree bitwise.

    Scale shape: one distinct-user rollup, one 100-row bucket rollup,
    pure scalar assembly. Output one row."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    per = users.groupBy(F.pmod("user_id", F.lit(100)).alias("bucket")).agg(
        F.count(F.lit(1)).alias("b")
    )
    tot = per.agg(
        F.sum("b").alias("n"), F.count(F.lit(1)).alias("k")
    )
    j = per.crossJoin(F.broadcast(tot))
    dev = (
        F.lit(100).cast("decimal(18,0)") * F.col("b").cast("decimal(18,0)")
        - F.col("n").cast("decimal(18,0)")
    )
    agg = j.groupBy("n", "k").agg(
        F.sum((dev * dev).cast("decimal(38,0)")).alias("num"),
        F.max("b").alias("max_bucket"),
        F.min("b").alias("min_bucket"),
    )
    chi2 = F.col("num").cast("double") / (100.0 * F.col("n").cast("double"))
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("k").alias("n_buckets"),
        "min_bucket",
        "max_bucket",
        F.round(chi2, 4).alias("srm_chi2"),
        # chi2_{0.999, df=99} ~ 148.21: the SRM convention is a very
        # low alpha because a true mismatch is a pipeline bug, not noise
        F.when(chi2 > 148.21, "mismatch").otherwise("ok").alias("verdict"),
    )


@query("""
WITH bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events
), binned AS (
  SELECT LEAST(999, CAST(FLOOR((value - vmin) / (vmax - vmin) * 1000.0)
                         AS BIGINT)) AS bin,
         event_type = 'purchase' AS pos,
         (vmax - vmin) / 1000.0 AS binw, vmin
  FROM events, bounds
), per AS (
  SELECT bin, binw, vmin,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS q
  FROM binned GROUP BY 1, 2, 3
), cum AS (
  SELECT bin, binw, vmin,
         SUM(p) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         SUM(q) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ql,
         SUM(p) OVER () AS pt, SUM(q) OVER () AS qt
  FROM per
  QUALIFY bin < 999
), cand AS (
  SELECT bin, binw, vmin, pt, qt,
         (CAST(pl + ql AS DOUBLE) / (pt + qt))
           * (1.0 - (CAST(pl AS DOUBLE) / (pl + ql))
                    * (CAST(pl AS DOUBLE) / (pl + ql))
                  - (CAST(pl + ql - pl AS DOUBLE) / (pl + ql))
                    * (CAST(pl + ql - pl AS DOUBLE) / (pl + ql)))
         + (CAST(pt + qt - pl - ql AS DOUBLE) / (pt + qt))
           * (1.0 - (CAST(pt - pl AS DOUBLE) / (pt + qt - pl - ql))
                    * (CAST(pt - pl AS DOUBLE) / (pt + qt - pl - ql))
                  - (CAST(qt - ql AS DOUBLE) / (pt + qt - pl - ql))
                    * (CAST(qt - ql AS DOUBLE) / (pt + qt - pl - ql)))
           AS wgini
  FROM cum
  WHERE pl + ql > 0 AND pt + qt - pl - ql > 0
), best AS (
  SELECT pt, qt, bin, binw, vmin, wgini
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY wgini, bin) AS rn FROM cand)
  WHERE rn = 1
)
SELECT round(vmin + (bin + 1) * binw, 6) AS best_threshold,
       round(wgini, 6) AS split_gini,
       round(1.0 - (CAST(pt AS DOUBLE) / (pt + qt))
                   * (CAST(pt AS DOUBLE) / (pt + qt))
                 - (CAST(qt AS DOUBLE) / (pt + qt))
                   * (CAST(qt AS DOUBLE) / (pt + qt)), 6) AS baseline_gini,
       round(1.0 - (CAST(pt AS DOUBLE) / (pt + qt))
                   * (CAST(pt AS DOUBLE) / (pt + qt))
                 - (CAST(qt AS DOUBLE) / (pt + qt))
                   * (CAST(qt AS DOUBLE) / (pt + qt)) - wgini, 6)
         AS gini_gain,
       CAST(pt AS BIGINT) AS n_positive, CAST(qt AS BIGINT) AS n_negative
FROM best
""")
def gini_impurity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best decision-stump split (CART — Breiman, Friedman, Olshen &
    Stone 1984): the single value threshold that best separates
    purchase events from the rest by weighted Gini impurity — the
    univariate feature screen a feature store runs before anything
    gradient-boosted, and the exact computation behind 'is this signal
    worth a tree'. Values quantize to 1000 bins (the ks_drift
    discipline); every candidate boundary's weighted impurity comes
    from cumulative class counts over the bounded bin frame; argmin
    tie-breaks to the smallest threshold via a struct min.

    Scale shape: one (bin) rollup with class counts, cumulative
    windows over <=1000 rows, a 1-row argmin. Output one row."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(999),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 1000.0
            ),
        ).alias("bin"),
        (F.col("event_type") == "purchase").alias("pos"),
        ((F.col("vmax") - F.col("vmin")) / 1000.0).alias("binw"),
        F.col("vmin").alias("vmin"),
    )
    per = binned.groupBy("bin", "binw", "vmin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("p"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("q"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "bin",
        "binw",
        "vmin",
        F.sum("p").over(w).alias("pl"),
        F.sum("q").over(w).alias("ql"),
        F.sum("p").over(wall).alias("pt"),
        F.sum("q").over(wall).alias("qt"),
    ).where(F.col("bin") < 999)
    nl = (F.col("pl") + F.col("ql")).cast("double")
    nr = (
        F.col("pt") + F.col("qt") - F.col("pl") - F.col("ql")
    ).cast("double")
    n = (F.col("pt") + F.col("qt")).cast("double")
    pld = F.col("pl").cast("double")
    prd = (F.col("pt") - F.col("pl")).cast("double")
    gl = 1.0 - (pld / nl) * (pld / nl) - ((nl - pld) / nl) * ((nl - pld) / nl)
    gr = 1.0 - (prd / nr) * (prd / nr) - ((nr - prd) / nr) * ((nr - prd) / nr)
    wg = (nl / n) * gl + (nr / n) * gr
    cand = cum.where((nl > 0) & (nr > 0)).select(
        "bin",
        "binw",
        "vmin",
        "pt",
        "qt",
        wg.alias("wgini"),
    )
    best = cand.groupBy("pt", "qt").agg(
        F.min(F.struct("wgini", "bin", "binw", "vmin")).alias("b")
    )
    ptd = F.col("pt").cast("double")
    qtd = F.col("qt").cast("double")
    base = 1.0 - (ptd / (ptd + qtd)) * (ptd / (ptd + qtd)) - (
        qtd / (ptd + qtd)
    ) * (qtd / (ptd + qtd))
    return best.select(
        F.round(
            F.col("b.vmin") + (F.col("b.bin") + 1) * F.col("b.binw"), 6
        ).alias("best_threshold"),
        F.round(F.col("b.wgini"), 6).alias("split_gini"),
        F.round(base, 6).alias("baseline_gini"),
        F.round(base - F.col("b.wgini"), 6).alias("gini_gain"),
        F.col("pt").alias("n_positive"),
        F.col("qt").alias("n_negative"),
    )


@query(None)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration via pool-adjacent-violators (Ayer et al.
    1955 PAVA; Zadrozny & Elkan 2002 for classifier calibration):
    fit the monotone map from value decile to purchase probability —
    the nonparametric alternative to Platt scaling that
    ece_calibration's bins feed. The raw per-bin rates need not be
    monotone; PAVA pools adjacent violators into weighted blocks.
    Rows-only for the driver (the pooling is sequential); PAVA runs
    DRIVER-SIDE on the 100-row bounded bin table (the bradley_terry
    collect discipline), and the gate recomputes it exactly in python
    (tests/test_quality.py).

    Scale shape: one 100-bin rollup (corpus-scale work is one agg);
    everything after is O(bins) on the driver."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.lit(99),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * 100.0
                ),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
        )
        .orderBy("bin")
    )
    rows = per.collect()
    # PAVA over the bounded bin table: pool adjacent violators
    blocks = []  # [sum_k, sum_n, bins]
    for r in rows:
        blocks.append([float(r["k"]), float(r["n"]), [int(r["bin"])]])
        while (
            len(blocks) > 1
            and blocks[-2][0] * blocks[-1][1]
            >= blocks[-1][0] * blocks[-2][1]
        ):
            k2, n2, b2 = blocks.pop()
            blocks[-1][0] += k2
            blocks[-1][1] += n2
            blocks[-1][2].extend(b2)
    out = []
    raw = {int(r["bin"]): (int(r["k"]), int(r["n"])) for r in rows}
    for k, n, bins in blocks:
        fit = round(k / n, 6) if n else 0.0
        for b in bins:
            rk, rn = raw[b]
            out.append(
                (b, rn, round(rk / rn, 6) if rn else 0.0, fit)
            )
    return spark.createDataFrame(
        sorted(out),
        "bin long, n long, raw_rate double, isotonic_rate double",
    ).orderBy("bin")


@query("""
WITH cents AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vc FROM events
), hist AS (
  SELECT event_type, vc, COUNT(*) AS cnt FROM cents GROUP BY 1, 2
), cum AS (
  SELECT event_type, vc, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
), q1 AS (
  SELECT event_type, vc AS q1 FROM cum
  WHERE cum - cnt < CEIL(0.25 * n) AND cum >= CEIL(0.25 * n)
), q3 AS (
  SELECT event_type, vc AS q3 FROM cum
  WHERE cum - cnt < CEIL(0.75 * n) AND cum >= CEIL(0.75 * n)
), fences AS (
  SELECT q1.event_type, q1, q3, q3 - q1 AS iqr
  FROM q1 JOIN q3 ON q1.event_type = q3.event_type
)
SELECT cents.event_type, COUNT(*) AS n,
       q1 / 100.0 AS q1, q3 / 100.0 AS q3, iqr / 100.0 AS iqr,
       CAST(SUM(CASE WHEN vc < q1 - 1.5 * iqr OR vc > q3 + 1.5 * iqr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mild,
       CAST(SUM(CASE WHEN vc < q1 - 3.0 * iqr OR vc > q3 + 3.0 * iqr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
FROM cents JOIN fences ON cents.event_type = fences.event_type
GROUP BY 1, q1, q3, iqr ORDER BY cents.event_type
""")
def tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences (Tukey 1977 EDA): per event_type, the
    exact quartiles over integer cents (histogram-rank — lower
    quartile = smallest cent value whose cumulative count reaches
    ceil(n/4), upper at ceil(3n/4)), the 1.5*IQR inner and 3*IQR outer
    fences, and the mild/extreme outlier counts — the first outlier
    read anyone does, exact instead of approx_percentile.

    Scale shape: one (type, cents) histogram (bounded domain),
    cumulative windows over that bounded frame, a broadcast fence join
    back, one rollup."""
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100).alias("vc")
    )
    hist = cents.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("vc")
    wall = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wall)
    )

    def rank_val(frac, name):
        r = F.ceil(F.lit(frac) * F.col("n"))
        return cum.where(_holds_rank(r)).select(
            "event_type", F.col("vc").alias(name)
        )

    q1 = rank_val(0.25, "q1")
    q3 = rank_val(0.75, "q3")
    fences = q1.join(q3, "event_type").select(
        "event_type",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
    )
    j = cents.join(F.broadcast(fences), "event_type")
    lo_in = F.col("q1") - 1.5 * F.col("iqr")
    hi_in = F.col("q3") + 1.5 * F.col("iqr")
    lo_out = F.col("q1") - 3.0 * F.col("iqr")
    hi_out = F.col("q3") + 3.0 * F.col("iqr")
    return (
        j.groupBy("event_type", "q1", "q3", "iqr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("vc") < lo_in) | (F.col("vc") > hi_in), 1
                ).otherwise(0)
            ).alias("n_mild"),
            F.sum(
                F.when(
                    (F.col("vc") < lo_out) | (F.col("vc") > hi_out), 1
                ).otherwise(0)
            ).alias("n_extreme"),
        )
        .select(
            "event_type",
            "n",
            (F.col("q1") / 100.0).alias("q1"),
            (F.col("q3") / 100.0).alias("q3"),
            (F.col("iqr") / 100.0).alias("iqr"),
            "n_mild",
            "n_extreme",
        )
        .orderBy("event_type")
    )


@query("""
WITH per AS (
  SELECT source, COUNT(*) AS n,
         CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
), rates AS (
  SELECT source, n, k, CAST(k AS DOUBLE) / n AS p FROM per
), prior AS (
  SELECT AVG(p) AS mu, var_samp(p) AS v,
         AVG(p) * (1.0 - AVG(p)) / var_samp(p) - 1.0 AS m
  FROM rates
)
SELECT source, n, k, round(p, 6) AS raw_rate,
       round((k + mu * m) / (n + m), 6) AS shrunk_rate,
       round((k + mu * m) / (n + m) - p, 6) AS shift
FROM rates, prior ORDER BY source
""")
def eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source defect rates (Efron &
    Morris 1975; the beta-binomial method-of-moments version of
    Robbins 1956): small sources' raw short-doc rates shrink toward
    the corpus prior by exactly the amount their sample size earns —
    the fix for 'the tiny source tops/bottoms every leaderboard'.
    Prior (alpha, beta) fits by method of moments on the per-source
    rate spread; the posterior mean is (k + alpha)/(n + alpha + beta).

    Scale shape: one source rollup, one 1-row prior broadcast
    (moments of the |sources|-bounded rate frame), map-only posterior.
    Pairs with wilson_ci: same defect definition, the interval vs the
    point estimate."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    rates = per.select("source", "n", "k", p.alias("p"))
    prior = rates.agg(
        F.avg("p").alias("mu"),
        F.var_samp("p").alias("v"),
    ).select(
        "mu",
        "v",
        # method of moments: alpha+beta = mu(1-mu)/v - 1
        (
            F.col("mu") * (1.0 - F.col("mu")) / F.col("v") - 1.0
        ).alias("m"),
    )
    j = rates.crossJoin(F.broadcast(prior))
    alpha = F.col("mu") * F.col("m")
    beta = (1.0 - F.col("mu")) * F.col("m")
    post = (F.col("k").cast("double") + alpha) / (
        F.col("n").cast("double") + alpha + beta
    )
    return j.select(
        "source",
        "n",
        "k",
        F.round("p", 6).alias("raw_rate"),
        F.round(post, 6).alias("shrunk_rate"),
        F.round(post - F.col("p"), 6).alias("shift"),
    ).orderBy("source")


@query("""
WITH per AS (
  SELECT event_type, COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treated,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1
), m AS (
  SELECT event_type, n_total, n_treated,
         CAST(s AS DOUBLE) / n_total AS mu,
         CAST(s2 AS DOUBLE) / n_total
           - (CAST(s AS DOUBLE) / n_total) * (CAST(s AS DOUBLE) / n_total)
           AS var
  FROM per
)
SELECT event_type, n_total,
       round(mu / 100.0, 6) AS mean_value,
       round((1.96 + 0.8416) * sqrt(2.0 * var / n_treated) / 100.0, 6)
         AS mde_absolute,
       round((1.96 + 0.8416) * sqrt(2.0 * var / n_treated) / mu, 6)
         AS mde_relative,
       CAST(CEIL(2.0 * ((1.96 + 0.8416) * sqrt(var) / (0.01 * mu))
                 * ((1.96 + 0.8416) * sqrt(var) / (0.01 * mu)))
            AS BIGINT) AS n_per_arm_for_1pct
FROM m ORDER BY event_type
""")
def power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis per event_type (the standard two-sample
    normal-approximation sizing of Kohavi, Tang & Xu 2020 ch.17;
    z_alpha/2 = 1.96, z_power = 0.8416 for 80%): given each type's
    observed value variance (decimal cents moments) and current arm
    sizes, the minimum detectable effect TODAY, and the per-arm n
    needed to detect a 1% relative lift — the two numbers that decide
    whether an experiment is even worth launching. All closed form:
    MDE = (z_a + z_b) * sqrt(2 sigma^2 / n), n_needed = 2 ((z_a + z_b)
    * sigma / (0.01 mu))^2.

    Scale shape: one (type, arm) rollup then scalar math; |types|
    rows."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
        ).alias("n_treated"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    za_zb = 1.96 + 0.8416
    n = F.col("n_total").cast("double")
    mu = F.col("s").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    narm = F.col("n_treated").cast("double")
    mde = za_zb * F.sqrt(2.0 * var / narm)
    n_needed = 2.0 * (za_zb * F.sqrt(var) / (0.01 * mu)) * (
        za_zb * F.sqrt(var) / (0.01 * mu)
    )
    return per.select(
        "event_type",
        "n_total",
        F.round(mu / 100.0, 6).alias("mean_value"),
        F.round(mde / 100.0, 6).alias("mde_absolute"),
        F.round(mde / mu, 6).alias("mde_relative"),
        F.ceil(n_needed).cast("long").alias("n_per_arm_for_1pct"),
    ).orderBy("event_type")


@query("""
WITH hist AS (
  SELECT n_chars AS v, source, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
), per AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM hist GROUP BY 1
), ranked AS (
  SELECT v,
         2 * COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS mr2,
         CAST(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
              * CAST(t AS DECIMAL(12,0)) - t AS DECIMAL(38,0)) AS tie
  FROM per
), g AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS ng,
         SUM(CAST(CAST(cnt AS DECIMAL(18,0)) * CAST(mr2 AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS rs2
  FROM hist JOIN ranked USING (v) GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         (SELECT SUM(tie) FROM ranked) AS ties
  FROM g
), hsum AS (
  SELECT k, n, ties,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(rs2 AS DOUBLE) / 2.0 / ng - (CAST(n AS DOUBLE) + 1) / 2.0)
             * (CAST(rs2 AS DOUBLE) / 2.0 / ng - (CAST(n AS DOUBLE) + 1) / 2.0))
           AS sh
  FROM g, tot GROUP BY 1, 2, 3
)
SELECT source, ng AS n_docs,
       round(CAST(rs2 AS DOUBLE) / 2.0 / ng, 4) AS mean_rank,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sh, 4) AS h_stat,
       round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * sh
             / (1.0 - CAST(ties AS DOUBLE)
                / (CAST(n AS DOUBLE) * n * n - n)), 4) AS h_tie_corrected,
       k - 1 AS df
FROM g, hsum ORDER BY source
""")
def kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952): do the sources'
    document-length distributions share one location? The k-group
    extension of the rank-sum test — the screen a corpus report runs
    before quoting 'source X writes longer docs'. n_chars is already
    integer, so ranks are EXACT: midranks fold per distinct value
    (the mann_whitney discipline), and the DOUBLED midrank
    2*cumprior + t + 1 is an integer, so every rank-sum runs in
    DECIMAL — exact at any corpus size (plain midrank halves would
    leave exactness at 2^52). Tie correction 1 - sum(t^3-t)/(N^3-N).

    Scale shape: one (value, source) histogram rollup; the rank
    window is ordered by the VALUE DOMAIN (distinct doc lengths — a
    data-model invariant, not corpus-sized), per-source rank sums are
    a bounded rollup, and the H assembly is |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy(
        F.col("n_chars").alias("v"), "source"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per = hist.groupBy("v").agg(F.sum("cnt").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    td = F.col("t").cast("decimal(12,0)")
    ranked = per.select(
        "v",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).alias("mr2"),
        (td * td * td - td).cast("decimal(38,0)").alias("tie"),
    )
    j = hist.join(ranked, "v")
    g = j.groupBy("source").agg(
        F.sum("cnt").alias("ng"),
        F.sum(
            (
                F.col("cnt").cast("decimal(18,0)")
                * F.col("mr2").cast("decimal(18,0)")
            ).cast("decimal(38,0)")
        ).alias("rs2"),
    )
    ties = ranked.agg(F.sum("tie").alias("ties"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"), F.sum("ng").alias("n")
    ).crossJoin(F.broadcast(ties))
    jj = g.crossJoin(F.broadcast(tot))
    nn = F.col("n").cast("double")
    rbar = F.col("rs2").cast("double") / 2.0 / F.col("ng").cast("double")
    hterm = F.col("ng").cast("double") * (rbar - (nn + 1) / 2.0) * (
        rbar - (nn + 1) / 2.0
    )
    out = jj.groupBy("k", "n", "ties").agg(F.sum(hterm).alias("sh"))
    h = 12.0 / (nn * (nn + 1)) * F.col("sh")
    corr = 1.0 - F.col("ties").cast("double") / (nn * nn * nn - nn)
    return (
        jj.select(
            "source",
            F.col("ng").alias("n_docs"),
            F.round(rbar, 4).alias("mean_rank"),
        )
        .join(
            F.broadcast(
                out.select(
                    F.round(h, 4).alias("h_stat"),
                    F.round(h / corr, 4).alias("h_tie_corrected"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("source")
    )


@query("""
WITH hist AS (
  SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY 1
), med AS (
  SELECT v AS med
  FROM (
    SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum,
           SUM(cnt) OVER () AS n
    FROM hist
  )
  WHERE cum - cnt < CAST(CEIL(n / 2.0) AS BIGINT)
    AND cum >= CAST(CEIL(n / 2.0) AS BIGINT)
), per AS (
  SELECT source, COUNT(*) AS ng,
         CAST(SUM(CASE WHEN n_chars > med THEN 1 ELSE 0 END) AS BIGINT)
           AS above
  FROM documents, med GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(above) AS BIGINT)
           AS above_tot, COUNT(*) AS k
  FROM per
), chi AS (
  SELECT k,
         SUM((above - CAST(ng AS DOUBLE) * above_tot / n)
             * (above - CAST(ng AS DOUBLE) * above_tot / n)
             / (CAST(ng AS DOUBLE) * above_tot / n)
             + ((ng - above) - (ng - CAST(ng AS DOUBLE) * above_tot / n))
               * ((ng - above) - (ng - CAST(ng AS DOUBLE) * above_tot / n))
               / (ng - CAST(ng AS DOUBLE) * above_tot / n)) AS chi2
  FROM per, tot GROUP BY 1
)
SELECT source, ng AS n_docs, above AS n_above_median,
       round(CAST(ng AS DOUBLE) * above_tot / n, 2) AS expected_above,
       round(chi2, 4) AS chi2_stat, chi.k - 1 AS df
FROM per, tot, chi ORDER BY source
""")
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test (Mood 1950; the Brown-Mood k-sample form):
    does each source put the same share of documents above the GRAND
    median length? Cruder than Kruskal-Wallis but assumption-light —
    the robustness cross-check quoted next to it. The grand median is
    the EXACT lower median over the integer n_chars histogram
    (robust_source_stats discipline); the k x 2 contingency chi2
    compares observed above-counts to n_g * (above_total / N).

    Scale shape: one value-domain histogram for the median (the
    window is value-domain-bounded), one (source, above?) rollup,
    chi2 assembly on |sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.orderBy("v")
    med = (
        hist.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(
            F.broadcast(hist.agg(F.sum("cnt").alias("n")))
        )
        .where(_holds_rank(F.ceil(F.col("n") / 2)))
        .select(F.col("v").alias("med"))
    )
    per = (
        docs.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum(
                F.when(F.col("n_chars") > F.col("med"), 1).otherwise(0)
            ).alias("above"),
        )
    )
    tot = per.agg(
        F.sum("ng").alias("n"),
        F.sum("above").alias("above_tot"),
        F.count(F.lit(1)).alias("k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ea = (
        F.col("ng").cast("double")
        * F.col("above_tot").cast("double")
        / F.col("n").cast("double")
    )
    eb = F.col("ng").cast("double") - ea
    oa = F.col("above").cast("double")
    ob = F.col("ng").cast("double") - oa
    cell = (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    chi = j.groupBy("k").agg(F.sum(cell).alias("chi2"))
    return (
        j.select(
            "source",
            F.col("ng").alias("n_docs"),
            F.col("above").alias("n_above_median"),
            F.round(ea, 2).alias("expected_above"),
        )
        .join(
            F.broadcast(
                chi.select(
                    F.round("chi2", 4).alias("chi2_stat"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("source")
    )


@query("""
WITH g AS (
  SELECT source, COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s1,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS s2,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s3,
         SUM(CAST(CAST(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  * CAST(CAST(n_chars AS DECIMAL(18,0))
                         * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))
                  AS DECIMAL(38,0))) AS s4
  FROM documents GROUP BY 1
), mom AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / n AS m,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM g
), cen AS (
  SELECT source, n, r2 - m * m AS m2,
         r3 - 3 * m * r2 + 2 * m * m * m AS m3,
         r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
  FROM mom
)
SELECT source, n AS n_docs,
       round(m3 / sqrt(m2 * m2 * m2), 4) AS skewness,
       round(m4 / (m2 * m2), 4) AS kurtosis,
       round(n / 6.0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
             + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0), 4)
         AS jb_stat,
       CASE WHEN n / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                            * (m3 / sqrt(m2 * m2 * m2))
                 + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                 > 5.991
            THEN 'non_normal' ELSE 'normal_ish' END AS verdict
FROM cen ORDER BY source
""")
def jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen (Jarque & Bera 1980) on document
    length per source: JB = n/6 (S^2 + (K-3)^2 / 4) from EXACT integer
    power sums — skewness and excess kurtosis come from raw moments
    s1..s4 accumulated in DECIMAL (n_chars^4 fits DECIMAL(38,0) via
    paired DECIMAL(19,0) squares), expanded to central moments once
    per source in double. The length-distribution shape gate before a
    'mean +- sd' claim.

    Scale shape: one decimal power-sum rollup per source; |sources|
    rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    dc = F.col("n_chars").cast("decimal(18,0)")
    p2 = (dc * dc).cast("decimal(19,0)")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dc).alias("s1"),
        F.sum(p2.cast("decimal(38,0)")).alias("s2"),
        F.sum((p2 * dc).cast("decimal(38,0)")).alias("s3"),
        F.sum((p2 * p2).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - m * m
    m3 = (
        F.col("s3").cast("double") / n
        - 3 * m * F.col("s2").cast("double") / n
        + 2 * m * m * m
    )
    m4 = (
        F.col("s4").cast("double") / n
        - 4 * m * F.col("s3").cast("double") / n
        + 6 * m * m * F.col("s2").cast("double") / n
        - 3 * m * m * m * m
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2)
    jb = n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)
    return g.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(skew, 4).alias("skewness"),
        F.round(kurt, 4).alias("kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        # chi2_{0.95, df=2} = 5.991
        F.when(jb > 5.991, "non_normal").otherwise("normal_ish")
        .alias("verdict"),
    ).orderBy("source")


@query("""
WITH g AS (
  SELECT source, COUNT(*) AS ng,
         SUM(CAST(n_chars AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(n_chars AS DECIMAL(18,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS s2
  FROM documents GROUP BY 1
), per AS (
  SELECT source, ng,
         (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / ng) / (ng - 1) AS vi
  FROM g
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         SUM((ng - 1) * vi) AS ssw,
         SUM(ln(vi) * (ng - 1)) AS sumlog,
         SUM(1.0 / (ng - 1)) AS sinv
  FROM per
)
SELECT k AS n_groups, n AS n_obs,
       round(ssw / (n - k), 4) AS pooled_var,
       round(((CAST(n AS DOUBLE) - k) * ln(ssw / (n - k)) - sumlog)
             / (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1.0))), 4)
         AS bartlett_t,
       k - 1 AS df
FROM tot
""")
def bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test (Bartlett 1937) of
    document length across sources: T = ((N-k) ln Sp^2 -
    sum (n_i-1) ln S_i^2) / C with the Bartlett correction C — the
    classical (normality-assuming) counterpart to the robust
    levene_variance already in the registry; quoting both is the
    textbook practice. Per-group variances come from EXACT decimal
    moments; logs run once per source on the bounded frame.

    Scale shape: one decimal moment rollup per source, a 1-row
    pooled frame, |sources| rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    dc = F.col("n_chars").cast("decimal(18,0)")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(dc).alias("s"),
        F.sum((dc * dc).cast("decimal(38,0)")).alias("s2"),
    )
    ngd = F.col("ng").cast("double")
    # unbiased per-group variance from exact sums
    vi = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / ngd
    ) / (ngd - 1)
    per = g.select("source", "ng", vi.alias("vi"))
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum((F.col("ng") - 1).cast("double") * F.col("vi")).alias("ssw"),
        F.sum(F.log(F.col("vi")) * (F.col("ng") - 1).cast("double"))
        .alias("sumlog"),
        F.sum(1.0 / (F.col("ng") - 1).cast("double")).alias("sinv"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    sp2 = F.col("ssw") / (nd - kd)
    t = (nd - kd) * F.log(sp2) - F.col("sumlog")
    c = 1.0 + (F.col("sinv") - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0))
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round(sp2, 4).alias("pooled_var"),
        F.round(t / c, 4).alias("bartlett_t"),
        (F.col("k") - 1).alias("df"),
    )


@query("""
WITH g AS (
  SELECT event_type, COUNT(*) AS ng,
         SUM(CAST(FLOOR(value * 100) AS DECIMAL(18,0))) AS s,
         SUM(CAST(CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  * CAST(FLOOR(value * 100) AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n, SUM(s) AS st FROM g
), parts AS (
  SELECT k, n,
         SUM(CAST(ng AS DOUBLE)
             * (CAST(s AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)
             * (CAST(s AS DOUBLE) / ng - CAST(st AS DOUBLE) / n)) AS ssb,
         SUM(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / ng) AS ssw
  FROM g, tot GROUP BY 1, 2
)
SELECT k AS n_groups, n AS n_obs,
       round(ssb, 2) AS ss_between, round(ssw, 2) AS ss_within,
       round((ssb / (k - 1)) / (ssw / (CAST(n AS DOUBLE) - k)), 6) AS f_stat,
       round(ssb / (ssb + ssw), 6) AS eta_squared
FROM parts
""")
def anova_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (Fisher 1925) of event value across event types:
    F = (SSB/(k-1)) / (SSW/(N-k)) over integer-floored cents (the
    levene_variance domain) — the parametric location test quoted
    next to kruskal_wallis's rank version, plus eta^2 effect size.
    All sums of squares come from EXACT decimal moments.

    Scale shape: one decimal moment rollup per type, a 1-row grand
    frame, |types| rows of scalar math."""
    ev = _t(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("decimal(18,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(vc).alias("s"),
        F.sum((vc * vc).cast("decimal(38,0)")).alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s").alias("st"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ngd = F.col("ng").cast("double")
    gm = F.col("st").cast("double") / F.col("n").cast("double")
    ssb = F.sum(
        ngd
        * (F.col("s").cast("double") / ngd - gm)
        * (F.col("s").cast("double") / ngd - gm)
    )
    ssw = F.sum(
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / ngd
    )
    out = j.groupBy("k", "n").agg(ssb.alias("ssb"), ssw.alias("ssw"))
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    fstat = (F.col("ssb") / (kd - 1)) / (F.col("ssw") / (nd - kd))
    return out.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_obs"),
        F.round("ssb", 2).alias("ss_between"),
        F.round("ssw", 2).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6
        ).alias("eta_squared"),
    )


@query("""
WITH daily0 AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
), span_ AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events
), cal AS (
  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span_
), types AS (
  SELECT DISTINCT event_type FROM daily0
), full_ AS (
  SELECT types.event_type, cal.day, COALESCE(daily0.c, 0) AS c
  FROM cal CROSS JOIN types
  LEFT JOIN daily0 ON daily0.event_type = types.event_type
                  AND daily0.day = cal.day
), ranked AS (
  SELECT event_type, day,
         2 * RANK() OVER (PARTITION BY day ORDER BY c)
           + COUNT(*) OVER (PARTITION BY day, c) - 1 AS mr2,
         COUNT(*) OVER (PARTITION BY day, c) AS t
  FROM full_
), g AS (
  SELECT event_type, COUNT(*) AS nb,
         SUM(CAST(mr2 AS DECIMAL(18,0))) AS rs2
  FROM ranked GROUP BY 1
), ties AS (
  SELECT SUM(CAST((CAST(t AS DECIMAL(12,0)) * t * t - t) / t
                  AS DECIMAL(38,0))) AS ties
  FROM ranked
), tot AS (
  SELECT COUNT(*) AS k, CAST(MAX(nb) AS BIGINT) AS n FROM g
), chi AS (
  SELECT k, n, ties,
         12.0 / (CAST(n AS DOUBLE) * k * (k + 1))
           * SUM((CAST(rs2 AS DOUBLE) / 2.0) * (CAST(rs2 AS DOUBLE) / 2.0))
           - 3.0 * CAST(n AS DOUBLE) * (k + 1) AS chi2_raw
  FROM g, tot, ties GROUP BY 1, 2, 3
)
SELECT event_type, nb AS n_days,
       round(CAST(rs2 AS DOUBLE) / 2.0 / nb, 4) AS mean_rank,
       round(chi2_raw, 4) AS chi2_stat,
       round(chi2_raw / (1.0 - CAST(ties AS DOUBLE)
             / (CAST(n AS DOUBLE) * k
                * (CAST(k AS DOUBLE) * k - 1))), 4) AS chi2_tie_corrected,
       k - 1 AS df
FROM g, chi ORDER BY event_type
""")
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (Friedman 1937): treating each calendar day
    as a BLOCK and each event type as a treatment, do the types keep
    the same rank order of daily volume day after day? The repeated-
    measures cousin of kruskal_wallis — detects a consistent volume
    ordering even when absolute levels drift. Blocks use the GLOBAL
    calendar (types missing a day count 0), within-day midranks are
    EXACT via the doubled form 2*rank + ties - 1 over the k-row day
    partition, rank sums accumulate in DECIMAL, and the tie-corrected
    chi2 divides by 1 - sum(t^3 - t) / (n k (k^2 - 1)).

    Scale shape: the blocked frame is |days| x |types| — calendar-
    bounded; ranking windows run over k-row day partitions."""
    ev = _t(spark, sf_dir, "events")
    daily0 = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    types = daily0.select("event_type").distinct()
    full = (
        cal.crossJoin(F.broadcast(types))
        .join(daily0, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    wr = Window.partitionBy("day").orderBy("c")
    wt = Window.partitionBy("day", "c")
    ranked = full.select(
        "event_type", "day",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).alias("mr2"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.col("mr2").cast("decimal(18,0)")).alias("rs2"),
    )
    # per-(day, c) tie group contributes t^3 - t ONCE: divide the
    # per-row sum by its own group size t
    td = F.col("t").cast("decimal(12,0)")
    ties = ranked.select(
        ((td * td * td - td) / td).cast("decimal(38,0)").alias("tt")
    ).agg(F.sum("tt").alias("ties"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"), F.max("nb").alias("n")
    ).crossJoin(F.broadcast(ties))
    j = g.crossJoin(F.broadcast(tot))
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    rj = F.col("rs2").cast("double") / 2.0
    chi = j.groupBy("k", "n", "ties").agg(
        (
            12.0 / (nd * kd * (kd + 1)) * F.sum(rj * rj)
            - 3.0 * nd * (kd + 1)
        ).alias("chi2_raw")
    )
    corr = 1.0 - F.col("ties").cast("double") / (
        F.col("n").cast("double")
        * F.col("k").cast("double")
        * (
            F.col("k").cast("double") * F.col("k").cast("double") - 1
        )
    )
    return (
        j.select(
            "event_type",
            F.col("nb").alias("n_days"),
            F.round(rj / F.col("nb").cast("double"), 4).alias("mean_rank"),
        )
        .join(
            F.broadcast(
                chi.select(
                    F.round("chi2_raw", 4).alias("chi2_stat"),
                    F.round(F.col("chi2_raw") / corr, 4)
                    .alias("chi2_tie_corrected"),
                    (F.col("k") - 1).alias("df"),
                )
            )
        )
        .orderBy("event_type")
    )


@query("""
WITH cells AS (
  SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2
), rt AS (
  SELECT source, CAST(SUM(o) AS BIGINT) AS ri FROM cells GROUP BY 1
), ct AS (
  SELECT lang, CAST(SUM(o) AS BIGINT) AS cj FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         COUNT(DISTINCT source) AS r, COUNT(DISTINCT lang) AS c
  FROM cells
), dev AS (
  SELECT n, r, c,
         SUM((o - CAST(ri AS DOUBLE) * cj / n)
             * (o - CAST(ri AS DOUBLE) * cj / n)
             / (CAST(ri AS DOUBLE) * cj / n)) AS chi2
  FROM cells JOIN rt USING (source) JOIN ct USING (lang), tot
  GROUP BY 1, 2, 3
)
SELECT n AS n_docs, r AS n_sources, c AS n_langs,
       round(chi2, 4) AS chi2_stat,
       round(sqrt(chi2 / (CAST(n AS DOUBLE) * (LEAST(r, c) - 1))), 6)
         AS cramers_v
FROM dev
""")
def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association (Cramér 1946) between document source
    and language: the normalized chi-square V = sqrt(chi2 / (N *
    (min(r,c) - 1))) — 'how strongly does source determine language'
    on a 0..1 scale, the effect size a mixture report quotes next to
    the raw contingency table. Expected counts R_i C_j / N assemble
    from exact integer marginals; chi2 sums over the bounded
    |sources| x |langs| cell frame.

    Scale shape: one (source, lang) rollup; marginal rollups;
    |cells| rows of scalar math."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = cells.groupBy("source").agg(F.sum("o").alias("ri"))
    ct = cells.groupBy("lang").agg(F.sum("o").alias("cj"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("source").alias("r"),
        F.countDistinct("lang").alias("c"),
    )
    j = (
        cells.join(rt, "source")
        .join(ct, "lang")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("ri").cast("double")
        * F.col("cj").cast("double")
        / F.col("n").cast("double")
    )
    dev = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    out = j.groupBy("n", "r", "c").agg(F.sum(dev).alias("chi2"))
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n").cast("double")
            * (F.least(F.col("r"), F.col("c")) - 1).cast("double")
        )
    )
    return out.select(
        F.col("n").alias("n_docs"),
        F.col("r").alias("n_sources"),
        F.col("c").alias("n_langs"),
        F.round("chi2", 4).alias("chi2_stat"),
        F.round(v, 6).alias("cramers_v"),
    )


@query(r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS pos
  FROM documents
), s AS (
  SELECT LEAST(9, CAST(floor(tok / (tok + 50.0) * 10) AS INT)) AS bin,
         tok / (tok + 50.0) AS conf,
         CASE WHEN pos THEN 1 ELSE 0 END AS p
  FROM t
), per AS (
  SELECT bin, COUNT(*) AS n, AVG(conf) AS pk, AVG(p) AS ok,
         CAST(SUM(p) AS BIGINT) AS np
  FROM s GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(np) AS BIGINT) AS npos
  FROM per
), agg AS (
  SELECT nn, npos,
         SUM(n * (pk - ok) * (pk - ok)) AS rel_s,
         SUM(n * (ok - CAST(npos AS DOUBLE) / nn)
             * (ok - CAST(npos AS DOUBLE) / nn)) AS res_s
  FROM per, tot GROUP BY 1, 2
)
SELECT nn AS n_docs,
       round(rel_s / nn, 6) AS reliability,
       round(res_s / nn, 6) AS resolution,
       round((CAST(npos AS DOUBLE) / nn) * (1 - CAST(npos AS DOUBLE) / nn), 6)
         AS uncertainty,
       round(rel_s / nn - res_s / nn
             + (CAST(npos AS DOUBLE) / nn)
               * (1 - CAST(npos AS DOUBLE) / nn), 6) AS brier_binned
FROM agg
""")
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Brier 1950; Murphy
    1973): reliability - resolution + uncertainty over 10 confidence
    bins, using the ece_calibration scorer (rational sigmoid
    tok/(tok+50) vs the curated-source label) — the diagnosis behind
    a bad ECE: is the model MISCALIBRATED (high reliability term) or
    merely UNINFORMATIVE (low resolution)? Per-bin averages follow
    the ece precedent; the identity REL - RES + UNC equals the binned
    Brier score by construction.

    Scale shape: one map-only score pass, one 10-bin rollup, scalar
    assembly on the bounded bin frame."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    per = (
        docs.select(
            F.least(F.lit(9), F.floor(conf * 10).cast("int")).alias("bin"),
            conf.alias("conf"),
            pos.cast("int").alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("conf").alias("pk"),
            F.avg("p").alias("ok"),
            F.sum("p").alias("np"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("nn"), F.sum("np").alias("npos")
    )
    j = per.crossJoin(F.broadcast(tot))
    obar = F.col("npos").cast("double") / F.col("nn").cast("double")
    nk = F.col("n").cast("double")
    out = j.groupBy("nn", "npos").agg(
        F.sum(
            nk * (F.col("pk") - F.col("ok")) * (F.col("pk") - F.col("ok"))
        ).alias("rel_s"),
        F.sum(nk * (F.col("ok") - obar) * (F.col("ok") - obar)).alias(
            "res_s"
        ),
    )
    nn = F.col("nn").cast("double")
    ob = F.col("npos").cast("double") / nn
    rel = F.col("rel_s") / nn
    res = F.col("res_s") / nn
    unc = ob * (1 - ob)
    return out.select(
        F.col("nn").alias("n_docs"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier_binned"),
    )


@query(r"""
WITH scored AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS v,
         CASE WHEN source IN ('src0','src1','src2','src3')
              THEN 1 ELSE 0 END AS p
  FROM documents
), hist AS (
  SELECT v, COUNT(*) AS cnt, CAST(SUM(p) AS BIGINT) AS np
  FROM scored GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(np) AS BIGINT) AS npos
  FROM hist
), dec AS (
  SELECT v, cnt, np,
         LEAST(9, CAST(FLOOR((cum - cnt) * 10.0 / n) AS INT)) AS decile,
         n, npos
  FROM (SELECT v, cnt, np, SUM(cnt) OVER (ORDER BY v DESC) AS cum
        FROM hist), tot
), per AS (
  SELECT decile, n, npos,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(np) AS BIGINT) AS n_pos
  FROM dec GROUP BY 1, 2, 3
)
SELECT decile, n_docs, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_docs, 4) AS pos_rate,
       round(CAST(SUM(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / npos, 4) AS cum_gain,
       round((CAST(n_pos AS DOUBLE) / n_docs)
             / (CAST(npos AS DOUBLE) / n), 4) AS lift
FROM per ORDER BY decile
""")
def gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains / lift table (the direct-marketing standard —
    see Berry & Linoff's classic treatment): rank documents by the
    deterministic quality score (whitespace token count, the ece
    scorer's core), split into VALUE-GROUP deciles (every doc with
    the same score lands in one decile, decided by the group's
    starting rank — the rfm_segments discipline, never NTILE), and
    report per decile the positive-label capture, cumulative gain,
    and lift — 'how deep must the screen go to catch 80% of the good
    docs'. All counts exact; the decile windows run over the 10-row
    frame.

    Scale shape: one (score value) histogram rollup (bounded value
    domain), cumulative windows over it, one bounded join back."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("long")
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    scored = docs.select(tok.alias("v"), pos.cast("int").alias("p"))
    hist = scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("p").alias("np")
    )
    # high score first: decile by the value group's starting rank
    wv = Window.orderBy(F.desc("v"))
    tot = hist.agg(F.sum("cnt").alias("n"), F.sum("np").alias("npos"))
    dec = (
        hist.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(F.broadcast(tot))
        .select(
            "v", "cnt", "np",
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("cum") - F.col("cnt")) * 10 / F.col("n")
                ).cast("int"),
            ).alias("decile"),
            "n", "npos",
        )
    )
    per = dec.groupBy("decile", "n", "npos").agg(
        F.sum("cnt").alias("n_docs"), F.sum("np").alias("n_pos")
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    overall = F.col("npos").cast("double") / F.col("n").cast("double")
    return per.select(
        "decile",
        "n_docs",
        "n_pos",
        F.round(rate, 4).alias("pos_rate"),
        F.round(
            F.sum("n_pos").over(wd).cast("double")
            / F.col("npos").cast("double"),
            4,
        ).alias("cum_gain"),
        F.round(rate / overall, 4).alias("lift"),
    ).orderBy("decile")


@query(r"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                        AS DOUBLE) END AS tok,
         source IN ('src0','src1','src2','src3') AS actual
  FROM documents
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN tok / (tok + 50.0) > 0.5 AND actual
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) > 0.5 AND NOT actual
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) <= 0.5 AND actual
             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN tok / (tok + 50.0) <= 0.5 AND NOT actual
             THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM t
)
SELECT tp, fp, fn, tn,
       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       round(CAST(CAST(CAST(tp AS DECIMAL(19,0)) * CAST(tn AS DECIMAL(19,0))
                       AS DECIMAL(38,0))
                  - CAST(CAST(fp AS DECIMAL(19,0)) * CAST(fn AS DECIMAL(19,0))
                         AS DECIMAL(38,0)) AS DOUBLE)
             / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
                * sqrt(CAST(tn + fp AS DOUBLE))
                * sqrt(CAST(tn + fn AS DOUBLE))), 6) AS mcc
FROM cells
""")
def mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975; the
    class-imbalance-robust single number Chicco & Jurman 2020 argue
    should headline) for the length-score classifier at the 0.5
    confidence threshold vs the curated-source label: MCC = (TP*TN -
    FP*FN) / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — complements
    classifier_prf's precision/recall with the symmetric view. The
    numerator runs in DECIMAL (counts are ~1e10 at 100 TB, their
    products need 38 digits); the denominator multiplies four sqrt()
    factors so nothing overflows double.

    Scale shape: one map-only score pass, ONE 4-cell rollup, scalar
    math."""
    docs = _t(spark, sf_dir, "documents")
    tok = text.token_count_ws(F.col("text")).cast("double")
    conf = tok / (tok + F.lit(50.0))
    pos = F.col("source").isin("src0", "src1", "src2", "src3")
    cells = docs.select(
        (conf > 0.5).alias("pred"), pos.alias("actual")
    ).agg(
        F.sum(F.when(F.col("pred") & F.col("actual"), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("actual"), 1).otherwise(0))
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .alias("tn"),
    )
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    num = (
        (d("tp") * d("tn")).cast("decimal(38,0)")
        - (d("fp") * d("fn")).cast("decimal(38,0)")
    ).cast("double")
    den = (
        F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return cells.select(
        "tp", "fp", "fn", "tn",
        F.round(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ).alias("recall"),
        F.round(num / den, 6).alias("mcc"),
    )


@query("""
WITH samp AS (
  SELECT n_chars, n_chars < 5000 AS small
  FROM documents
  WHERE ((doc_id * 2654435761) % 4294967296) * 5000
        < 4294967296 * LEAST(5000, n_chars)
), est AS (
  SELECT COUNT(*) AS n_sampled,
         SUM(CAST(CASE WHEN small THEN 5000 ELSE n_chars END
                  AS DECIMAL(18,0))) AS est
  FROM samp
), truth AS (
  SELECT SUM(CAST(n_chars AS DECIMAL(18,0))) AS truth, COUNT(*) AS n_docs
  FROM documents
)
SELECT n_docs, n_sampled,
       CAST(est AS BIGINT) AS ht_estimate,
       CAST(truth AS BIGINT) AS true_total,
       round((CAST(est AS DOUBLE) - CAST(truth AS DOUBLE))
             / CAST(truth AS DOUBLE), 6) AS rel_error
FROM est, truth
""")
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimator (Horvitz & Thompson 1952) of the
    corpus character total from a size-proportional deterministic
    sample: inclusion probability pi_i = min(1, n_chars / 5000),
    membership decided by an integer Knuth-hash coin (doc_id *
    2654435761 mod 2^32, compared CROSS-MULTIPLIED so no float enters
    selection), estimate = sum over sampled docs of n_chars / pi_i.
    Because n_chars / min(1, n_chars/5000) is 5000 for small docs and
    n_chars for large ones, the estimate is an EXACT integer sum —
    the design-unbiasedness demo a sampling pipeline ships with its
    weighted exports (the weighted_sample_aes companion).

    Scale shape: one map-only membership pass, one decimal rollup,
    one 1-row truth join."""
    docs = _t(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296))
    # include iff h / 2^32 < n_chars / 5000  (cross-multiplied)
    small = F.col("n_chars") < 5000
    inc = (h * 5000) < (
        F.lit(4294967296) * F.least(F.lit(5000), F.col("n_chars"))
    )
    samp = docs.select(
        "n_chars", small.alias("small"), inc.alias("inc")
    ).where(F.col("inc"))
    est = samp.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(
            F.when(F.col("small"), F.lit(5000)).otherwise(F.col("n_chars"))
            .cast("decimal(18,0)")
        ).alias("est"),
    )
    truth = docs.agg(
        F.sum(F.col("n_chars").cast("decimal(18,0)")).alias("truth"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    j = est.crossJoin(F.broadcast(truth))
    rel = (
        F.col("est").cast("double") - F.col("truth").cast("double")
    ) / F.col("truth").cast("double")
    return j.select(
        "n_docs",
        "n_sampled",
        F.col("est").cast("long").alias("ht_estimate"),
        F.col("truth").cast("long").alias("true_total"),
        F.round(rel, 6).alias("rel_error"),
    )


@query("""
WITH bounds AS (
  SELECT epoch(MIN(ts)) AS t0, epoch(MAX(ts)) AS t1 FROM events
), per AS (
  SELECT user_id,
         MAX(CASE WHEN epoch(ts) * 2 <= t0 + t1 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN epoch(ts) * 2 > t0 + t1 THEN 1 ELSE 0 END) AS in_b
  FROM events, bounds GROUP BY 1
), g AS (
  SELECT COUNT(*) AS n_true,
         CAST(SUM(in_a) AS BIGINT) AS na,
         CAST(SUM(in_b) AS BIGINT) AS nb,
         CAST(SUM(in_a * in_b) AS BIGINT) AS m
  FROM per
)
SELECT na AS captured, nb AS recaptured, m AS overlap,
       round((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1, 2)
         AS chapman_estimate,
       n_true AS true_users,
       round(((na + 1.0) * (nb + 1.0) / (m + 1.0) - 1 - n_true)
             / n_true, 6) AS rel_error
FROM g
""")
def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate (Chapman 1951, the
    bias-corrected Lincoln-Petersen) of the active-user population:
    'capture' = users seen in the first half of the time span,
    'recapture' = users seen in the second; N-hat = (nA+1)(nB+1) /
    (m+1) - 1 where m is the overlap — the estimator an analytics
    team uses when either half alone undercounts. Compared against
    the true distinct-user count (computable here; not at a real
    registry gap). Exact integer counts; one division.

    Scale shape: per-user half-membership is one rollup (users are
    many and small); everything after is 1-row math."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").cast("long").alias("t0"),
        F.max("ts").cast("long").alias("t1"),
    )
    per = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("ts").cast("long") * 2 <= F.col("t0") + F.col("t1"))
            .alias("h1"),
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("h1"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(~F.col("h1"), 1).otherwise(0)).alias("in_b"),
        )
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum("in_a").alias("na"),
        F.sum("in_b").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
    )
    nhat = (
        (F.col("na") + 1).cast("double")
        * (F.col("nb") + 1).cast("double")
        / (F.col("m") + 1).cast("double")
        - 1
    )
    return g.select(
        F.col("na").alias("captured"),
        F.col("nb").alias("recaptured"),
        F.col("m").alias("overlap"),
        F.round(nhat, 2).alias("chapman_estimate"),
        F.col("n_true").alias("true_users"),
        F.round(
            (nhat - F.col("n_true").cast("double"))
            / F.col("n_true").cast("double"),
            6,
        ).alias("rel_error"),
    )
