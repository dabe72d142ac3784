"""The plan linter flags known anti-patterns and passes known-good plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.plan_lint import lint


def test_lint_flags_nested_loop_and_py_udf(spark):
    a = spark.range(100).select(F.col("id").alias("x"))
    b = spark.range(100).select(F.col("id").alias("lo"), (F.col("id") + 10).alias("hi"))
    rng = a.join(b, (F.col("lo") <= F.col("x")) & (F.col("x") < F.col("hi")))
    codes = {c for c, _ in lint(rng)}
    assert "NESTED_LOOP" in codes

    from pyspark.sql.functions import udf

    slow = udf(lambda v: v + 1, "bigint")
    codes2 = {c for c, _ in lint(a.select(slow(F.col("x"))))}
    assert "PY_ROW_UDF" in codes2


def test_lint_flags_payload_shuffle_and_passes_good_plans(spark, sf001_dir):
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    bad = docs.repartition(4, "text")  # shuffling document text by itself
    assert "WIDE_SHUFFLE" in {c for c, _ in lint(bad)}

    from wp_motor_spark.queries import QUERIES

    for name in ("q6_forecast_revenue", "dedup_exact", "corpus_profile"):
        assert lint(QUERIES[name][0](spark, sf001_dir)) == [], name


def test_no_pushdown_skips_a_derived_column_named_like_a_scan_column(spark, sf001_dir):
    """NO_PUSHDOWN matches the Filter's name#exprId, not its bare name: a
    filter on a projected column that reuses the scanned column's name
    (held above the projection by a nondeterministic alias) is not a
    predicate the reader could take."""
    from wp_motor_spark.wpl.compiler import _no_pushdown

    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    derived = docs.select(_no_pushdown(F.upper("text")).alias("text"))
    assert "NO_PUSHDOWN" not in {c for c, _ in lint(derived.where(F.col("text") == "A"))}


def test_no_pushdown_reads_every_filter_operator_line(spark, sf001_dir):
    """A Filter whose condition prints as ``Filter CASE WHEN ...`` (no
    parenthesis after the operator name) on scan columns is flagged."""
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    case = (
        F.when(F.col("text") == "a", F.col("doc_id") > 3)
        .when(F.col("doc_id") < 2, F.lit(False))
        .otherwise(F.col("doc_id") > 5)
    )
    q = docs.where(case)
    assert " Filter CASE WHEN" in q._jdf.queryExecution().executedPlan().toString()
    assert "NO_PUSHDOWN" in {c for c, _ in lint(q)}


def test_lint_flags_growing_key_broadcasts(spark, sf001_dir):
    """The r16 BCAST_GROWING extension: a broadcast hint on an
    un-LIMITed aggregate or projection keyed by a growing scan column
    fires WITHOUT an explode in the subtree (the r15 verdict's
    market_basket / discount_elasticity blind spot); bounded shapes
    (categorical groupings, key lookups, one-row aggs, LIMIT caps,
    fixed catalogs) stay quiet."""
    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf001_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    # pre-fix discount_elasticity shape: projection of a scaling dim
    codes = {c for c, _ in lint(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand").count()
    )}
    assert "BCAST_GROWING" in codes
    # pre-fix market_basket shape: per-part aggregate (aliased key)
    ob = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    ia = ob.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    assert "BCAST_GROWING" in {c for c, _ in lint(ob.join(F.broadcast(ia), "pk"))}
    # bounded: categorical grouping over the same scaling scan
    good = li.join(
        F.broadcast(li.groupBy("l_returnflag").count()), "l_returnflag"
    )
    assert "BCAST_GROWING" not in {c for c, _ in lint(good)}
    # bounded: key-to-literal lookup filter
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    q = docs.where(F.col("doc_id") < 100).select("doc_id")
    assert "BCAST_GROWING" not in {c for c, _ in lint(docs.crossJoin(F.broadcast(q)))}
    # bounded: one-row global aggregate
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    assert "BCAST_GROWING" not in {c for c, _ in lint(docs.crossJoin(F.broadcast(tot)))}
    # bounded: fixed catalog (nation)
    nat = spark.read.parquet(f"{sf001_dir}/nation.parquet")
    assert "BCAST_GROWING" not in {
        c for c, _ in lint(li.join(F.broadcast(nat), li.l_suppkey == nat.n_nationkey))
    }


def test_entire_query_suite_stays_lint_clean(spark, sf001_dir):
    """Regression guard: every driver query's physical plan stays free of
    scale anti-patterns, except the two documented tiny-broadcast
    nested loops (KnowDB-style enrichment and the broadcast query set)."""
    from wp_motor_spark.queries import QUERIES

    ALLOWED = {
        "cosine_topk": {"NESTED_LOOP"},       # broadcast tiny query set
        "jl_projection_ann": {"NESTED_LOOP"},  # broadcast tiny query set
        #   (brute_force_topk's query_id != neighbor_id over the
        #   broadcast projected queries — same shape as cosine_topk)
        "enrich_ip_range": {"NESTED_LOOP"},   # broadcast KnowDB dim
        "customer_deciles": {"NESTED_LOOP"},  # broadcast ONE-row bounds agg
        "bigram_pmi": {"NESTED_LOOP"},        # broadcast ONE-row totals agg
        "domain_temperature_mix": {"NESTED_LOOP"},  # broadcast ONE-row z/total agg
        "domain_kl": {"NESTED_LOOP"},         # broadcast ONE-row totals agg
        "bm25_search": {"NESTED_LOOP", "BCAST_GROWING"},
        #   NESTED_LOOP: broadcast ONE-row stats agg. BCAST_GROWING is a
        #   lint false positive here: dfreq groups by `term`, but the
        #   token stream was pre-filtered to the LITERAL 3-term query
        #   set map-side, so the df table is |query terms| rows — the
        #   lint can't see through the literal isin() filter.
        "hybrid_search": {"NESTED_LOOP"},
        #   broadcast stats + query set (the r16 lint's key-lookup
        #   exemption now sees the query-doc filter, so the old
        #   BCAST_GROWING false positive no longer fires)
        "q22_dormant_customers": {"NESTED_LOOP"},  # broadcast ONE-row AVG
        "dsir_weights": {"NESTED_LOOP"},      # broadcast ONE-row totals agg
        "stupid_backoff_ppl": {"NESTED_LOOP"},  # broadcast ONE-row N total
        "heaps_law": {"NESTED_LOOP"},         # broadcast ONE-row max(doc_id)
        "hard_negative_mining": {"NESTED_LOOP"},  # broadcast tiny query set
        "mrl_truncation_eval": {"NESTED_LOOP"},   # broadcast tiny query set
        "contrastive_triplets": {"NESTED_LOOP"},  # broadcast tiny anchor set
        "doremi_weights": {"NESTED_LOOP"},  # broadcast ONE-row corpus
        #   total + ONE-row normalizer (exp-gradient step constants)
        "naive_bayes_quality": {"NESTED_LOOP"},  # broadcast ONE-row class
        #   totals + ONE-row log-prior constant
        "unimax_weights": {"NESTED_LOOP"},  # broadcast ONE-row
        #   (cap_sum, k_free) water-filling aggregate over the tiny
        #   |languages| frame
        "kneser_ney_ppl": {"NESTED_LOOP"},  # broadcast ONE-row T
        #   (distinct bigram types) total, same shape as stupid_backoff
        "softdedup_weights": {"NESTED_LOOP"},  # broadcast ONE-row m_min
        #   normalizer (the least-common doc's commonness)
        "host_pagerank": {"NESTED_LOOP"},  # broadcast ONE-row |nodes| and
        #   ONE-row dangling-mass aggregates, once per power iteration
        "minhash_band_tuning": {"NESTED_LOOP"},  # broadcast cross-pair of
        #   the LITERAL 100-doc similarity sample (4950 pairs, bounded by
        #   the sample cap — the cosine_topk query-set discipline)
        "wimbd_report": {"NESTED_LOOP"},  # broadcast ONE-row corpus-size
        #   aggregates (percentile n, source-share total)
        "chi2_feature_select": {"NESTED_LOOP"},  # broadcast ONE-row class
        #   totals (n_pos, n_neg)
        "psi_drift": {"NESTED_LOOP"},  # broadcast ONE-row global
        #   min/max/midpoint bounds
        "classifier_prf": {"NESTED_LOOP"},  # rides naive_bayes_quality's
        #   ONE-row class totals + prior broadcasts
        "rank_eval_ndcg": {"NESTED_LOOP"},
        #   broadcast ONE-row BM25 stats + tiny query set (old
        #   BCAST_GROWING false positive gone, as in hybrid_search)
        "bootstrap_ci": {"NESTED_LOOP"},  # broadcast ONE-row point
        #   estimate next to the 200-element replicate array
        "mmr_rerank": {"NESTED_LOOP"},  # broadcast tiny query set
        #   (brute_force_topk candidate generation)
        "ks_drift": {"NESTED_LOOP"},  # broadcast ONE-row global
        #   min/max/midpoint bounds (the psi_drift shape)
        "q11_important_stock": {"NESTED_LOOP"},  # broadcast ONE-row
        #   (total, n_parts) scalar-subquery aggregate (the spec's
        #   HAVING threshold)
        "log_odds_keywords": {"NESTED_LOOP"},  # broadcast ONE-row group
        #   totals (n_c, n_r, n_all)
        "centroid_distances": {"NESTED_LOOP"},  # |labels|^2/2 pair join
        #   over the bounded |labels|-row centroid frame (label_a <
        #   label_b — bounded by the label vocabulary, not the corpus)
        "threshold_sweep": {"NESTED_LOOP"},  # rides naive_bayes_quality's
        #   ONE-row class totals + prior broadcasts (the classifier_prf
        #   shape)
        "kaplan_meier_retention": {"NESTED_LOOP"},  # broadcast ONE-row
        #   max-ts horizon next to the per-user span frame
        "cuped_adjustment": {"NESTED_LOOP"},  # broadcast ONE-row time
        #   bounds + ONE-row (theta, mean-x) constants
        "mann_whitney_u": {"NESTED_LOOP"},  # broadcast ONE-row global
        #   (vmin, vmax) binning bounds (the ks_drift shape)
        "levene_variance": {"NESTED_LOOP"},  # broadcast ONE-row grand
        #   totals (k, n, s) next to the |groups| frame
        "benford_screen": {"NESTED_LOOP"},  # broadcast ONE-row total
        #   count next to the 9-digit frame
        "market_basket": {"NESTED_LOOP"},  # broadcast ONE-row order
        #   count (the scale-invariant support floor)
        "rfm_segments": {"NESTED_LOOP"},  # broadcast ONE-row corpus
        #   max-date horizon (the kaplan_meier shape)
        "benjamini_hochberg": {"NESTED_LOOP"},  # broadcast ONE-row
        #   global (n, s, s2) moments next to the |sources| frame
        "wasserstein_drift": {"NESTED_LOOP"},  # broadcast ONE-row
        #   global (vmin, vmax, t0, t1) bounds (the ks_drift shape)
        "cmh_test": {"NESTED_LOOP"},  # broadcast ONE-row pooled
        #   (sum_ame, sum_v, sum_r, sum_s) terms next to |types| rows
        "theil_index": {"NESTED_LOOP"},  # broadcast ONE-row corpus
        #   total (x, m) next to the |sources| frame
        "cem_att": {"NESTED_LOOP"},  # broadcast ONE-row treated-total
        #   pooling constants next to the |strata| frame
        "did_estimator": {"NESTED_LOOP"},  # broadcast ONE-row time
        #   bounds + ONE-row pooled (did, se); the 4-cell crossJoins
        #   multiply four 1-row frames
        "sprt_readout": {"NESTED_LOOP"},  # broadcast ONE-row global
        #   cents median (the cmh_test shape)
        "jackknife_influence": {"NESTED_LOOP"},  # broadcast ONE-row
        #   corpus totals next to the |sources| frame
        "neyman_allocation": {"NESTED_LOOP"},  # broadcast ONE-row
        #   total weight next to the |sources| frame
        "logrank_test": {"NESTED_LOOP"},  # broadcast ONE-row horizon +
        #   ONE-row arm totals next to the 1-row O-E rollup
        "srm_check": {"NESTED_LOOP"},  # broadcast ONE-row user total
        #   next to the 100-bucket frame
        "gini_impurity_split": {"NESTED_LOOP"},  # broadcast ONE-row
        #   global (vmin, vmax) binning bounds (the ks_drift shape)
        "eb_shrinkage": {"NESTED_LOOP"},  # broadcast ONE-row beta prior
        #   (mu, v, m) next to the |sources| frame
        "silhouette_labels": {"NESTED_LOOP"},  # broadcast |labels|-row
        #   centroid frame (bounded by the label vocabulary, 10 here)
        "dunning_keyness": {"NESTED_LOOP"},  # broadcast ONE-row corpus
        #   token totals (na, nb)
        "prefix_containment_dedup": {"NESTED_LOOP", "BCAST_GROWING"},
        #   NESTED_LOOP + BCAST_GROWING: the broadcast side is the
        #   short-doc sliver (text < 4 chars — degenerate at any real
        #   corpus, see the op's docstring) and the hint pins the
        #   correct side of a non-equi containment join; the lint's
        #   lineage detector cannot see the length() filter's
        #   selectivity, so this is a documented bounded case, not a
        #   growing broadcast
        "abc_analysis": {"NESTED_LOOP"},  # broadcast ONE-row total
        #   part count next to the 3-class rollup
        # --- r16 additions: every one a 1-row or catalog-bounded
        #     broadcast crossJoin (the levene/ks_drift shapes) ---
        "kruskal_wallis": {"NESTED_LOOP"},  # ONE-row (k, n, ties) totals
        "mood_median_test": {"NESTED_LOOP"},  # ONE-row grand median +
        #   ONE-row (n, above_tot, k) totals
        "anova_f_test": {"NESTED_LOOP"},  # ONE-row grand totals
        "friedman_test": {"NESTED_LOOP"},  # |types|-row treatment frame
        #   + ONE-row chi2/ties constants
        "cramers_v": {"NESTED_LOOP"},  # ONE-row (n, r, c) totals
        "unit_value_index": {"NESTED_LOOP"},  # ONE-row time bounds
        "collocation_tscore": {"NESTED_LOOP"},  # ONE-row bigram total
        "word_burstiness": {"NESTED_LOOP"},  # ONE-row document count
        #   (the vocab side is a LIMIT-30 equi-join, not flagged)
        "self_bleu_sample": {"NESTED_LOOP"},  # ONE-row sample size
        "t_closeness_audit": {"NESTED_LOOP"},  # literal 10-bin frame +
        #   bounded global-bin rollup
        "brier_decomposition": {"NESTED_LOOP"},  # ONE-row (n, npos)
        "gains_table": {"NESTED_LOOP"},  # ONE-row (n, npos) totals
        "horvitz_thompson_total": {"NESTED_LOOP"},  # ONE-row truth total
        "capture_recapture": {"NESTED_LOOP"},  # ONE-row time bounds
    }
    bad = {}
    for name, (fn, _sql) in QUERIES.items():
        warns = lint(fn(spark, sf001_dir))
        codes = {c for c, _ in warns}
        if codes - ALLOWED.get(name, set()):
            bad[name] = warns
    assert not bad, bad
