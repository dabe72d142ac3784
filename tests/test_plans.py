"""Physical-plan assertions: the scale-critical properties must survive
refactors — pushdown/pruning at the scan, broadcast (not shuffle) joins
for dims, map-only parse/transform paths — and the persist scope that
releases the InMemoryRelations query builders cache.
"""

import contextvars
import re
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import example_simple
from wp_motor_spark.queries import QUERIES
from wp_motor_spark.session import persist_scope, scoped_persist


def _plan(spark, sf001_dir, name):
    return (
        QUERIES[name][0](spark, sf001_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q1_scan_prunes_columns(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # 7 needed columns; the 16-column lineitem table must not be read whole
    assert "l_comment" not in scan and "l_orderkey" not in scan
    assert "l_quantity" in scan and "l_shipdate" in scan


def test_q3_filter_pushdown(spark, sf001_dir):
    # the BUILDING filter must be pushed into the customer scan; join
    # strategy is left to AQE (customer grows with SF — no static hint)
    plan = _plan(spark, sf001_dir, "q3_top_orders")
    cust_scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "c_mktsegment" in l
    )
    assert "BUILDING" in cust_scan


def test_enrichment_is_broadcast(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "enrich_customer_region")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ip_range_broadcasts_small_dim(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "enrich_ip_range")
    assert "BroadcastNestedLoopJoin" in plan  # dim side only is broadcast


def test_wpl_parse_is_map_only(spark, sf001_dir):
    """WPL parse + OML transform: no shuffle anywhere (SURVEY.md §3.1 —
    the whole reference pipeline is map-only)."""
    plan = _plan(spark, sf001_dir, "wpl_oml_pipeline")
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_pipeline_transform_map_only(spark):
    from wp_motor_spark.pipeline import Pipeline

    wpl = example_simple("parse.wpl")
    oml = example_simple("model.oml")
    pipe = Pipeline(wpl=wpl, omls=[oml])
    raw = spark.createDataFrame([("x",)], ["value"])
    out = pipe.transform(raw)["/example/simple/nginx"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # one tokenize per row: the branch types its fields from the rule
    # cascade's own parts instead of running the rule's regex again
    (cr,) = pipe.parser.rules
    assert len(re.findall(r"regexp_replace\([^,]*, " + re.escape(cr.pattern), plan)) == 1


def test_minhash_and_simhash_are_jvm_only(spark, sf001_dir):
    """The dedup hot paths must stay inside whole-stage codegen: no
    Arrow/Python eval stages (signature + bit-vote are JVM expressions)."""
    for name in ("minhash_lsh_dups", "simhash_dups"):
        plan = _plan(spark, sf001_dir, name)
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_dedup_exact_shuffles_digests_not_documents(spark, sf001_dir):
    """The exchange before the digest groupBy must carry (digest, id) only
    — never the document text column."""
    plan = _plan(spark, sf001_dir, "dedup_exact")
    for line in plan.splitlines():
        if "Exchange hashpartitioning(__digest" in line:
            assert "text" not in line
            break
    else:
        pytest.fail("no digest exchange found")


def test_lsh_ann_is_bucketed_broadcast_join(spark, sf001_dir):
    """Banded LSH must candidate-join on (band, key) equality with the
    query side broadcast — never a nested-loop/cartesian over the corpus —
    and its one exchange (the candidate dedup) must carry id/score triples,
    not embedding vectors."""
    plan = _plan(spark, sf001_dir, "lsh_ann_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning(query_id" in line:
            assert "_v#" not in line  # no vector columns in the dedup shuffle
            break


def test_ivf_ann_no_cartesian(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "ivf_ann_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auto_cascade_is_map_only(spark, sf001_dir):
    """The auto typed cascade is pure per-row expression work — token
    synthesis, regex classification, variant construction — so the whole
    query must stay a zero-Exchange scan like the other parse paths."""
    plan = _plan(spark, sf001_dir, "wpl_auto_cascade")
    assert "Exchange" not in plan


def test_stratified_sample_is_map_only_with_pushdown(spark, sf001_dir):
    """Deterministic sampling must stay a scan-side filter: zero Exchange,
    and the modulus gate pushed toward the parquet scan."""
    plan = _plan(spark, sf001_dir, "stratified_sample")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_multirule_dispatch_is_map_only(spark, sf001_dir):
    """The rule cascade is a projection — labeling R rules must never
    introduce a shuffle or a Python stage."""
    plan = _plan(spark, sf001_dir, "wpl_multirule_dispatch")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_budget_select_single_window_shuffle(spark, sf001_dir):
    """Token-budget selection: exactly ONE exchange (the stratum window);
    the cumulative sum must ride the ranking sort, not add a second."""
    plan = _plan(spark, sf001_dir, "corpus_budget_select")
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan


def test_q5_dims_broadcast(spark, sf001_dir):
    """nation/region carry explicit broadcast hints — they must never be
    the build side of a shuffle join."""
    plan = _plan(spark, sf001_dir, "q5_region_revenue")
    assert "BroadcastExchange" in plan
    # region filter reaches its scan
    scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "r_name" in l
    )
    assert "ASIA" in scan


def test_contamination_broadcasts_benchmark(spark, sf001_dir):
    """The benchmark gram set must be the broadcast side; the only real
    shuffle is the per-doc count agg — corpus text never shuffles."""
    plan = _plan(spark, sf001_dir, "contamination_check")
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_corpus_profile_single_aggregation(spark, sf001_dir):
    """Per-lang profile is one aggregation: a single exchange of combined
    partials, no Python, and the scan reads only (text, lang)."""
    plan = _plan(spark, sf001_dir, "corpus_profile")
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "n_chars" not in scan and "source" not in scan


def test_top_tokens_single_token_shuffle(spark, sf001_dir):
    """Corpus count + doc frequency must come out of ONE token-keyed
    aggregation (run-boundary marking), not two groupBys plus a join;
    partial aggregation must appear before the exchange."""
    plan = _plan(spark, sf001_dir, "top_tokens")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan
    assert "partial_count" in plan  # map-side combine absorbs the Zipf head


def test_incremental_dedup_shuffles_digests_only(spark, sf001_dir):
    """Batch-vs-corpus dedup: every hash exchange carries digests/ids,
    never document text."""
    plan = _plan(spark, sf001_dir, "incremental_dedup")
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_embedding_normalize_map_only(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "embedding_normalize")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_chunk_documents_map_only(spark, sf001_dir):
    plan = _plan(spark, sf001_dir, "doc_chunks")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_q6_filters_reach_the_scan(spark, sf001_dir):
    """Q6 is the pushdown benchmark: every predicate must appear in
    PushedFilters and the scan must read only the 4 needed columns."""
    plan = _plan(spark, sf001_dir, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_comment" not in scan and "l_orderkey" not in scan
    assert "PushedFilters" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_discount", "l_quantity"):
        assert col in pushed


def test_bigram_pmi_builds_lazily(spark, sf001_dir):
    """bigram_pmi used to run bg.count() + uni.agg().collect() while
    BUILDING the plan — three corpus passes to feed two scalars. Guard:
    constructing the DataFrame triggers ZERO Spark jobs (totals fold in
    as a broadcast one-row frame), and the count-table exchanges are
    reused rather than recomputed for the totals branch."""
    # warm the parquet relation so schema-inference jobs don't pollute
    # the job-group check
    QUERIES["bigram_pmi"][0](spark, sf001_dir)
    sc = spark.sparkContext
    sc.setJobGroup("bigram-pmi-lazy", "plan construction must be lazy")
    try:
        df = QUERIES["bigram_pmi"][0](spark, sf001_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("bigram-pmi-lazy")
    assert list(jobs) == [], f"plan construction ran Spark jobs: {jobs}"
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # exactly two corpus passes: one bigram, one unigram; every other
    # reference (w2 side, n_bg, n_uni) rides a ReusedExchange
    assert final.count("FileScan") == 2, final.count("FileScan")
    assert final.count("ReusedExchange") >= 3


def test_char_entropy_and_cdc_chunking_are_map_only(spark, sf001_dir):
    """The r10 MAP-ONLY claims (SCALE.md): entropy and content-defined
    chunk boundaries run as array HOFs inside one projection — zero
    Exchange in either plan, and the n_chars guard reaches the scan."""
    for name in ("char_entropy", "cdc_chunking"):
        plan = _plan(spark, sf001_dir, name)
        assert "Exchange" not in plan, name
        scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "PushedFilters: [" in scan and "GreaterThan(n_chars" in scan, name


def test_k_anonymity_broadcasts_group_census(spark, sf001_dir):
    """Events must NOT shuffle: the qualifying-group census broadcasts
    back into a hash join; the only Exchanges belong to the census
    aggregation itself."""
    plan = _plan(spark, sf001_dir, "k_anonymity_suppress")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_search_text_rank_is_two_phase(spark, sf001_dir):
    """The r9 verdict's last single-reducer shape: the BM25 text-side
    rank must carry the partial (query_id, partition) window before the
    global one — two SPARK_PARTITION_ID()-keyed windows total (text +
    vector side)."""
    plan = _plan(spark, sf001_dir, "hybrid_search")
    partial_windows = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "__pid" in l
    ]
    assert len(partial_windows) >= 2, plan


def test_ccnet_buckets_has_no_wide_percentile_buffer(spark, sf001_dir):
    """The tertile cuts must come from the two-level histogram+cumsum
    path (bounded agg state), not a percentile aggregate whose buffer
    scales with distinct-value count."""
    plan = _plan(spark, sf001_dir, "ccnet_buckets")
    assert "percentile" not in plan.lower()


def test_countmin_sketch_is_count_table_rollup(spark, sf001_dir):
    """The 4096-cell sketch must build from the exact count table, not a
    second corpus pass: exactly one FileScan of documents feeds both the
    counts and the cells (ReusedExchange covers the second consumer)."""
    df = QUERIES["countmin_heavy_hitters"][0](spark, sf001_dir)
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan") == 1, final.count("FileScan")


def test_ngram_jaccard_carries_sizes_through_index(spark, sf001_dir):
    """r17 shape: doc sizes ride the inverted index as a struct, so the
    plan has NO persisted shingle frame and NO post-aggregation size
    joins — and the inferred size(__sh)>0 filter must not be rewritten
    in terms of the shingle tokenizer and pushed below the projection
    (the _no_pushdown barrier; a pushed copy re-runs the regex per row
    in the pre-spread single-partition layout)."""
    plan = _plan(spark, sf001_dir, "ngram_jaccard_dups")
    assert "InMemoryRelation" not in plan
    assert "Join" not in plan  # jaccard computed off the count agg alone
    filters = [l for l in plan.splitlines() if "Filter" in l and "Scan" not in l]
    # at least one Filter above the scan must be examined, or a change in
    # the plan's text format would pass this check vacuously
    assert filters, plan[:2000]
    for line in filters:
        assert "regexp_replace" not in line, line[:160]


def _cached_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_persist_scope_releases_on_exit_and_on_error(spark):
    before = _cached_rdds(spark)
    with persist_scope():
        df = scoped_persist(spark.range(101).selectExpr("id * 3 AS x"))
        df.count()
        assert _cached_rdds(spark) == before + 1
    assert _cached_rdds(spark) == before
    assert df.storageLevel == StorageLevel.NONE

    with pytest.raises(RuntimeError, match="boom"):
        with persist_scope():
            scoped_persist(spark.range(103).selectExpr("id * 5 AS x")).count()
            assert _cached_rdds(spark) == before + 1
            raise RuntimeError("boom")
    assert _cached_rdds(spark) == before


def test_persist_scope_releases_only_its_own_frame(spark):
    """A persist made outside any scope belongs to the caller; a nested
    scope releases only what was persisted since it opened. The owned
    persist runs in a fresh context, outside the scope each test runs in."""
    owned = contextvars.Context().run(
        scoped_persist, spark.range(107).selectExpr("id * 7 AS x")
    )
    owned.count()
    try:
        with persist_scope():
            outer = scoped_persist(spark.range(109).selectExpr("id * 11 AS x"))
            outer.count()
            with persist_scope():
                inner = scoped_persist(spark.range(113).selectExpr("id * 13 AS x"))
                inner.count()
            assert inner.storageLevel == StorageLevel.NONE
            assert outer.storageLevel != StorageLevel.NONE
        assert outer.storageLevel == StorageLevel.NONE
        assert owned.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        owned.unpersist()


def test_persist_scopes_in_two_threads_are_independent(spark):
    """Each thread sees only the scopes it opened: thread A leaving its
    scope while thread B's is still open must not release B's frame."""
    both_cached = threading.Barrier(2, timeout=120)
    a_left = threading.Event()
    seen: dict[str, object] = {}

    def run_a():
        with persist_scope():
            df = scoped_persist(spark.range(127).selectExpr("id * 17 AS x"))
            df.count()
            both_cached.wait()
        seen["a_after_exit"] = df.storageLevel
        a_left.set()

    def run_b():
        with persist_scope():
            df = scoped_persist(spark.range(131).selectExpr("id * 19 AS x"))
            df.count()
            both_cached.wait()
            a_left.wait(120)
            seen["b_after_a_exit"] = df.storageLevel
        seen["b_after_exit"] = df.storageLevel

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(240)
    assert not any(t.is_alive() for t in threads)
    assert seen == {
        "a_after_exit": StorageLevel.NONE,
        "b_after_a_exit": StorageLevel.MEMORY_AND_DISK,
        "b_after_exit": StorageLevel.NONE,
    }
