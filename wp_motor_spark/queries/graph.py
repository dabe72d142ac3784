"""Graph queries over the host link graph between document sources and the
embedding near-dup graph: PageRank, label propagation, triangles,
assortativity and neighbour Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wp_motor_spark.operators import dedup
from wp_motor_spark.queries._common import _t, query
from wp_motor_spark.session import scoped_persist


@query(None)
def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding near-dup graph (Brin & Page 1998
    power iteration, 10 rounds, d=0.85): the centrality signal that
    picks the CANONICAL copy inside a duplication cluster and weights
    crawl importance before sampling. Rows-only for the driver
    (iterative); the gates (ranks sum to 1, isolated nodes at the
    (1-d)/N baseline, hubs outrank leaves) live in tests/test_quality.py.

    Scale shape: the edge list comes from the CLUSTER-BOUNDED pair
    generator (operators/dedup.py::cluster_neardup_pairs — k-means cells
    + multi-probe, FLOPs ~ n^2*p^2/k instead of the all-pairs GEMM's n^2;
    at 100 TB n_cells grows ~sqrt(n) so per-cell work stays bounded),
    recall-gated >= 0.9 vs the exact pairs in tests/test_quality.py
    (measured 0.97 at sf0.001 on worst-case random embeddings). The
    PageRank loop itself: see operators/graph.py::pagerank — per round
    one (long, double) join + dst-keyed agg, localCheckpoint'd lineage,
    one-row dangling-mass broadcast."""
    emb = _t(spark, sf_dir, spread=True, name="embeddings")
    pairs = dedup.cluster_neardup_pairs(
        emb, threshold=0.4, n_cells=8, n_probe=3
    )
    from wp_motor_spark.operators.graph import pagerank

    return pagerank(emb.select(F.col("vec_id").alias("id")), pairs)


_PR_PRIMES = (7919, 104729, 1299709)


def _host_edges(docs: DataFrame) -> DataFrame:
    """The deterministic synthesized host link graph shared by
    host_pagerank and host_label_propagation: each doc's source host
    links to three doc_id-derived hub hosts (the corpus has no link
    column — the url_canonicalize synthesis precedent)."""
    src = F.concat(F.col("source"), F.lit(".example.org"))
    dsts = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    return docs.select(
        src.alias("src"), F.explode(F.array(*dsts)).alias("dst")
    ).distinct()


def _host_pagerank_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    head = f"""
WITH edges AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), nodes AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
), outdeg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / n AS r FROM nodes, nn)"""
    iters = []
    for k in range(1, 5):
        p = k - 1
        iters.append(f""",
d{k} AS (
  SELECT COALESCE(SUM(r), 0.0) AS dm FROM r{p}
  WHERE host NOT IN (SELECT src FROM outdeg)
), c{k} AS (
  SELECT dst, SUM(r / deg) AS c
  FROM edges JOIN outdeg USING (src) JOIN r{p} ON r{p}.host = edges.src
  GROUP BY dst
), r{k} AS (
  SELECT host,
    round(CAST(0.15 AS DOUBLE) / n
          + CAST(0.85 AS DOUBLE) * (COALESCE(c, 0.0) + dm / n), 10) AS r
  FROM nodes LEFT JOIN c{k} ON nodes.host = c{k}.dst, nn, d{k}
)""")
    tail = """
SELECT host, round(r, 6) AS pagerank FROM r4
ORDER BY pagerank DESC, host LIMIT 20
"""
    return head + "".join(iters) + tail


@query(_host_pagerank_sql())
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (Page et al. 1999; d=0.85, 4 power
    iterations with uniform dangling-mass redistribution) — the
    host-level quality prior crawl-corpus pipelines (CommonCrawl
    ranking, FineWeb-style curation) compute to weight domains. The
    corpus has no link column, so the host graph is SYNTHESIZED
    deterministically (source hosts link to doc_id-derived hub hosts —
    the url_canonicalize precedent), which lets the DuckDB oracle
    replay all four iterations exactly; per-iteration ranks round to
    10 dp so cross-engine sum-order noise (~1e-16) cannot cascade.

    Scale shape (r16 loop slim-down, guide §2.4): the edge list is
    |hosts|-bounded after DISTINCT and persists across iterations WITH
    its out-degrees pre-attached (the edges x outdeg join is
    loop-invariant — it used to run every round); |nodes| is a python
    literal from one count of the persisted node frame (the former
    per-round 1-row crossJoin subquery is gone); the dangling-host
    FLAG is precomputed on the node frame, so the per-round dangling
    mass is a filter+agg over the rank frame instead of an anti-join.
    Each iteration is one equi-join shuffle (edges x ranks on src) + a
    dst-keyed partial agg + the flag filter agg; checkpoints are lazy
    so all four rounds execute inside one job. Per-iteration float
    formulas are unchanged (same IEEE ops; (1-d)/n and dm/n now divide
    by a literal — identical doubles), and the 10-dp per-iteration
    round keeps the oracle replay exact as before."""
    d = 0.85
    docs = _t(spark, sf_dir, "documents")
    edges = scoped_persist(_host_edges(docs))
    nodes = scoped_persist(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop-invariant: per-edge out-degree attached ONCE; |hosts|-bounded
    eo = scoped_persist(edges.join(outdeg, "src"))
    # dangling flag precomputed on the static node frame (outdeg.src is
    # distinct, so the left join is 1:1)
    nodes_f = scoped_persist(
        nodes.join(
            outdeg.select(F.col("src").alias("host"), F.lit(False).alias("__d")),
            "host",
            "left",
        ).select("host", F.coalesce("__d", F.lit(True)).alias("__dang"))
    )
    n_nodes = nodes.count()
    ranks = nodes_f.select(
        "host", "__dang", F.lit(1.0 / n_nodes).alias("r")
    )
    # each iteration references `ranks` TWICE (dangling mass + edge
    # contributions): without materialization the lineage doubles per
    # round (2^4 copies of the base plan — measured 9.6 s at sf0.01 on
    # plan build alone). localCheckpoint truncates lineage each round
    # (lazy: materializes once inside the final action); the frame is
    # |hosts| rows (the neardup_pagerank CC-loop discipline).
    for _ in range(4):
        ranks = ranks.localCheckpoint(eager=False)
        dangling = ranks.where(F.col("__dang")).agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            eo.join(ranks.select(F.col("host").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes_f.join(contrib, nodes_f["host"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                "__dang",
                F.round(
                    F.lit((1 - d) / n_nodes)
                    + d
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.lit(n_nodes)
                    ),
                    10,
                ).alias("r"),
            )
        )
    return (
        ranks.select("host", F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "host")
        .limit(20)
    )


def _host_lpa_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    head = f"""
WITH edges AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), adj AS (
  SELECT src AS v, dst AS n FROM edges
  UNION SELECT dst, src FROM edges
), l0 AS (SELECT DISTINCT v, v AS lbl FROM adj)"""
    iters = []
    for k in range(1, 4):
        p = k - 1
        iters.append(f""",
c{k} AS (
  SELECT adj.v, l{p}.lbl, count(*) AS c
  FROM adj JOIN l{p} ON l{p}.v = adj.n
  GROUP BY adj.v, l{p}.lbl
), l{k} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM c{k}) WHERE rn = 1
)""")
    tail = """
SELECT l3.v AS host, l3.lbl AS community, s.community_size
FROM l3 JOIN (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY lbl) s
  ON l3.lbl = s.lbl
ORDER BY host
"""
    return head + "".join(iters) + tail


@query(_host_lpa_sql())
def host_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the host graph by synchronous label
    propagation (Raghavan, Albert & Kumara 2007, "Near linear time
    algorithm to detect community structures in large-scale networks"):
    3 rounds of every node adopting its neighbors' most frequent label
    (ties -> lexicographically smallest, making the sweep
    deterministic) over the same synthesized undirected host graph as
    `host_pagerank` — the link-farm / mirror-cluster screen crawl
    pipelines run next to the PageRank quality prior. Emits each
    host's final community and the community size.

    Scale shape: the adjacency (both edge directions, distinct) is
    |edges|-bounded and persists across rounds; each round is ONE
    equi-join shuffle (adjacency x labels on the neighbor) + a
    (v, label) partial-agg + a per-node argmax as MIN(struct(-c, lbl))
    (r16: the former row_number window re-shuffled by v and sorted —
    the struct-min folds the argmax into one more partial-aggregated
    agg, guide §2.4; same deterministic winner: largest count, ties to
    the smallest label). No collect; rounds are a fixed 3."""
    docs = _t(spark, sf_dir, "documents")
    edges = _host_edges(docs)
    adj = scoped_persist(
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
    )
    labels = adj.select("v").distinct().withColumn("lbl", F.col("v"))
    for _ in range(3):
        cnt = (
            adj.join(
                labels.select(F.col("v").alias("n"), "lbl"), "n"
            )
            .groupBy("v", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("v")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "lbl")).alias("__b"))
            .select("v", F.col("__b.lbl").alias("lbl"))
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("v").alias("host"),
            F.col("lbl").alias("community"),
            "community_size",
        )
        .orderBy("host")
    )


def _host_triangles_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH raw AS (
  SELECT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[0]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[2]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
), edges AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src != dst
), tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.u AND e3.v = e2.v)
), member AS (
  SELECT host, COUNT(*) AS triangles
  FROM (SELECT a AS host FROM tris UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
  GROUP BY 1
), deg AS (
  SELECT host, COUNT(*) AS degree
  FROM (SELECT u AS host FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY 1
)
SELECT deg.host, degree, COALESCE(triangles, 0) AS triangles,
       CASE WHEN degree >= 2
            THEN round(2.0 * COALESCE(triangles, 0)
                       / (degree * (degree - 1.0)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN member ON deg.host = member.host
ORDER BY deg.host
"""


@query(_host_triangles_sql())
def host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph triangle census (node-iterator with ordered joins —
    Suri & Vassilvitskii 2011 MapReduce triangle counting): per-host
    triangle count, degree, and local clustering coefficient
    2T/(d(d-1)) — the link-farm / community screen next to
    host_pagerank. The graph extends _host_edges with hub-hub
    co-citation edges (hub(p1)-hub(p2), hub(p2)-hub(p3) per doc):
    source->hub edges alone are bipartite, which has NO triangles by
    construction.

    Scale shape: node-iterator++ — every edge is ORIENTED from its
    lower-(degree, host) endpoint to the higher one, wedges are
    enumerated only at each triangle's minimum vertex, and the closing
    edge check is a semi-join on the oriented set. Out-degree under
    degree ordering is O(sqrt(E)) (arboricity bound), so wedge volume
    is sum(outdeg^2) = O(E^1.5) worst case and hub-bounded in practice
    — the d_max^2 blowup of the unordered middle-vertex join is gone
    (a celebrity host contributes only its OUT-wedges, and high-degree
    nodes have near-zero out-degree). Each triangle {x,y,z} appears
    exactly once: at its (degree, host)-minimum vertex. Everything
    after the distinct is |hosts+edges|-bounded."""
    docs = _t(spark, sf_dir, spread=True, name="documents")
    hubs = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    raw = _host_edges(docs).unionAll(
        docs.select(hubs[0].alias("src"), hubs[1].alias("dst"))
    ).unionAll(docs.select(hubs[1].alias("src"), hubs[2].alias("dst")))
    edges = scoped_persist(
        raw.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("host"))
        .unionAll(edges.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # persisted (r16): deg is referenced 3x (du, dv, the final join) and
    # re-aggregated the cached edge frame each time; |hosts|-bounded
    # (sources + 37 synthetic hubs). Interleaved A/B at sf0.1: min
    # neutral (2.10/2.10), med 2.54 -> 2.28.
    deg = scoped_persist(deg)
    # orient each edge low->high in the (degree, host) total order;
    # carry the head's order key so wedge endpoints can be ordered too
    du = deg.select(F.col("host").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("degree").alias("dv"))
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = scoped_persist(
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(low_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
    )
    # wedges at the minimum vertex a: two out-edges a->b, a->c with
    # b before c in the order; the closing edge is then oriented b->c
    o1 = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("b"), F.col("dt").alias("db")
    )
    o2 = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("c"), F.col("dt").alias("dc")
    )
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    tris = wedges.join(
        oriented.select(F.col("s").alias("b"), F.col("t").alias("c")),
        ["b", "c"],
        "left_semi",
    ).select("a", "b", "c")
    member = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(member, "host", "left")
        .select(
            "host",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy("host")
    )


def _host_assortativity_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH raw AS (
  SELECT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[0]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
  UNION ALL
  SELECT 'h' || CAST((doc_id * {_PR_PRIMES[1]}) % 37 AS VARCHAR)
           || '.example.org',
         'h' || CAST((doc_id * {_PR_PRIMES[2]}) % 37 AS VARCHAR)
           || '.example.org'
  FROM documents
), edges AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src != dst
), deg AS (
  SELECT host, COUNT(*) AS d FROM (
    SELECT u AS host FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
), ends AS (
  SELECT d1.d AS x, d2.d AS y
  FROM edges JOIN deg d1 ON edges.u = d1.host
             JOIN deg d2 ON edges.v = d2.host
  UNION ALL
  SELECT d2.d, d1.d
  FROM edges JOIN deg d1 ON edges.u = d1.host
             JOIN deg d2 ON edges.v = d2.host
), g AS (
  SELECT COUNT(*) AS m,
         SUM(CAST(x AS DECIMAL(18,0))) AS sx,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))
                  AS DECIMAL(38,0))) AS sxy
  FROM ends
)
SELECT m / 2 AS n_edges,
       round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
         AS assortativity,
       CASE WHEN (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 > 0.05 THEN 'assortative'
            WHEN (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 < -0.05 THEN 'disassortative'
            ELSE 'neutral' END AS verdict
FROM g
"""


@query(_host_assortativity_sql())
def host_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the host graph (Newman 2002, eq. 4):
    the Pearson correlation of endpoint degrees over all edges — do
    hubs link to hubs (assortative, r > 0) or to leaves
    (disassortative, r < 0, the scale-free-web signature)? Uses the
    host_triangles edge set (source-hub + hub-hub co-citation,
    undirected, deduplicated); each undirected edge contributes BOTH
    orientations, the standard convention. All moments are EXACT
    decimal sums of integer degrees.

    Scale shape: degrees are one rollup over the edge list; the
    moment pass is one more rollup over |edges| rows — no window, no
    pair blowup."""
    docs = _t(spark, sf_dir, "documents")
    hubs = [
        F.concat(
            F.lit("h"),
            F.pmod(F.col("doc_id") * p, F.lit(37)).cast("string"),
            F.lit(".example.org"),
        )
        for p in _PR_PRIMES
    ]
    raw = _host_edges(docs).unionAll(
        docs.select(hubs[0].alias("src"), hubs[1].alias("dst"))
    ).unionAll(docs.select(hubs[1].alias("src"), hubs[2].alias("dst")))
    edges = (
        raw.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("host"))
        .unionAll(edges.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("host").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("d").alias("dv"))
    both = edges.join(du, "u").join(dv, "v")
    ends = both.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionAll(both.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    dx = F.col("x").cast("decimal(18,0)")
    dy = F.col("y").cast("decimal(18,0)")
    g = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(dx).alias("sx"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    num = m * F.col("sxy").cast("double") - sx * sx
    den = m * F.col("sxx").cast("double") - sx * sx
    r = num / den
    return g.select(
        (F.col("m") / 2).alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
        F.when(r > 0.05, "assortative")
        .when(r < -0.05, "disassortative")
        .otherwise("neutral")
        .alias("verdict"),
    )


def _host_neighbor_jaccard_sql() -> str:
    primes = ", ".join(str(p) for p in _PR_PRIMES)
    return f"""
WITH prof AS (
  SELECT DISTINCT source || '.example.org' AS src,
         'h' || CAST((doc_id * p) % 37 AS VARCHAR) || '.example.org' AS dst
  FROM documents, UNNEST([{primes}]) AS t(p)
), sz AS (
  SELECT src, COUNT(*) AS nsz FROM prof GROUP BY 1
), inter AS (
  SELECT a.src AS sa, b.src AS sb, COUNT(*) AS i
  FROM prof a JOIN prof b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
SELECT sa, sb, i AS common_hubs,
       round(CAST(i AS DOUBLE) / (za.nsz + zb.nsz - i), 6) AS jaccard
FROM inter JOIN sz za ON sa = za.src JOIN sz zb ON sb = zb.src
ORDER BY jaccard DESC, sa, sb
"""


@query(_host_neighbor_jaccard_sql())
def host_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-equivalence screen for source hosts (the Jaccard
    link-prediction feature of Liben-Nowell & Kleinberg 2003, applied
    to neighbor PROFILES): for every pair of source hosts, the
    Jaccard overlap of their hub-neighbor sets — two sources whose
    docs cite the same hubs serve interchangeable content (the mirror
    / syndication signal at host granularity). Counts are exact
    integers; |union| = |Na| + |Nb| - |intersection|.

    Scale shape: source-host neighbor profiles live in the bounded
    hub vocabulary; the pair frame is |sources|^2 / 2 — never
    corpus-sized (the profile rollup is the only pass over edges)."""
    docs = _t(spark, sf_dir, "documents")
    prof = _host_edges(docs).distinct()
    sz = prof.groupBy("src").agg(F.count(F.lit(1)).alias("nsz"))
    a = prof.select(F.col("src").alias("sa"), "dst")
    b = prof.select(F.col("src").alias("sb"), "dst")
    inter = (
        a.join(b, "dst")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ja = sz.select(F.col("src").alias("sa"), F.col("nsz").alias("na"))
    jb = sz.select(F.col("src").alias("sb"), F.col("nsz").alias("nb"))
    out = inter.join(ja, "sa").join(jb, "sb")
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    ).cast("double")
    return out.select(
        "sa", "sb",
        F.col("i").alias("common_hubs"),
        F.round(jac, 6).alias("jaccard"),
    ).orderBy(F.desc("jaccard"), "sa", "sb")
