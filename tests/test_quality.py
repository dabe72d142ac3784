"""Quantitative quality gates for the approximate / rows-only operators.

VERDICT r2 item 2: the 5 queries the driver can only rows-check
(minhash_lsh_dups, simhash_dups, lsh_ann_topk, ivf_ann_topk,
multimodal_features) get numeric quality evidence here, each graded
against an exact twin computed independently:

- minhash:    pairs SUBSET-OF exact n-gram Jaccard pairs at the same
              threshold, recall >= 0.9 vs ngram_jaccard_pairs.
- simhash:    pair set EXACTLY equal to a DuckDB recomputation of
              hamming(bit_count(xor)) <= 3 over the exported fingerprints
              (validates the pigeonhole blocking + first-matching-block
              dedup logic end to end).
- lsh_topk:   recall@5 >= 0.9 vs brute_force_topk (banded + multi-probe).
- ivf_topk:   recall@5 >= 0.8 vs brute_force_topk, and k-means refinement
              strictly improves recall over unrefined centroids.
- multimodal: feature vectors EXACTLY equal to a driver-side pure-Python
              recomputation of the documented stub-decode spec.

The module grew one gate per later rows-only query (PQ/IVF-PQ, MRL,
sketches, greedy selectors, decode/pHash/zlib parity, ...); it is the
only home of these checks.

All inputs are the deterministic driver fixtures (sf0.001) and every
operator is RNG-free, so the printed recall numbers are stable, not
flaky thresholds.
"""

import hashlib

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wp_motor_spark.operators import dedup, multimodal as mm, similarity
from wp_motor_spark.session import scoped_persist


@pytest.fixture(scope="module")
def emb(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/documents.parquet")


@pytest.fixture(scope="module")
def exact_top5(emb):
    queries = emb.where(F.col("vec_id") < 10)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return {(r.query_id, r.neighbor_id) for r in out.collect()}


def _recall(got: set, exact: set) -> float:
    return len(got & exact) / len(exact)


def test_lsh_recall_at_5(emb, exact_top5):
    """recall@5 >= 0.9 at the shipped operating point (probe_bits=1), and
    multi-probe never loses recall against probe_bits=0: it adds
    planes//bands probe keys per band on the QUERY side only (the corpus
    fan-out is `bands` either way)."""
    queries = emb.where(F.col("vec_id") < 10)
    dim = emb.select(F.size("embedding")).first()[0]
    recalls = {}
    for probe_bits in (0, 1):
        out = similarity.lsh_topk(
            emb, queries, dim=dim, k=5, planes=32, bands=8, probe_bits=probe_bits
        )
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        recalls[probe_bits] = _recall(got, exact_top5)
    print(
        f"\nlsh_topk recall@5 probe_bits=0 {recalls[0]:.3f} "
        f"probe_bits=1 {recalls[1]:.3f} (gate >= 0.9)"
    )
    assert recalls[1] >= 0.9
    assert recalls[1] >= recalls[0], recalls


def test_ivf_recall_at_5_and_kmeans_improves(emb, exact_top5):
    queries = emb.where(F.col("vec_id") < 10)
    recalls = {}
    for iters in (0, 5):
        out = similarity.ivf_topk(
            emb, queries, k=5, n_cells=16, n_probe=8, kmeans_iters=iters
        )
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        recalls[iters] = _recall(got, exact_top5)
    print(
        f"\nivf_topk recall@5 unrefined={recalls[0]:.3f} "
        f"refined={recalls[5]:.3f} (gate: refined >= 0.8 and > unrefined)"
    )
    assert recalls[5] >= 0.8
    assert recalls[5] > recalls[0]


def test_minhash_subset_of_exact_and_recall(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    mh_rows = dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    mh = {(r.id_a, r.id_b) for r in mh_rows}
    assert exact, "fixture must contain planted near-dups"
    # verification step computes exact Jaccard, so no false positives ever
    assert mh <= exact, f"minhash produced non-dup pairs: {sorted(mh - exact)[:5]}"
    recall = len(mh) / len(exact)
    print(f"\nminhash_lsh_pairs recall = {recall:.3f} over {len(exact)} exact pairs")
    assert recall >= 0.9


def test_simhash_pairs_match_duckdb_exact_recompute(docs):
    fps = (
        docs.select(
            F.col("doc_id").alias("id"),
            dedup.simhash(F.col("text")).alias("fp"),
            F.length(dedup.normalize_text(F.col("text"))).alias("n_norm"),
        )
        .toPandas()
    )
    # exact all-pairs recompute in DuckDB from the exported fingerprints;
    # empty docs carry the 0 sentinel fingerprint and are excluded on both
    # sides (simhash_pairs never emits them because blocking keys require a
    # non-empty token vote — mirror that via n_norm > 0)
    con = duckdb.connect()
    con.register("fps", fps[fps["n_norm"] > 0][["id", "fp"]])
    want = {
        (a, b)
        for a, b in con.execute(
            """
            SELECT x.id, y.id FROM fps x JOIN fps y ON x.id < y.id
            WHERE bit_count(xor(x.fp, y.fp)) <= 3
            """
        ).fetchall()
    }
    got_rows = dedup.simhash_pairs(docs, max_hamming=3).collect()
    got = {(r.id_a, r.id_b) for r in got_rows}
    # each pair must appear exactly once (first-matching-block dedup)
    assert len(got_rows) == len(got)
    print(f"\nsimhash_pairs = {len(got)} pairs, DuckDB exact = {len(want)}")
    assert got == want


def test_multimodal_features_match_pure_python_recompute(spark):
    rows = [(i, bytes([i % 251]) * (64 * (1 + i % 3))) for i in range(20)]
    df = mm.attach_meta(spark.createDataFrame(rows, "doc_id long, media binary"))
    got = {r["doc_id"]: r["features"] for r in mm.image_features(df).collect()}

    def expected(payload: bytes) -> list:
        # independent recomputation of the documented stub-decode spec:
        # sha256(payload) bytes tiled to 8x8x3, channel-mean, 16-bin
        # histogram over [0,255], normalized
        seed = hashlib.sha256(payload).digest()
        arr = np.frombuffer(seed * 6, dtype=np.uint8)[: 8 * 8 * 3].reshape(8, 8, 3)
        gray = arr.astype(np.float32).mean(axis=2)
        hist, _ = np.histogram(gray, bins=16, range=(0, 255))
        return (hist / max(hist.sum(), 1)).astype(np.float32).tolist()

    assert set(got) == {i for i, _ in rows}
    for i, payload in rows:
        assert got[i] == pytest.approx(expected(payload)), f"doc {i}"


def test_multimodal_real_decode_matches_pure_python(spark, sf001_dir):
    """multimodal_real_decode gate: the query synthesizes a seeded 16x12
    BMP per doc and runs the real decode path; the BMP round trip must be
    pixel-exact and width/height/f0 must equal a driver-side recompute
    from the same seeds, for every doc."""
    from wp_motor_spark.operators import imagecodec as ic
    from wp_motor_spark.queries.corpus import multimodal_real_decode

    got = {
        r["doc_id"]: (r["width"], r["height"], r["f0"])
        for r in multimodal_real_decode(spark, sf001_dir).collect()
    }
    assert got
    for did, (w, h, f0) in got.items():
        rng = np.random.RandomState(int(did) % (2**31))
        arr = rng.randint(0, 256, size=(12, 16, 3), dtype=np.uint8)
        dec = ic.decode_bmp(ic.encode_bmp(arr))
        np.testing.assert_array_equal(dec, arr)
        gray = dec.astype(np.float32).mean(axis=2)
        hist, _ = np.histogram(gray, bins=16, range=(0, 255))
        want_f0 = round(float(np.float32(hist[0] / max(hist.sum(), 1))), 4)
        # f0 is float32 in the query: the rounded value re-widens
        # (0.0052 -> 0.005200000014...), so round the collected value back
        assert (w, h, round(float(f0), 4)) == (16, 12, want_f0), did


def test_image_neardup_matches_exact_phash_hamming(spark, sf001_dir, docs):
    """image_neardup gate: recompute every image's pHash driver-side (same
    seeds as the query) and enumerate ALL pairs within hamming 7; the
    pigeonhole block join (n_blocks=8) must return exactly that set."""
    from wp_motor_spark.queries.dedup import image_neardup

    phashes = {}
    for r in docs.where(F.col("doc_id") < 200).select("doc_id").collect():
        did = int(r["doc_id"])
        seed = did - 1 if did % 10 == 0 else did
        rng = np.random.RandomState(seed % (2**31))
        arr = rng.randint(0, 240, size=(6, 8, 3)).repeat(5, axis=0).repeat(4, axis=1)
        if did % 10 == 0:
            arr = arr + 10
        phashes[did] = mm.phash_array(arr.astype(np.uint8))
    ids = sorted(phashes)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((phashes[a] ^ phashes[b]) & ((1 << 64) - 1)).count("1") <= 7
    }
    got = {(r["id_a"], r["id_b"]) for r in image_neardup(spark, sf001_dir).collect()}
    assert want, "the fixture plants a near-dup every 10th doc"
    assert got == want


def test_compression_quality_matches_zlib_level6(spark, sf001_dir, docs):
    """compression_quality gate: every doc's ratio is byte-identical to
    driver-side zlib.compress(level=6); empty text gives NULL."""
    import zlib

    from wp_motor_spark.queries.corpus import compression_quality

    got = {
        r["doc_id"]: r["comp_ratio"]
        for r in compression_quality(spark, sf001_dir).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    assert set(got) == set(texts)
    for did, t in texts.items():
        b = (t or "").encode("utf-8")
        want = round(len(zlib.compress(b, 6)) / len(b), 6) if b else None
        assert got[did] == want, did


def test_embedding_pca_matches_numpy_on_fixture(emb):
    """embedding_pca gate on the driver fixture: the distributed two-pass
    PCA (k=4) projects within 1e-8 of a driver numpy recompute, and its
    eigenvalues match the covariance spectrum."""
    from wp_motor_spark.operators import embed

    rows = emb.orderBy("vec_id").collect()
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = [r["vec_id"] for r in rows]
    comps, evals, _ = embed.pca_components(emb, k=4, dim=X.shape[1])
    ref_evals = np.linalg.eigvalsh(np.cov(X, rowvar=False))[::-1][:4]
    np.testing.assert_allclose(evals, ref_evals, rtol=1e-9)
    got = {
        r["vec_id"]: np.asarray(r["pc"])
        for r in embed.pca_project(emb, k=4, dim=X.shape[1]).collect()
    }
    want = (X - X.mean(axis=0)) @ comps.T
    max_dev = max(float(np.max(np.abs(got[i] - want[j]))) for j, i in enumerate(ids))
    assert max_dev < 1e-8, max_dev


def test_bpe_token_counts_round_trip_and_distributed_parity(docs):
    """bpe_token_counts gate on the driver fixture (200 merges, first 50
    docs): every word re-joins losslessly, the distributed count UDF
    equals the driver encoder, and the mean is under 3 tokens per word."""
    from wp_motor_spark.operators import bpe

    merges = bpe.train_bpe(docs, num_merges=200)
    ranks = {p: i for i, p in enumerate(merges)}
    sample = docs.orderBy("doc_id").limit(50)
    rows = sample.collect()
    for r in rows:
        for w in (r["text"] or "").lower().split():
            assert "".join(bpe.encode_word(w, ranks)) == w + "</w>", w
    counter = bpe.encode_udf(merges, output="count")
    got = {
        r["doc_id"]: r["n"]
        for r in sample.select("doc_id", counter(F.col("text")).alias("n")).collect()
    }
    want = {
        r["doc_id"]: sum(
            len(bpe.encode_word(w, ranks)) for w in (r["text"] or "").lower().split()
        )
        for r in rows
    }
    assert got == want
    n_words = sum(len((r["text"] or "").split()) for r in rows)
    assert sum(want.values()) / max(n_words, 1) < 3.0


def test_ngram_df_cap_bounds_buckets(docs):
    # with the cap forced below the fixture's max document frequency the
    # widest inverted-index bucket must shrink accordingly, and the oracle
    # default (1000) must leave the sf0.001 result untouched
    capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=2)
    uncapped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=None)
    default = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    pairs_def = {(r.id_a, r.id_b) for r in default.collect()}
    pairs_unc = {(r.id_a, r.id_b) for r in uncapped.collect()}
    pairs_cap = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs_def == pairs_unc  # fixture df never exceeds the default cap
    # the cap only removes evidence, never invents it
    assert pairs_cap <= pairs_unc


def test_kmeans_assignment_matches_numpy_and_refinement_helps(emb):
    """kmeans_clusters is rows-only at the driver; gate it here: (a) the
    distributed assignment equals a driver-numpy recompute against the
    same centroids, (b) 5 Lloyd iterations strictly improve mean
    cosine-to-centroid over the unrefined seed centroids."""
    rows = emb.orderBy("vec_id").collect()
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = [r["vec_id"] for r in rows]
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms

    mean_sim = {}
    for iters in (0, 5):
        got = {
            r["vec_id"]: (r["cluster"], r["sim"])
            for r in similarity.kmeans_assign(
                emb, n_cells=8, kmeans_iters=iters
            ).collect()
        }
        cmat = similarity._kmeans_centroids(emb, "embedding", "vec_id", 8, iters=iters)
        sims = Xn @ cmat.T
        best = np.argmax(sims, axis=1)
        for j, i in enumerate(ids):
            assert got[i][0] == best[j]
            assert abs(got[i][1] - round(sims[j, best[j]], 6)) < 1e-9
        mean_sim[iters] = float(np.mean(sims[np.arange(len(Xn)), best]))
    assert mean_sim[5] > mean_sim[0]


def test_sketch_distinct_users_within_hll_error(spark, sf001_dir):
    """sketch_distinct_users gate: HLL++ (rsd=0.01) per-group estimate
    within 3·rsd of the exact distinct count computed independently in
    DuckDB."""
    from wp_motor_spark.queries.etl import sketch_distinct_users

    got = {
        r["event_type"]: r["approx_users"]
        for r in sketch_distinct_users(spark, sf001_dir).collect()
    }
    exact = dict(
        duckdb.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM "
            f"read_parquet('{sf001_dir}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    assert set(got) == set(exact)
    for et, ex in exact.items():
        assert abs(got[et] - ex) / ex <= 0.03, (et, got[et], ex)


def test_sketch_value_quantiles_near_exact_twin(spark, sf001_dir):
    """sketch_value_quantiles gate: the GK sketch (accuracy 10k) must sit
    within the exact twin's value-neighborhood — with n << accuracy at
    this sf the rank error is < 1, so each approx quantile must equal one
    of the two order statistics bracketing the exact interpolated value."""
    from wp_motor_spark.queries.etl import events_quantiles, sketch_value_quantiles

    approx = {
        r["event_type"]: (r["ap50"], r["ap90"], r["ap99"])
        for r in sketch_value_quantiles(spark, sf001_dir).collect()
    }
    vals = {}
    for et, v in duckdb.sql(
        f"SELECT event_type, value FROM read_parquet('{sf001_dir}/events.parquet')"
    ).fetchall():
        vals.setdefault(et, []).append(v)
    for et, (a50, a90, a99) in approx.items():
        s = sorted(vals[et])
        n = len(s)
        tol = -(-n // 10000)  # GK accuracy=10000: rank error <= ceil(n/1e4)
        for p, a in ((0.5, a50), (0.9, a90), (0.99, a99)):
            i = p * (n - 1)
            lo = s[max(int(i) - tol + 1, 0)]
            hi = s[min(int(i) + tol, n - 1)]
            assert round(lo, 4) - 1e-9 <= a <= round(hi, 4) + 1e-9, (
                et, p, a, lo, hi,
            )


def test_pq_codes_deterministic_and_beats_single_codebook(emb):
    """pq_codes gate: (a) encoding is deterministic (no RNG state),
    (b) avg reconstruction cosine beats the m=1 equivalent — a single
    16-word codebook over the full vector (kmeans_assign's sim IS that
    reconstruction's cosine) — because PQ spends 4 bits per SUBSPACE
    (m*log2(k) = 32 bits) vs 4 bits total, and (c) a sane floor for
    near-random synthetic embeddings (~0.67 at 16 words / 8-dim
    subspace; info-theoretic, not a fit deficiency)."""
    out = scoped_persist(similarity.pq_codes(emb))  # released after the test

    def sig(df):
        return df.agg(
            F.bit_xor(
                F.xxhash64(
                    F.col("vec_id"),
                    F.concat_ws(",", F.col("codes").cast("array<string>")),
                )
            ).alias("s")
        ).collect()[0]["s"]

    assert sig(out) == sig(similarity.pq_codes(emb))

    m = out.select("codes").first()["codes"]
    assert len(m) == 8 and all(0 <= c < 16 for c in m)

    pq_avg = out.agg(F.avg("recon_cos")).collect()[0][0]
    m1_avg = (
        similarity.kmeans_assign(emb, n_cells=16)
        .agg(F.avg("sim"))
        .collect()[0][0]
    )
    assert pq_avg > m1_avg, (pq_avg, m1_avg)
    assert pq_avg >= 0.6, pq_avg


def test_pq_topk_recall_at_5(emb, exact_top5):
    """pq_ann_topk gate: ADC shortlist + exact re-rank recall@5 >= 0.8
    vs brute force (measured 0.92 at sf0.01 and 1.0-ish at sf0.001 on
    random synthetic embeddings — PQ's worst case)."""
    queries = emb.where(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(emb, queries, k=5).collect()
    }
    assert _recall(got, exact_top5) >= 0.8


def test_ivfpq_recall_at_5(emb, exact_top5):
    """ivfpq_ann_topk gate: coarse-cell probe + residual-PQ ADC
    shortlist + exact re-rank, recall@5 >= 0.8 vs brute force
    (measured 0.90 at sf0.001, n_probe=8/16 cells, shortlist=200)."""
    queries = emb.where(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_pq_topk(
            emb, queries, k=5, n_probe=8, shortlist=200
        ).collect()
    }
    assert _recall(got, exact_top5) >= 0.8


def test_mrl_truncation_monotone_and_self_consistent(spark, sf001_dir):
    """mrl_truncation_eval gates: recall@5 at the FULL dim must be 1.0
    (the full-dim list is its own reference) and mean recall must be
    non-decreasing in dim — truncating away dimensions can only lose
    ranking signal. (Random synthetic embeddings spread variance evenly,
    so small-prefix recall is low — that's the worst case, not a bug.)"""
    from wp_motor_spark.queries.retrieval import mrl_truncation_eval

    rows = (
        mrl_truncation_eval(spark, sf001_dir)
        .groupBy("dim")
        .agg(F.avg("recall_at_5").alias("r"))
        .orderBy("dim")
        .collect()
    )
    by_dim = {r["dim"]: r["r"] for r in rows}
    assert by_dim[64] == 1.0, by_dim
    means = [by_dim[d] for d in (8, 16, 32, 64)]
    # monotone-in-dim is empirical, not a theorem: allow one rank flip
    # (1/(5*|Q|) = 0.02) of slack so healthy data can't fail the gate
    assert all(a <= b + 0.02 + 1e-9 for a, b in zip(means, means[1:])), means


def test_countmin_never_underestimates(spark, sf001_dir):
    """countmin_heavy_hitters gate: a count-min estimate is a MINIMUM of
    bucket sums that each include the token's own count, so est >= exact
    always (Cormode & Muthukrishnan 2005, Thm 1). Also record that the
    overestimate stays small at this vocab/width ratio."""
    from wp_motor_spark.queries.text import countmin_heavy_hitters

    r = (
        countmin_heavy_hitters(spark, sf001_dir)
        .agg(
            F.min(F.col("cm_est") >= F.col("exact_cnt")).alias("all_ge"),
            F.avg("rel_overestimate").alias("mean_rel"),
        )
        .first()
    )
    assert r["all_ge"] is True
    assert r["mean_rel"] < 0.5, r["mean_rel"]


def test_weighted_sample_biases_toward_heavy_docs(spark, sf001_dir):
    """weighted_sample_aes gate: with weights = n_chars, the A-ES sample's
    mean length must exceed the corpus mean — the defining property of
    probability-proportional-to-size sampling (deterministic here: the
    md5 draw is seeded)."""
    from wp_motor_spark.queries.corpus import weighted_sample_aes

    samp = (
        weighted_sample_aes(spark, sf001_dir).agg(F.avg("n_chars")).first()[0]
    )
    corpus = (
        spark.read.parquet(f"{sf001_dir}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert samp > corpus, (samp, corpus)


def test_stupid_backoff_separates_held_out_docs(spark, sf001_dir):
    """stupid_backoff_ppl gate: the model trains on EVEN doc_ids, so the
    held-out odd docs must score a higher mean perplexity than the train
    docs (measured ~39 vs ~11 at sf0.001) — the distribution-shift
    signal the operator exists to produce."""
    from wp_motor_spark.queries.text import stupid_backoff_ppl

    rows = (
        stupid_backoff_ppl(spark, sf001_dir)
        .groupBy((F.col("doc_id") % 2 == 1).alias("held"))
        .agg(F.avg("sbo_ppl").alias("m"))
        .collect()
    )
    m = {bool(r["held"]): r["m"] for r in rows}
    assert m[True] > m[False], m


def test_heaps_beta_bounded(spark, sf001_dir):
    """heaps_law gate: every per-source beta must sit in [0, 1) — Heaps'
    law exponents above 1 would mean vocabulary growing faster than the
    corpus (impossible); the synthetic word-soup's tiny vocab saturates
    instantly, so betas near 0 are the expected value here."""
    from wp_motor_spark.queries.text import heaps_law

    rows = heaps_law(spark, sf001_dir).collect()
    assert rows, "no sources"
    # regr_slope returns NULL for a degenerate source (<2 lattice points
    # or zero ln-N variance) — that must read as a failure, not TypeError
    assert all(
        r["heaps_beta"] is not None and 0.0 <= r["heaps_beta"] < 1.0
        for r in rows
    ), sorted((r["heaps_beta"] is None, r["heaps_beta"]) for r in rows)


def test_semdedup_every_decision_re_verifiable(spark, sf001_dir, emb):
    """semdedup gates (Abbas et al. 2023): replay every keep/drop
    decision exactly — (a) each dropped vector's dup_of is a KEPT member
    of the SAME cluster with cosine > threshold that precedes it in the
    greedy order (centroid_sim asc, id asc); (b) no two kept vectors in
    one cluster exceed the threshold (the greedy invariant)."""
    from wp_motor_spark.operators import dedup as dd

    thr = 0.4
    out = {r["vec_id"]: r for r in dd.semdedup(emb, threshold=thr, n_cells=8).collect()}
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for v in vecs:
        n = np.linalg.norm(vecs[v])
        vecs[v] = vecs[v] / (n if n else 1.0)

    def order_key(vid):
        r = out[vid]
        return (r["centroid_sim"], vid)

    assert set(out) == set(vecs)
    dropped = [r for r in out.values() if not r["keep"]]
    assert dropped, "threshold 0.4 should drop something at sf0.001"
    for r in dropped:
        k = out[r["dup_of"]]
        assert k["keep"] and k["cluster"] == r["cluster"], r
        assert float(vecs[r["vec_id"]] @ vecs[r["dup_of"]]) > thr, r
        assert order_key(r["dup_of"]) < order_key(r["vec_id"]), r
    kept_by_cluster: dict = {}
    for r in out.values():
        if r["keep"]:
            kept_by_cluster.setdefault(r["cluster"], []).append(r["vec_id"])
    for ids in kept_by_cluster.values():
        M = np.vstack([vecs[i] for i in ids])
        G = M @ M.T
        np.fill_diagonal(G, 0.0)
        assert G.max() <= thr + 1e-12, G.max()


def test_cdc_chunking_edit_locality(spark, sf001_dir):
    """The defining CDC property (LBFS, Muthitacharoen et al. 2001):
    inserting one token re-chunks only the neighborhood of the edit —
    every chunk lying entirely outside the window-reach of the insertion
    point keeps its hash, unlike fixed-size blocking where one insert
    shifts every later block."""
    from wp_motor_spark.queries.dedup import cdc_chunking

    base = spark.read.parquet(f"{sf001_dir}/documents.parquet").where(
        "doc_id < 20"
    )
    edited = base.selectExpr(
        "doc_id",
        "lang",
        "source",
        # insert one token roughly mid-document
        "concat_ws(' ', concat(slice(split(text, ' '), 1, 15),"
        " array('INSERTED'),"
        " slice(split(text, ' '), 16, size(split(text, ' ')) - 15))) AS text",
        "n_chars + 9 AS n_chars",
    )
    with_tmp = lambda df: {  # noqa: E731
        (r["doc_id"], r["chunk_hash"]) for r in df.collect()
    }
    # chunk via the query fn against a temp parquet dir
    import tempfile

    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    base.write.mode("overwrite").parquet(f"{d1}/documents.parquet")
    edited.write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    c_base = cdc_chunking(spark, d1)
    c_edit = cdc_chunking(spark, d2)
    base_hashes = with_tmp(c_base)
    edit_hashes = with_tmp(c_edit)
    # per doc: the edited version must RETAIN more than half of the
    # original chunks (only the 1-2 chunks spanning the insertion plus
    # window-reach change); a fixed-size blocker would retain ~the prefix
    import collections

    per_doc_base = collections.defaultdict(set)
    per_doc_edit = collections.defaultdict(set)
    for d, h in base_hashes:
        per_doc_base[d].add(h)
    for d, h in edit_hashes:
        per_doc_edit[d].add(h)
    retained = [
        len(per_doc_base[d] & per_doc_edit[d]) / max(len(per_doc_base[d]), 1)
        for d in per_doc_base
    ]
    assert sum(r > 0.5 for r in retained) >= 0.8 * len(retained), retained


def test_stupid_backoff_scores_are_probability_like(spark, sf001_dir):
    """Every backoff level yields S in (0, 1] (c123 <= c12, 0.4*c23/c2
    <= 0.4, 0.16*c3/N <= 0.16), so sbo_ppl = exp(-mean ln S) >= 1 and
    finite for every document."""
    from wp_motor_spark.queries.text import stupid_backoff_ppl

    r = (
        stupid_backoff_ppl(spark, sf001_dir)
        .agg(
            F.min("sbo_ppl").alias("mn"),
            F.max(F.isnan("sbo_ppl").cast("int")).alias("nan"),
        )
        .first()
    )
    assert r["mn"] >= 1.0 and r["nan"] == 0, r


def test_pagerank_invariants_on_neardup_graph(spark, sf001_dir, emb):
    """PageRank gates: (a) ranks sum to 1 (dangling mass conserved);
    (b) every isolated node sits exactly at the converged dangling
    baseline (equal rank, minimum of the graph); (c) the max-degree hub
    outranks every degree-1 leaf; (d) deterministic across runs."""
    from wp_motor_spark.operators import dedup as dd
    from wp_motor_spark.operators.graph import pagerank

    # the query's actual edge source (cluster-bounded, not all-pairs)
    pairs = dd.cluster_neardup_pairs(emb, threshold=0.4, n_cells=8, n_probe=3)
    nodes = emb.select(F.col("vec_id").alias("id"))
    r1 = {r["id"]: (r["rank"], r["degree"]) for r in pagerank(nodes, pairs).collect()}
    r2 = {r["id"]: (r["rank"], r["degree"]) for r in pagerank(nodes, pairs).collect()}
    assert r1 == r2
    total = sum(v for v, _ in r1.values())
    # output ranks round to 8 dp: n_nodes * 5e-9 of rounding slack
    assert abs(total - 1.0) < 5e-9 * len(r1) + 1e-9, total
    isolated = {v for v, (rk, dg) in r1.items() if dg == 0}
    connected = {v for v, (rk, dg) in r1.items() if dg > 0}
    assert isolated and connected
    iso_ranks = {r1[v][0] for v in isolated}
    assert len(iso_ranks) == 1, iso_ranks
    assert min(r1[v][0] for v in connected) >= max(iso_ranks)
    hub = max(r1, key=lambda v: r1[v][1])
    for v, (rk, dg) in r1.items():
        if dg == 1:
            assert r1[hub][0] > rk, (hub, v)


def test_jl_rerank_recall_at_5(emb, exact_top5):
    """jl_projection_ann gate: JL shortlist-200 at 24 dims + exact
    rerank reaches recall@5 >= 0.8 vs full-dim brute force (measured
    1.0 on the worst-case random sf0.001 embeddings; raw projected-space
    top-5 alone measures ~0.16 — the shortlist+rerank tier is the
    honest JL design, not projected ranking)."""
    out = similarity.jl_rerank_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, out_dim=24, shortlist=200
    )
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    rec = _recall(got, exact_top5)
    print(f"\njl_rerank recall@5 = {rec:.3f}")
    assert rec >= 0.8, rec
    # determinism: the seeded projection gives identical results per run
    out2 = similarity.jl_rerank_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, out_dim=24, shortlist=200
    )
    assert {(r.query_id, r.neighbor_id) for r in out2.collect()} == got


def test_cluster_pairs_recall_vs_exact(emb):
    """cluster_neardup_pairs gate (the minhash_lsh_dups pattern): the
    bucketed generator must be a SUBSET of the exact all-pairs GEMM
    (no false pairs — within-cell cosines are exact) with recall >= 0.9
    at the neardup_pagerank parameters (measured 0.97 at sf0.001 on
    worst-case random embeddings; n_probe=4 reaches 1.0)."""
    from wp_motor_spark.operators import dedup as dd

    exact = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in dd.cluster_neardup_pairs(
            emb, threshold=0.4, n_cells=8, n_probe=3
        ).collect()
    }
    assert bucketed <= exact, bucketed - exact
    recall = len(exact & bucketed) / max(1, len(exact))
    print(f"\ncluster_neardup_pairs recall = {recall:.3f} over {len(exact)}")
    assert recall >= 0.9, recall


def test_semantic_dedup_keep_superset_of_exact(emb):
    """semantic_dedup_keep gate (rows-only since r12 — the query rides
    cluster_neardup_pairs instead of the all-pairs GEMM): because the
    bucketed pairs are a SUBSET of the exact pairs, connected components
    can only be finer, so the kept set must be a SUPERSET of the exact
    kept set; the extra kept fraction is bounded by the pair-recall gate
    (<= 1% of the corpus at these parameters)."""
    from wp_motor_spark.operators import dedup as dd

    def kept(pairs):
        comp = dd.connected_components(pairs)
        dropped = comp.where(F.col("comp") != F.col("id")).select(
            F.col("id").alias("vec_id")
        )
        return {
            r.vec_id
            for r in emb.join(dropped, "vec_id", "left_anti")
            .select("vec_id")
            .collect()
        }

    kept_exact = kept(dd.embedding_neardup_pairs(emb, threshold=0.4))
    kept_bucketed = kept(
        dd.cluster_neardup_pairs(emb, threshold=0.4, n_cells=8, n_probe=3)
    )
    assert kept_exact <= kept_bucketed, kept_exact - kept_bucketed
    extra = len(kept_bucketed - kept_exact)
    n = emb.count()
    print(f"\nsemantic_dedup_keep extra-kept = {extra}/{n}")
    assert extra <= max(1, n // 100), (extra, n)


def test_cdc_chunking_short_docs_single_chunk(spark, tmp_path):
    """Docs with fewer tokens than the hash window (5) must yield exactly
    one whole-doc chunk, matching the DuckDB oracle — regression for the
    descending-sequence crash (Spark sequence(5, n) DESCENDS for n < 5
    and slice(a, 0, 5) threw at i=4)."""
    import duckdb

    import __spark_entry__ as entry_mod
    from wp_motor_spark.queries.dedup import cdc_chunking

    d = str(tmp_path)
    rows = [
        (0, "a b c", "en", "s", 5),
        (1, "one two three four", "en", "s", 18),
        (2, "x", "en", "s", 1),
        (3, "alpha beta gamma delta eps zeta", "en", "s", 31),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_hash"])
        for r in cdc_chunking(spark, d).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.sql(entry_mod.oracle_sql()["cdc_chunking"]).fetchall()
    )
    assert got == want
    assert all(idx == 1 for (doc, idx, n, h) in got if doc in (0, 1, 2))


def test_ewma_batch_exact_recurrence(spark, sf001_dir):
    """ewma_anomaly_batch gate (rows-only — DuckDB 1.0.0 reduce()
    mis-evaluates struct accumulators, so no SQL oracle): the
    applyInPandas linear fold must agree EXACTLY with a driver-side
    python recompute of the Hunter EWMA recurrence, the same discipline
    as the streaming gate."""
    from wp_motor_spark.queries.timeseries import ewma_anomaly_batch

    got = {
        (r.event_type, str(r.ts), r.value, r.ewma_mean, r.z)
        for r in ewma_anomaly_batch(spark, sf001_dir).collect()
    }
    ev = (
        spark.read.parquet(f"{sf001_dir}/events.parquet")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    want = set()
    by_key: dict = {}
    for r in sorted(ev, key=lambda r: (r.event_type, r.ts, r.event_id)):
        by_key.setdefault(r.event_type, []).append(r)
    for key, rows in by_key.items():
        n, mean, var = 0, 0.0, 0.0
        for r in rows:
            v = float(r.value)
            if n >= 10 and var > 0:
                z = (v - mean) / var**0.5
                if abs(z) > 2.0:
                    want.add((key, str(r.ts), v, round(mean, 6), round(z, 4)))
            if n == 0:
                mean, var = v, 0.0
            else:
                d = v - mean
                mean += 0.1 * d
                var = 0.9 * (var + 0.1 * d * d)
            n += 1
    assert got == want


def test_embedding_whiten_identity_covariance(emb):
    """embedding_whiten gate (rows-only — LAPACK eig is engine-specific):
    the defining property, cov(whitened) == I within tolerance (eps=1e-5
    regularization shifts eigenvalues slightly below 1)."""
    from wp_motor_spark.operators.embed import zca_whiten

    X = np.vstack(
        [np.asarray(r.white) for r in zca_whiten(emb, dim=64).collect()]
    )
    cov = np.cov(X, rowvar=False)
    assert np.abs(cov - np.eye(64)).max() < 1e-3, np.abs(cov - np.eye(64)).max()


def test_coverage_select_matches_exact_greedy(spark, sf001_dir, docs):
    """coverage_select gate (rows-only — iterative): the distributed
    greedy must reproduce the EXACT python greedy sequence (gain-desc,
    doc_id-asc tiebreak) over the same bigram sets."""
    from wp_motor_spark.operators.curate import coverage_select_greedy

    got = [
        (r.rank, r.doc_id, r.gain)
        for r in coverage_select_greedy(docs, k=5, ngram=2)
        .orderBy("rank")
        .collect()
    ]
    rows = spark.read.parquet(f"{sf001_dir}/documents.parquet").collect()
    sets = {}
    for r in rows:
        w = [t for t in r.text.lower().strip().split() if t]
        if len(w) >= 2:
            grams = {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}
        else:
            grams = {" ".join(w)} if w else set()
        grams.discard("")
        if grams:
            sets[r.doc_id] = grams
    covered: set = set()
    want = []
    picked: set = set()
    for rank in range(1, 6):
        best = max(
            ((len(g - covered), -d) for d, g in sets.items() if d not in picked),
            default=None,
        )
        if best is None or best[0] == 0:
            break
        gain, negd = best
        want.append((rank, -negd, gain))
        picked.add(-negd)
        covered |= sets[-negd]
    assert got == want, (got, want)


def test_kcenter_select_matches_exact_greedy(spark, sf001_dir, emb):
    """kcenter_select gate (rows-only — iterative): the distributed
    farthest-point greedy must reproduce the EXACT python sequence
    (max-norm seed, dist-desc / id-asc tiebreak, euclidean)."""
    import numpy as np

    from wp_motor_spark.operators.similarity import kcenter_greedy

    got = [
        (r.rank, r.id, r.dist)
        for r in kcenter_greedy(emb, k=8).orderBy("rank").collect()
    ]
    rows = spark.read.parquet(f"{sf001_dir}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    norms = (V * V).sum(1)
    order = sorted(range(len(ids)), key=lambda i: (-norms[i], ids[i]))
    seed = order[0]
    want = [(1, int(ids[seed]), 0.0)]
    active = np.ones(len(ids), bool)
    active[seed] = False
    mind = np.sqrt(((V - V[seed]) ** 2).sum(1))
    for rank in range(2, 9):
        cand = sorted(
            (-mind[i], ids[i], i) for i in range(len(ids)) if active[i]
        )
        _, _, j = cand[0]
        want.append((rank, int(ids[j]), round(float(mind[j]), 6)))
        active[j] = False
        mind = np.minimum(mind, np.sqrt(((V - V[j]) ** 2).sum(1)))
    assert got == want


def _python_bursts(sf_dir):
    import datetime
    import math
    from collections import defaultdict

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"select event_type, ts, event_id from read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    byk = defaultdict(list)
    d10 = datetime.datetime(2024, 1, 10)
    d15 = datetime.datetime(2024, 1, 15)
    for et, ts, eid in rows:
        if d10 <= ts < d15:
            us = int((ts - d10) / datetime.timedelta(microseconds=1))
            ts = d10 + datetime.timedelta(microseconds=us // 20)
        byk[et].append((ts, eid))
    s_mult, gamma = 4.0, 1.0
    want = []
    for et in sorted(byk):
        xs = sorted(byk[et])
        g = [(xs[i][0] - xs[i - 1][0]).total_seconds() for i in range(1, len(xs))]
        if not g:
            continue
        mg = sum(g) / len(g)
        tr = gamma * math.log(len(g))
        c0, c1, bk = 0.0, float("inf"), []
        for x in g:
            n0 = min(c0, c1) + (x / mg) - math.log(1.0 / mg)
            n1 = min(c0 + tr, c1) + (s_mult * x / mg) - math.log(s_mult / mg)
            bk.append((c0 <= c1, c1 <= c0 + tr))
            c0, c1 = n0, n1
        inb = c1 < c0
        states = []
        for p0, p1 in reversed(bk):
            states.append(inb)
            inb = p1 if inb else (not p0)
        states.reverse()
        i = 0
        while i < len(states):
            if states[i]:
                j = i
                while j + 1 < len(states) and states[j + 1]:
                    j += 1
                want.append((et, str(xs[i][0]), str(xs[j + 1][0]), j - i + 2))
                i = j + 1
            i += 1
    want.sort(key=lambda t: (t[0], t[1]))
    return want


def test_burst_detection_matches_exact_viterbi(spark, sf001_dir):
    """burst_detection gate (rows-only — sequential Viterbi): the HOF
    fold + backtrack must reproduce the EXACT python two-state Kleinberg
    Viterbi over the same deterministically-compressed stream, and the
    bursts must land at the embedded day-10 block."""
    from wp_motor_spark.queries.timeseries import burst_detection

    got = [
        (r.event_type, str(r.burst_start), str(r.burst_end), r.n_events)
        for r in burst_detection(spark, sf001_dir).collect()
    ]
    want = _python_bursts(sf001_dir)
    assert got == want
    assert len(got) >= 5
    assert sum(1 for b in got if b[1][:7] == "2024-01") == len(got)


def _python_bpe_merges(sf_dir, n_merges=8):
    """Exact greedy BPE recompute: word-freq table from whitespace-lower
    tokens, n rounds of (argmax adjacent pair by freq, ties count desc /
    left asc / right asc) + greedy left-to-right non-overlap merge."""
    import re
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"select text from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    wf: Counter = Counter()
    for (t,) in rows:
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                wf[w] += 1
    words = [(list(w), f) for w, f in wf.items()]
    merges = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for sym, f in words:
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += f
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, int(c)))
        nxt = []
        for sym, f in words:
            out = []
            for s in sym:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            nxt.append((out, f))
        words = nxt
    return merges


def test_bpe_train_merges_matches_python(spark, sf001_dir):
    """bpe_train_merges gate (rows-only — iterative): the distributed
    8-round merge learning must reproduce the EXACT python greedy BPE
    sequence (ranks, pairs, and weighted pair counts)."""
    from wp_motor_spark.queries.corpus import bpe_train_merges

    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in bpe_train_merges(spark, sf001_dir).collect()
    ]
    want = _python_bpe_merges(sf001_dir)
    assert got == want
    assert len(got) == 8


def _python_mmr(sf_dir, lam=0.7, K=20, TOP=10):
    """Exact MMR recompute replicating the Spark op's float semantics:
    cosine via the SAME left-to-right fold order (math.fsum-free plain
    accumulation over float32-cast-to-double pairs), candidates = exact
    top-20 (raw score desc, id asc), greedy argmax with min-id ties."""
    import math

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"select vec_id, embedding from read_parquet('{sf_dir}/embeddings.parquet')"
        " order by vec_id"
    ).fetchall()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    want = []
    for qid in range(5):
        qv = vecs[qid]
        scored = sorted(
            ((cos(qv, v), -i) for i, v in vecs.items() if i != qid),
            key=lambda t: (-t[0], -t[1]),
        )[:K]
        cands = [-i for (_s, i) in scored]
        simq = {c: s for (s, ni), c in zip(scored, cands)}
        s_ab = {
            (a, b): cos(vecs[a], vecs[b]) for a in cands for b in cands
        }
        picked = []
        avail = set(cands)
        for rank in range(1, min(TOP, len(cands)) + 1):
            best, best_m = None, None
            for c in sorted(avail):
                div = max((s_ab[(c, p)] for p in picked), default=0.0)
                m = lam * simq[c] - (1 - lam) * div
                if best_m is None or m > best_m:
                    best, best_m = c, m
            want.append((qid, rank, best))
            picked.append(best)
            avail.discard(best)
    return want


def test_mmr_rerank_matches_python(spark, sf001_dir):
    """mmr_rerank gate (rows-only — iterative greedy): the distributed
    pick sequence (query, rank, vec_id) must equal the exact python
    MMR recompute over the same top-20 candidate sets."""
    from wp_motor_spark.queries.retrieval import mmr_rerank

    got = [
        (r.query_id, r.rank, r.vec_id)
        for r in mmr_rerank(spark, sf001_dir).collect()
    ]
    want = _python_mmr(sf001_dir)
    assert got == want
    assert len(got) == 50


def _python_bradley_terry(sf_dir):
    """Exact duel-minting + MM recompute: top-5 vs bottom-5 per
    (lang, 200-char bucket) by chars/ws-token score (doc_id tie-break),
    cross-source wins + 0.5 pseudo-wins, 100 MM rounds normalized to
    mean 1."""
    import re
    from collections import defaultdict

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "select lang, n_chars, doc_id, source, text from "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    groups = defaultdict(list)
    allsrc = set()
    for lang, n_chars, doc_id, source, txt in rows:
        allsrc.add(source)
        t = txt.strip()
        toks = len(re.split(r"\s+", t)) if t else 0
        score = float(n_chars) / max(toks, 1)
        groups[(lang, (n_chars // 200) * 200)].append((score, doc_id, source))
    wins = defaultdict(int)
    for g in groups.values():
        top = sorted(g, key=lambda r: (-r[0], -r[1]))[:5]
        bot = sorted(g, key=lambda r: (r[0], r[1]))[:5]
        for ws, _, wsrc in top:
            for ls, _, lsrc in bot:
                if wsrc != lsrc and ws > ls:
                    wins[(wsrc, lsrc)] += 1
    sources = sorted(allsrc | {w for w, _ in wins} | {l for _, l in wins})
    n_ij = {
        (i, j): wins.get((i, j), 0) + 0.5
        for i in sources
        for j in sources
        if i != j
    }
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
    order = sorted(sources, key=lambda s: (-p[s], s))
    rank = {s: i + 1 for i, s in enumerate(order)}
    return sorted(
        (
            s,
            round(p[s], 6),
            sum(wins.get((s, j), 0) for j in sources),
            sum(wins.get((j, s), 0) for j in sources),
            rank[s],
        )
        for s in sources
    )


def test_bradley_terry_matches_exact_mm(spark, sf001_dir):
    """bradley_terry gate (rows-only — iterative MM fit): the Spark op
    (bounded duel minting + driver-side MM over the |sources|^2 wins
    matrix) must reproduce the EXACT python recompute: same duels, same
    pseudo-count smoothing, same 100-round MM trajectory, same ranks."""
    from wp_motor_spark.queries.stats import bradley_terry

    got = sorted(
        (r.source, r.bt_strength, r.wins, r.losses, r.rank)
        for r in bradley_terry(spark, sf001_dir).collect()
    )
    want = _python_bradley_terry(sf001_dir)
    assert got == want
    assert len(got) >= 5


def _python_isotonic(sf_dir):
    """Exact PAVA recompute over the 100-bin (value -> purchase) table."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH bounds AS (
          SELECT MIN(value) AS vmin, MAX(value) AS vmax
          FROM read_parquet('{sf_dir}/events.parquet')
        )
        SELECT LEAST(99, CAST(FLOOR((value - vmin) / (vmax - vmin) * 100.0)
                              AS BIGINT)) AS bin,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM read_parquet('{sf_dir}/events.parquet'), bounds
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    blocks = []
    for b, n, k in rows:
        blocks.append([float(k), float(n), [int(b)]])
        while (
            len(blocks) > 1
            and blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            k2, n2, b2 = blocks.pop()
            blocks[-1][0] += k2
            blocks[-1][1] += n2
            blocks[-1][2].extend(b2)
    raw = {int(b): (int(k), int(n)) for b, n, k in rows}
    out = []
    for k, n, bins in blocks:
        fit = round(k / n, 6) if n else 0.0
        for b in bins:
            rk, rn = raw[b]
            out.append((b, rn, round(rk / rn, 6) if rn else 0.0, fit))
    return sorted(out)


def test_isotonic_calibration_matches_exact_pava(spark, sf001_dir):
    """isotonic_calibration gate (rows-only — sequential pooling): the
    driver-side PAVA over the bounded bin table must reproduce the
    exact python recompute, and the fitted rates must be MONOTONE
    nondecreasing in the bin (the defining property)."""
    from wp_motor_spark.queries.stats import isotonic_calibration

    got = sorted(
        (r.bin, r.n, r.raw_rate, r.isotonic_rate)
        for r in isotonic_calibration(spark, sf001_dir).collect()
    )
    want = _python_isotonic(sf001_dir)
    assert got == want
    fits = [f for (_b, _n, _r, f) in got]
    assert all(a <= b + 1e-12 for a, b in zip(fits, fits[1:]))
    assert len(got) >= 50
