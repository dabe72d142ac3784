"""Dedup operator family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Planted near-duplicates with hand-computed expected Jaccard values, so
these guard the algorithms themselves (the driver oracle for minhash and
simhash is rows-only — the hash families are engine-specific).
"""

import re

import pytest
from pyspark.sql import functions as F

from wp_motor_spark.operators import dedup

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog again and again today"),
    (2, "The quick brown fox leaps over the lazy dog again and again today"),
    (3, "the  QUICK brown fox jumps over the lazy dog again and again today"),
    (4, "completely unrelated content about spark shuffles and parquet files"),
    (5, ""),
]


def _norm(s):
    return re.sub(r"\s+", " ", s.lower()).strip()


def _sh(s, n=3):
    w = _norm(s).split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _jac(a, b):
    sa, sb = _sh(a), _sh(b)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_normalized(spark, docs):
    # 3 is a whitespace/case variant of 1 -> lowest id (1) wins
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 2, 4, 5]


def test_ngram_jaccard_exact_values(spark, docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 3)] == pytest.approx(1.0)
    assert out[(1, 2)] == pytest.approx(_jac(DOCS[0][1], DOCS[1][1]))


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    # identical pair must collide in every band; verified jaccard is exact
    assert (1, 3) in out and out[(1, 3)] == pytest.approx(1.0)
    # one-word-substitution pair: high jaccard, expect banding to catch it
    assert (1, 2) in out
    assert out[(1, 2)] == pytest.approx(_jac(DOCS[0][1], DOCS[1][1]))
    # no cross pairs with the unrelated or empty doc
    assert all(4 not in p and 5 not in p for p in out)


def test_minhash_signature_deterministic(spark, docs):
    sig = docs.select(
        "doc_id",
        dedup.minhash_signature(
            dedup.shingle_hashes(F.col("text"), 3), num_hashes=16
        ).alias("sig"),
    )
    rows = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert all(len(s) == 16 for s in rows.values())
    rows2 = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert rows == rows2  # deterministic across runs
    # identical normalized texts -> identical signatures
    assert rows[1] == rows[3]
    # signatures of near-dups agree on most permutations (J ~ 0.77)
    agree = sum(a == b for a, b in zip(rows[1], rows[2]))
    assert agree >= 8
    # empty doc hashes its single empty shingle -> valid signature that
    # collides only with other empty docs, never with real content
    assert rows[5] != rows[4] and rows[5] != rows[1]


def test_simhash_finds_identical_pair(spark, docs):
    out = {(r["id_a"], r["id_b"]) for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert (1, 3) in out
    assert all(4 not in p and 5 not in p for p in out)


def test_contamination_overlap_counts(spark):
    from wp_motor_spark.operators import dedup

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # shares 4 grams with bench (window of 6 words -> grams
            # "alpha beta gamma".."delta epsilon zeta")
            (10, "alpha beta gamma delta epsilon zeta eta"),
            # shares exactly 1 gram
            (11, "alpha beta gamma completely different words here"),
            # shares nothing
            (12, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["shared_grams"]
        for r in dedup.contamination_overlap(
            corpus, bench, n=3, min_shared=2
        ).collect()
    }
    assert got == {10: 4}


def test_span_duplicates_flags_shared_windows(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # an 8-token span shared verbatim
    docs = [
        (1, shared + " xa xb xc"),
        (2, "ya yb " + shared),
        (3, "za zb zc zd ze zf zg zh zi"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.span_duplicates(df, span=8).collect()}
    # doc1: 11 tokens -> 4 spans, only the leading one is shared
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0
    # shorter than the span width -> zero spans, still present in output
    assert out[4]["n_spans"] == 0 and out[4]["n_dup_spans"] == 0
    assert abs(out[1]["dup_frac"] - 0.25) < 1e-9


def test_remove_duplicate_spans_cuts_covered_tokens(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = [
        (1, shared + " xa xb xc"),
        (2, "ya yb " + shared),
        (3, "za zb zc zd ze zf zg zh zi"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(df, span=8).collect()}
    # doc1: the 8 shared tokens go, the 3 unique survive
    assert out[1]["clean_text"] == "xa xb xc" and out[1]["n_removed"] == 8
    assert out[2]["clean_text"] == "ya yb" and out[2]["n_removed"] == 8
    # untouched docs come back whole
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"].startswith("za zb")
    assert out[4]["clean_text"] == "short doc" and out[4]["n_removed"] == 0


def test_remove_duplicate_spans_overlapping_coverage(spark):
    # 10-token doc sharing its FULL text with another doc -> three
    # overlapping dup windows cover every token -> empty clean_text
    t = "a b c d e f g h i j"
    df = spark.createDataFrame([(1, t), (2, t + " tail1 tail2")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(df, span=8).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 10
    # doc2: dup windows are those fully inside the shared prefix
    # (starts 1..3); tokens 1..10 covered, the 2-token tail survives
    assert out[2]["clean_text"] == "tail1 tail2" and out[2]["n_removed"] == 10


def test_prefix_containment_short_doc_bucket_fix(spark, tmp_path):
    """r11 judge finding: a doc SHORTER than the 4-char bucket key never
    met its container ("ab" bucketed as "ab", container "abcdef" as
    "abcd"). The short-doc broadcast pass must flag it with the minimal
    (text, doc_id) container — and the Spark result must match the
    DuckDB oracle executing the query's oracle SQL on the same parquet."""
    import duckdb

    import __spark_entry__ as entry_mod
    from wp_motor_spark.queries.dedup import prefix_containment_dedup

    rows = [
        (1, "web", "ab"),            # short doc, contained in 4 and 6
        (2, "web", "zz"),            # short doc, no container
        (3, "web", "ab"),            # duplicate short doc (chains to 1's twin)
        (4, "web", "abcdef"),        # container of "ab" (minimal t)
        (5, "web", "abcdefgh"),      # doc 4 is its prefix (long path)
        (6, "web", "abxx"),          # another container of "ab"
        (7, "web", "unrelated text"),
        (8, "web", ""),              # empty text: prefix of everything
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    pq = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(pq)

    got = {
        (r.doc_id, r.contained_in, r.len, r.container_len)
        for r in prefix_containment_dedup(spark, str(tmp_path)).collect()
    }
    # doc 1 ("ab", id 1): candidates ordered by (t, id): ("ab",3) first
    assert (1, 3, 2, 2) in got
    # doc 3 ("ab", id 3): minimal container after it is ("abcdef", 4)
    assert (3, 4, 2, 6) in got
    # doc 8 (""): prefix of everything; minimal (t, id) after ("",8) is ("ab",1)
    assert (8, 1, 0, 2) in got
    # doc 4 via the long-doc window path: "abcdef" prefixes "abcdefgh"
    assert (4, 5, 6, 8) in got
    # doc 2 has no container; docs 5/6/7 contain nothing
    assert {t[0] for t in got} == {1, 3, 4, 8}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = {tuple(r) for r in con.execute(
        "SELECT doc_id, contained_in, len, container_len FROM ("
        + entry_mod.oracle_sql()["prefix_containment_dedup"] + ")"
    ).fetchall()}
    assert got == oracle
