"""Dedup operator tests over small controlled corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the red river bank"),  # near dup
        (4, "completely different content about spark dataframes and shuffles here"),
        (5, "another unrelated document discussing window functions and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, corpus):
    out = exact_dedup(corpus).collect()
    groups = {r["keep_id"]: r["group_size"] for r in out}
    assert groups[1] == 2  # docs 1+2 merged
    assert 2 not in groups
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1


def test_minhash_signature_shape(spark, corpus):
    sig = minhash_signatures(corpus, n_hashes=8)
    assert sig.count() == 5 * 8
    # identical docs → identical signatures
    s1 = {r["seed"]: r["minhash"] for r in sig.filter("doc = 1").collect()}
    s2 = {r["seed"]: r["minhash"] for r in sig.filter("doc = 2").collect()}
    assert s1 == s2


def test_minhash_lsh_finds_near_dups(spark, corpus):
    # 1 row per band → per-band collision prob equals the Jaccard itself,
    # so a ~0.6-Jaccard pair reliably collides in ≥1 of 16 bands
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(corpus, n_hashes=16, bands=16).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup: some band agrees
    assert (4, 5) not in pairs


def test_ngram_jaccard_exact_values(spark, corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(corpus, threshold=0.3).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (4, 5) not in pairs


def test_simhash_properties(spark, corpus):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(corpus, bits=16).collect()}
    assert sh[1] == sh[2]  # identical text → identical fingerprint
    assert all(0 <= v < (1 << 16) for v in sh.values())
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    ham_14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated


def test_simhash_near_pairs(spark, corpus):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             simhash_near_pairs(corpus, bits=16, max_hamming=3).collect()}
    assert (1, 2) in pairs
    assert (4, 5) not in pairs


def test_simhash_near_pairs_wide_fingerprint(spark, corpus):
    """The scale config (wide fingerprint → roomy band buckets) must find
    the same near-dup pair and never miss any ≤max_hamming pair the
    brute-force check finds (pigeonhole guarantee holds at any width)."""
    from gemini_ocr_batch_spark.operators.dedup import simhash

    bits, mh = 48, 3
    got = {(r["doc_a"], r["doc_b"]) for r in
           simhash_near_pairs(corpus, bits=bits, max_hamming=mh).collect()}
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash(corpus, bits=bits).collect()}
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= mh
    }
    assert got == want
    assert (1, 2) in got  # the engineered near-dup survives at 48 bits


def test_dedup_on_real_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = exact_dedup(docs)
    assert out.count() <= docs.count()
    assert out.agg(F.sum("group_size")).collect()[0][0] == docs.count()


# ---------------------------------------------------------------------------
# connected components / keep-list (round 3)
# ---------------------------------------------------------------------------


def _uf_components(pairs):
    """Independent pure-Python union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    from gemini_ocr_batch_spark.operators.dedup import connected_components

    # chain (diameter stress), triangle, star, isolated pair
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),        # chain 1-5
             (10, 11), (11, 12), (10, 12),          # triangle
             (20, 21), (20, 22), (20, 23),          # star
             (30, 31)]                               # pair
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _uf_components(pairs)


def test_connected_components_job_budget(spark):
    """Each round is one join + one aggregation whose changed-label count
    is observed inside the checkpoint action that materializes it, and
    the first round is folded into the initial labels.  Measured on this
    fixture (chain 1-5, triangle, star, pair; 4 rounds): 23 jobs per
    call; the join + aggregate + join round with a separate count action
    ran 50.  AQE submits each query stage as its own job, so the count
    is of jobs, not rounds."""
    from gemini_ocr_batch_spark.operators.dedup import connected_components

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (11, 12), (10, 12),
             (20, 21), (20, 22), (20, 23),
             (30, 31)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = "test_connected_components_job_budget"
    sc.setJobGroup(group, group)
    try:
        got = {
            r["doc"]: r["component"]
            for r in connected_components(df).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _uf_components(pairs)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 23


def test_connected_components_max_iter_bounds_rounds(spark):
    """``max_iter`` bounds the propagation rounds after the folded first
    one: a 12-vertex chain (diameter 11) cannot settle in 3, while a
    single pair is settled by its initial labels and only needs the one
    confirming round."""
    from gemini_ocr_batch_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components(chain, max_iter=3)
    pair = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    got = {
        r["doc"]: r["component"]
        for r in connected_components(pair, max_iter=1).collect()
    }
    assert got == {3: 3, 7: 3}


def test_connected_components_empty_pairs(spark):
    """No pairs: the observed changed-count of an empty round must still
    arrive (a missing one would block), and the result is empty."""
    from gemini_ocr_batch_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).collect() == []


def test_connected_components_leave_session_usable_for_ml(spark):
    """Regression: reading the round's changed-count through a
    ``pyspark.sql.Observation`` left an unserializable ObservationManager
    on the session, and every later Spark ML model holding a training
    summary then failed to serialize in ``transform``."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    from gemini_ocr_batch_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    assert len(connected_components(pairs).collect()) == 3
    train = spark.createDataFrame(
        [(float(i % 2), Vectors.dense([float(i % 2), 1.0])) for i in range(8)],
        ["label", "features"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert len(model.transform(train).collect()) == 8


def test_connected_components_string_ids(spark):
    """Regression (r4 ADVICE): string doc ids. The old decimal-sum
    fixpoint cast string ids to NULL, so the sum was None every round and
    the loop exited after ONE propagation — wrong for any diameter>1
    graph. The changed-row fixpoint must converge the full chain."""
    from gemini_ocr_batch_spark.operators.dedup import connected_components

    # chain a-b-c-d-e (diameter 4: needs >1 round), plus a separate pair
    pairs = [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), ("y", "x")]
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    got = {
        r["doc"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _uf_components(pairs)
    assert got["e"] == "a"  # the label must travel the whole chain


def test_connected_components_on_lsh_pairs(spark, sf_dir):
    """End-to-end over real minhash pairs at sf0.001: the Spark components
    equal union-find over the same pair list."""
    from gemini_ocr_batch_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs_df = minhash_lsh_pairs(docs)
    pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
    if not pairs:  # corpus produced no near-dups; nothing to cluster
        return
    got = {
        r["doc"]: r["component"]
        for r in connected_components(pairs_df).collect()
    }
    assert got == _uf_components(pairs)


def test_near_dedup_keep_list(spark, sf_dir):
    from gemini_ocr_batch_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dedup_keep_list,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = near_dedup_keep_list(docs).collect()
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs).collect()
    ]
    comp = _uf_components(pairs)
    assert {r["doc_id"] for r in rows} == set(comp)
    # exactly one kept representative per component, and it is the min id
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for c, members in by_comp.items():
        kept = [r["doc_id"] for r in members if r["keep"]]
        assert kept == [min(r["doc_id"] for r in members)] == [c]


def test_shingles_linear_in_document_length(spark):
    """r4 scale bug, pinned: the old shingles construction —
    transform(sequence(1, len), i -> slice(tokens, i, n)) — captured the
    token-split expression inside the lambda, and Spark re-evaluates a
    captured outer expression PER ELEMENT: O(len²) per document
    (measured 28 s for a single 16k-token page; it froze the curate verb
    on real extracted pages). The zip_with construction evaluates its
    array operands once. Scaling pin: 4× tokens must cost well under the
    ~16× a quadratic would show."""
    import time

    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.functions.hashing import shingles, tokens

    def timed(ntok):
        text = " ".join(f"w{i % 97}" for i in range(ntok))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = df.select(
                F.size(shingles(tokens("text"), 3)).alias("n")
            ).collect()[0]["n"]
            best = min(best, time.perf_counter() - t0)
        assert n == ntok - 2
        return best

    timed(2000)  # warm-up
    t1 = timed(8000)
    t2 = timed(32000)
    assert t2 <= 8 * t1 + 0.25, f"superlinear shingles: {t1:.3f}s -> {t2:.3f}s"


def test_repeated_spans_planted_cross_doc(spark):
    """Substring dedup (r6): a 10-token paragraph planted in two docs
    must surface as one maximal span per doc (3 consecutive 8-gram hits
    -> 10 covered tokens); the unrelated doc stays clean."""
    from gemini_ocr_batch_spark.operators.dedup import repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "unique opening words here today " + shared + " tail one"),
        (2, "different start tokens right now " + shared + " other end"),
        (3, "totally unrelated content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_spans(df, k=8).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    for doc in (1, 2):
        (span,) = by_doc[doc]
        assert span["n_grams"] == 3 and span["span_tokens"] == 10
    # doc 1: shared starts at token 5 (0-based) — the span start is the
    # first gram fully inside the shared region
    assert by_doc[1][0]["start_pos"] == 5

    # max_df: a cap below the span's document frequency silences it
    assert repeated_spans(df, k=8, max_df=1).count() == 0
    # min_run: spans shorter than the run floor are dropped
    assert repeated_spans(df, k=8, min_run=4).count() == 0
    assert repeated_spans(df, k=8, min_run=3).count() == 2


def test_repeated_spans_multiple_spans_per_doc(spark):
    """Two separated shared regions in one doc must come back as two
    spans, not one merged run."""
    from gemini_ocr_batch_spark.operators.dedup import repeated_spans

    s1 = "one two three four five six seven eight"          # 8 tokens
    s2 = "red orange yellow green blue indigo violet mauve"  # 8 tokens
    rows = [
        (1, s1 + " ax bx cx dx ex fx gx hx ix " + s2),
        (2, "p q r s t u v w " + s1),
        (3, s2 + " m n o pp qq rr ss tt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc_id"], r["start_pos"]): (r["n_grams"], r["span_tokens"])
        for r in repeated_spans(df, k=8).collect()
    }
    # doc 1 has both shared regions: s1 at 0, s2 at 17 (8 + 9 fillers)
    assert spans[(1, 0)] == (1, 8) and spans[(1, 17)] == (1, 8)
    assert spans[(2, 8)] == (1, 8)
    assert spans[(3, 0)] == (1, 8)
    assert len(spans) == 4


def test_excise_spans_removes_planted_spans(spark):
    """excise_spans: the action half of repeated_spans — flagged token
    ranges are removed, untouched docs pass through, case preserved."""
    from gemini_ocr_batch_spark.operators.dedup import (
        excise_spans,
        repeated_spans,
    )

    shared = "Alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "Unique opening words here today " + shared + " tail one"),
        (2, "Different start tokens right now " + shared + " other end"),
        (3, "Totally unrelated content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_spans(df, k=8)
    # keep-first policy: excise the span everywhere but the min doc
    to_cut = spans.filter("doc_id <> 1")
    got = {r["doc_id"]: r for r in excise_spans(df, to_cut).collect()}
    assert got[1]["text_excised"] == rows[0][1]       # untouched, case kept
    assert got[1]["n_excised"] == 0
    assert got[2]["n_excised"] == 10
    assert got[2]["text_excised"] == (
        "Different start tokens right now other end"
    )
    assert got[3]["n_excised"] == 0 and got[3]["text_excised"] == rows[2][1]


def test_excise_spans_multiple_and_overlapping(spark):
    from gemini_ocr_batch_spark.operators.dedup import excise_spans

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 1, 2), (1, 2, 3), (1, 8, 2)],   # overlapping 1-4, plus 8-9
        "doc_id long, start_pos int, span_tokens long",
    )
    (row,) = excise_spans(df, spans).collect()
    assert row["text_excised"] == "t0 t5 t6 t7"
    assert row["n_tokens"] == 10 and row["n_excised"] == 6
