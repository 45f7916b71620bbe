"""connected_components: exactness on adversarial shapes (long chains,
which need O(diameter) rounds without pointer-jumping) and the
non-convergence guard; LSH bucket guards; and the NumPy text kernels
(MinHash, SimHash, shingle bands) against a per-row Python reference."""

import pytest

from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
    connected_components)


def _clusters(rows):
    out = {}
    for r in rows:
        out.setdefault(r.cluster_id, set()).add(r.id)
    return sorted(out.values(), key=sorted)


def test_long_chain_converges_fast(spark):
    """A 50-hop path component: min-label propagation alone needs ~50
    rounds; pointer-jumping must close it within max_iterations=10."""
    n = 50
    vertices = spark.createDataFrame([(i,) for i in range(n + 3)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "u long, v long")
    got = _clusters(connected_components(vertices, edges,
                                         max_iterations=10).collect())
    assert got == [set(range(n + 1)), {n + 1}, {n + 2}]


def test_disjoint_components_and_singletons(spark):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "u long, v long")
    got = _clusters(connected_components(vertices, edges).collect())
    assert got == [{0}, {1, 2, 3}, {4}, {5, 6}, {7}]


def test_edge_to_absent_vertex_labels_component(spark):
    """Broken precondition (an edge endpoint that is not a vertex): the
    absent id 0 still labels its component, so vertex 2 clusters to a
    non-vertex id, vertex 4 follows it through 2, and 0 gets no row."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame([(0, 2), (2, 4)], "u long, v long")
    got = {r.id: r.cluster_id
           for r in connected_components(vertices, edges).collect()}
    assert got == {1: 1, 2: 0, 3: 3, 4: 0, 5: 5}


def test_nonconvergence_raises(spark):
    """max_iterations too small for the diameter -> hard error, never a
    silently-wrong partial clustering."""
    n = 30
    vertices = spark.createDataFrame([(i,) for i in range(n + 1)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "u long, v long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iterations=2)


def test_lsh_hot_bucket_ceiling(spark):
    """q26's structural guard: a corpus where EVERY doc shares one
    identical signature (the quadratic-bucket worst case) must produce 0
    candidate pairs — the degenerate bucket is dropped BEFORE the
    self-join, so the join cannot be O(n^2) by construction. Small
    (discriminative) buckets still pair up."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
        lsh_candidate_pairs)
    n = 1000
    rows = [(f"doc{d:04d}", i, 12345) for d in range(n) for i in range(8)]
    sig = spark.createDataFrame(rows, "doc_id string, i int, mh long")
    assert lsh_candidate_pairs(sig, min_matches=4).count() == 0
    # the same signatures in a 3-doc bucket ARE informative and survive
    small = spark.createDataFrame(rows[:24], "doc_id string, i int, mh long")
    pairs = {(r.a_id, r.b_id): r.matches
             for r in lsh_candidate_pairs(small, min_matches=4).collect()}
    assert len(pairs) == 3 and all(m == 8 for m in pairs.values())


def test_lsh_bucket_filter_precedes_join(spark):
    """Plan shape: the bucket-width window FILTER sits below the self-join
    (the guard bounds the join input, not its output)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
        lsh_candidate_pairs)
    sig = spark.createDataFrame([("a", 0, 1)], "doc_id string, i int, mh long")
    plan = lsh_candidate_pairs(sig)._jdf.queryExecution() \
        .optimizedPlan().toString()
    join_at = plan.find("Join")
    assert join_at >= 0
    below = plan[join_at:]
    assert "Filter" in below and "window" in below.lower()


# --- text kernels vs a per-row reference of their documented semantics ----
P = 1_000_000_007
A_VALS = (3, 5, 7, 11, 13, 17, 19, 23)
TEXTS = [None, "", " lead", "trail ", "double  space", "one", "two words",
         "the cat the cat the", "a b c d e", "café crème brûlée",
         "€uro 😀 smile 😀", "𝄞 clef"]


def _text_docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)),
                                 "doc_id long, text string")


def _fold(word):
    """The 31-fold word hash mod P over code points, as ascii() gives them
    ('é' folds 233, '😀' 128512)."""
    h = 0
    for c in word:
        h = (h * 31 + ord(c)) % P
    return h


def _words(text):
    """split(text, ' ') with limit -1: empty words are kept."""
    return text.split(" ")


def test_reference_folds_spark_ascii(spark):
    """_fold's ord(c) is what Spark's transform(split(text, ''), ascii)
    gives for every char of TEXTS, 2-, 3- and 4-byte UTF-8 included."""
    from pyspark.sql import functions as F
    toks = F.transform(F.split("text", ""), lambda c: F.ascii(c))
    got = {r.doc_id: r.t for r in _text_docs(spark)
           .select("doc_id", toks.alias("t")).collect()}
    assert got == {d: None if t is None else [ord(c) for c in t] or [0]
                   for d, t in enumerate(TEXTS)}


def test_minhash_text_matches_reference(spark):
    from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
        minhash_signatures_text)
    got = {(r.doc_id, r.hash_i): r.minhash
           for r in minhash_signatures_text(_text_docs(spark)).collect()}
    want = {}
    for d, text in enumerate(TEXTS):
        if text is None:
            continue
        hs = {_fold(w) for w in _words(text)}   # min() ignores duplicates
        for i, a in enumerate(A_VALS):
            want[(d, i)] = min((a * h + i + 1) % P for h in hs)
    assert got == want


def test_simhash_text_matches_reference(spark):
    from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
        simhash_text)
    got = {r.doc_id: r.simhash16
           for r in simhash_text(_text_docs(spark)).collect()}
    want = {}
    for d, text in enumerate(TEXTS):
        if text is None:
            continue
        hs = [_fold(w) for w in _words(text)]   # every occurrence votes
        want[d] = sum(1 << j for j in range(16)
                      if sum(1 if h >> j & 1 else -1 for h in hs) > 0)
    assert got == want


def test_shingle_bands_text_match_reference(spark):
    from pdf_watermark_removal_otsu_inpaint_spark.operators.dedup import (
        shingle_band_signatures_text)
    got = {(r.doc_id, r.band): (r.mh1, r.mh2)
           for r in shingle_band_signatures_text(_text_docs(spark))
           .collect()}
    want = {}
    for d, text in enumerate(TEXTS):
        if text is None:
            continue
        w = _words(text)
        hs = [_fold(" ".join(w[i:i + 3])) for i in range(len(w) - 2)]
        if not hs:                               # below 3 words: no rows
            continue
        for b in range(4):
            want[(d, b)] = tuple(
                min((A_VALS[k] * h + k + 1) % P for h in hs)
                for k in (2 * b, 2 * b + 1))
    assert got == want
    assert {d for d, _ in got} == {4, 7, 8, 9, 10}
