"""Dedup operator tests: exact, jaccard, minhash-lsh, simhash."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.functions import dedup


@pytest.fixture()
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog near the river bank "
            "while birds sing in the morning light")
    near = base.replace("morning", "evening")
    far = "completely different content about spark engines and distributed query processing at scale"
    rows = [
        (1, base),
        (2, base.upper()),          # exact dup modulo case/punct
        (3, near),                  # near dup
        (4, far),
        (5, "the quick brown fox."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["ids"] == [1, 2]


def test_dedup_exact_keeps_lowest_id(docs):
    kept = dedup.dedup_exact(docs)
    assert kept.count() == 4
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {1, 3, 4, 5}


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.8
    assert all(a != 4 and b != 4 for a, b in pairs)


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = df.select(dedup.word_shingles("text", 2).alias("s")).first()["s"]
    assert sorted(got) == ["a b", "b c", "c d"]
    short = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert short.select(dedup.word_shingles("text", 2).alias("s")).first()["s"] == []


def test_minhash_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_dedup_pairs(docs, threshold=0.7, shingle_n=1).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_minhash_signature_deterministic(docs):
    a = docs.select(dedup.minhash_signature("text", 16, 1).alias("sig")).collect()
    b = docs.select(dedup.minhash_signature("text", 16, 1).alias("sig")).collect()
    assert [r["sig"] for r in a] == [r["sig"] for r in b]


def test_simhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_duplicates(docs, max_hamming=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0  # same canonical tokens
    assert (1, 3) in pairs  # one word swapped -> few bits differ


def test_simhash_md5_near_duplicates(docs):
    # portable 60-bit variant: same near-dup structure as the xxhash one
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_md5_near_duplicates(docs, max_hamming=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0  # same canonical tokens
    assert (1, 3) in pairs  # one word swapped -> few bits differ


def test_simhash_md5_signature_range(docs):
    # 60-bit signatures: non-negative, below 2^60, deterministic
    sigs = [r["simhash"] for r in dedup.simhash_md5(docs).collect()]
    assert all(0 <= s < (1 << 60) for s in sigs)
    again = [r["simhash"] for r in dedup.simhash_md5(docs).collect()]
    assert sigs == again


def test_simhash_banding_has_no_false_negatives(spark, sf_dir):
    # pigeonhole guarantee: with 4 bands of 15 bits, any pair within
    # hamming 3 shares at least one band exactly — the banded join must
    # find EXACTLY the brute-force pairs (banding only prunes, never loses)
    from itertools import combinations

    from metrique_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash_md5(docs).collect()}
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {(r["id_a"], r["id_b"])
              for r in dedup.simhash_md5_near_duplicates(
                  docs, max_hamming=3).collect()}
    assert banded == brute


def test_jaccard_max_doc_freq_drops_stop_shingles(spark):
    # 'common' appears in all docs; capping doc-freq removes its pairs
    df = spark.createDataFrame(
        [(1, "common alpha beta"), (2, "common alpha beta"),
         (3, "common gamma delta")],
        "doc_id long, text string")
    exact = dedup.jaccard_pairs(df, threshold=0.1, n=1)
    capped = dedup.jaccard_pairs(df, threshold=0.1, n=1, max_doc_freq=2)
    e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    c = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert e[(1, 2)] == 1.0
    assert c[(1, 2)] < e[(1, 2)]          # intersection undercounted
    assert (1, 3) in e and (1, 3) not in c  # only-common pair disappears


def test_connected_components_chain_and_clique(spark):
    """min-label propagation: a 4-chain (diameter > 1 round) and a
    separate 2-clique both collapse to their min id; convergence is by
    fixpoint, not luck of iteration count."""
    from metrique_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11),                    # pair
         (20, 21), (21, 22), (20, 22)],  # triangle
        ["id_a", "id_b"])
    expected = {1: 1, 2: 1, 3: 1, 4: 1,
                10: 10, 11: 10,
                20: 20, 21: 20, 22: 20}
    # driver union-find path (default) and distributed min-label loop
    # (threshold=0) must agree exactly
    got_driver = {r["id"]: r["component"]
                  for r in connected_components(pairs).collect()}
    got_dist = {r["id"]: r["component"]
                for r in connected_components(
                    pairs, driver_edge_threshold=0).collect()}
    assert got_driver == expected
    assert got_dist == expected


def test_connected_components_string_ids_distributed(spark):
    """the distributed loop's convergence witness must be type-agnostic:
    string vertex ids broke the old sum(component) checksum (ANSI cast
    error, or a NULL sum that ended the loop after one round)."""
    from metrique_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),   # 4-chain, diameter 3
         ("x", "y")],
        ["id_a", "id_b"])
    expected = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    got_driver = {r["id"]: r["component"]
                  for r in connected_components(pairs).collect()}
    got_dist = {r["id"]: r["component"]
                for r in connected_components(
                    pairs, driver_edge_threshold=0).collect()}
    assert got_driver == expected
    assert got_dist == expected


def test_connected_components_max_iter_escalates_exactly(spark):
    """exhausting max_iter before the fixpoint must never return
    partially-propagated labels: the loop escalates to alternating
    large-star/small-star and still yields exact components (chain
    diameter 3 > 1 round)."""
    from metrique_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    out = connected_components(pairs, max_iter=1, driver_edge_threshold=0)
    assert {(r["id"], r["component"]) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1)}


def test_canonical_docs_decisions(spark):
    from metrique_spark.functions.dedup import canonical_docs

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    rows = {r["doc_id"]: r for r in canonical_docs(docs, pairs).collect()}
    assert [rows[i]["component_id"] for i in range(1, 7)] == [1, 1, 1, 4, 5, 5]
    # exactly one canonical doc per component; singletons are canonical
    assert [rows[i]["is_canonical"] for i in range(1, 7)] == [
        True, False, False, True, True, False]


def test_containment_scores_and_decontaminate(spark):
    from metrique_spark.functions.dedup import (containment_scores,
                                                decontaminate)

    train = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated content about spark engines"),
        (3, "the quick brown fox jumps high today"),
    ], ["doc_id", "text"])
    holdout = spark.createDataFrame([
        (100, "the quick brown fox jumps over the lazy dog"),  # == train 1
        (101, "nothing in common with anything at all here"),
        (102, "xy"),                                           # < n tokens
    ], ["doc_id", "text"])
    rows = {r["doc_id"]: r
            for r in containment_scores(train, holdout, n=3).collect()}
    assert rows[100]["max_containment"] == 1.0
    assert rows[100]["train_id"] == 1        # exact superset match
    assert rows[101]["max_containment"] == 0.0
    assert rows[101]["train_id"] is None
    assert rows[102]["max_containment"] == 0.0   # no shingles at all
    # train doc 1 is flagged as contaminating; 2 and 3 are not (3 shares
    # only a partial prefix, under threshold)
    bad = {r["doc_id"] for r in
           decontaminate(train, holdout, threshold=0.8, n=3).collect()}
    assert bad == {1}


def test_containment_scores_string_ids(spark):
    """the tie-break argmax must be type-agnostic: the old
    max(struct(containment, -t_id)) negated the train id, which breaks for
    string doc ids (ANSI error / silent cast)."""
    from metrique_spark.functions.dedup import containment_scores

    shared = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [("t-b", shared), ("t-a", shared),          # tie: both contain 100%
         ("t-z", "unrelated words entirely here now")],
        ["doc_id", "text"])
    holdout = spark.createDataFrame([("h-1", shared)], ["doc_id", "text"])
    rows = {r["doc_id"]: r
            for r in containment_scores(train, holdout, n=3).collect()}
    assert rows["h-1"]["max_containment"] == 1.0
    assert rows["h-1"]["train_id"] == "t-a"    # min id on ties


def test_dedup_against_index(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "entirely different content about spark and parquet files"),
         (3, "some unrelated third document with its own words here")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "the quick brown fox jumps over the lazy dog again and AGAIN"),
         (12, "completely novel text that matches nothing in the corpus")],
        "doc_id long, text string")
    idx = dedup.minhash_index(corpus)
    out = {r["doc_id"]: (r["dup_of"], r["jaccard"])
           for r in dedup.dedup_against_index(
               batch, idx, corpus, threshold=0.8).collect()}
    assert out[10] == (1, 1.0)            # exact dup found with jaccard 1
    assert out[11][0] == 1                # case-insensitive near-dup
    assert 12 not in out                  # novel doc emits no row


def test_minhash_index_is_appendable(spark):
    # index(A) union index(B) must equal index(A union B) — signatures are
    # per-doc content hashes, so incremental maintenance is a plain append
    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string")
    b = spark.createDataFrame(
        [(2, "eta theta iota kappa lambda mu")], "doc_id long, text string")
    both = dedup.minhash_index(a.unionByName(b))
    merged = dedup.minhash_index(a).unionByName(dedup.minhash_index(b))
    k = lambda r: (r["id"], r["band"], r["bh"])
    assert sorted(map(k, both.collect())) == sorted(map(k, merged.collect()))


def test_duplicate_window_stats(spark):
    boiler = " ".join(f"w{i}" for i in range(16))          # shared 16-token block
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, boiler + " " + uniq_a),      # 17 windows, 1 duplicated
         (2, boiler + " " + uniq_b),      # 17 windows, 1 duplicated
         (3, uniq_a),                     # 1 window, shared with doc 1
         (4, "short doc")],               # under one window -> no row
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
           for r in dedup.duplicate_window_stats(df, window=16).collect()}
    assert out[1][0] == 17 and out[2][0] == 17
    # doc1 shares the boiler window with doc2 AND its last window with doc3
    assert out[1][1] == 2 and out[2][1] == 1
    assert out[3] == (1, 1, 1.0)
    assert 4 not in out
    # stride=8 keeps aligned positions only, halving the stream volume
    strided = {r["doc_id"]: r["n_windows"]
               for r in dedup.duplicate_window_stats(
                   df, window=16, stride=8).collect()}
    assert strided[1] == 3                 # positions 0, 8, 16


def test_dedup_against_index_band_cap_semantics(spark):
    # a hot (band, bh) bucket — here a 40-doc exact-dup cluster — is
    # dropped by max_band_bucket, so a batch doc matching ONLY the
    # cluster is missed (the documented recall trade on degenerate
    # clusters), while a match colliding in cool buckets survives
    cluster_text = "identical cluster document repeated verbatim many times over"
    pair_text = "a genuinely unique document about spark range joins and prefix sums"
    corpus_rows = [(i, cluster_text) for i in range(40)] + [(100, pair_text)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(200, cluster_text), (201, pair_text)], "doc_id long, text string")
    idx = dedup.minhash_index(corpus)
    capped = {r["doc_id"]: r["dup_of"] for r in dedup.dedup_against_index(
        batch, idx, corpus, threshold=0.8, max_band_bucket=5).collect()}
    assert capped.get(201) == 100          # cool-bucket match survives
    assert 200 not in capped               # hot-cluster match traded away
    # without the cap the cluster match is found
    full = {r["doc_id"]: r["dup_of"] for r in dedup.dedup_against_index(
        batch, idx, corpus, threshold=0.8, max_band_bucket=None).collect()}
    assert full.get(200) == 0 and full.get(201) == 100


def test_dedup_against_index_candidate_cap_keeps_best(spark):
    # top-K candidate ranking by matched-band count must keep the true
    # best match when K=1 and the best match collides in every band
    best = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta NOPE"
    corpus = spark.createDataFrame(
        [(1, best), (2, near)], "doc_id long, text string")
    batch = spark.createDataFrame([(10, best)], "doc_id long, text string")
    idx = dedup.minhash_index(corpus)
    out = {r["doc_id"]: (r["dup_of"], r["jaccard"])
           for r in dedup.dedup_against_index(
               batch, idx, corpus, threshold=0.5,
               max_candidates_per_doc=1).collect()}
    assert out[10] == (1, 1.0)


def test_minhash_index_params_validated(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog {i}") for i in range(20)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dog 3")],
        "doc_id long, text string")
    idx = dedup.minhash_index(corpus, num_hashes=32, bands=8)
    assert idx._minhash_params == {"num_hashes": 32, "bands": 8,
                                   "shingle_n": 3}
    # probing with mismatched parameters must be an error, not silent
    # near-zero recall
    with pytest.raises(ValueError, match="signed with"):
        dedup.dedup_against_index(batch, idx, corpus)
    # params survive the storage round-trip via the index root
    p = str(tmp_path / "mh_idx")
    dedup.write_minhash_index(idx, p)
    back = dedup.read_minhash_index(spark, p)
    assert back._minhash_params == idx._minhash_params
    with pytest.raises(ValueError, match="signed with"):
        dedup.dedup_against_index(batch, back, corpus)
    # matching parameters probe fine
    out = dedup.dedup_against_index(batch, back, corpus,
                                    num_hashes=32, bands=8)
    assert out.columns == ["doc_id", "dup_of", "jaccard"]
    out.collect()
    # appending rows signed differently is refused
    other = dedup.minhash_index(corpus)  # defaults: 64/16
    with pytest.raises(ValueError, match="refusing to append"):
        dedup.write_minhash_index(other, p, mode="append")
    # appending identically-signed rows works and keeps the params
    more = dedup.minhash_index(batch, num_hashes=32, bands=8)
    dedup.write_minhash_index(more, p, mode="append")
    again = dedup.read_minhash_index(spark, p)
    assert again._minhash_params == idx._minhash_params
    assert again.count() == idx.count() + more.count()


def test_dedup_against_index_release_frees_caches(spark):
    from metrique_spark.functions import cache

    corpus = spark.createDataFrame(
        [(i, f"some shared boilerplate text number {i} here") for i in range(10)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(99, "some shared boilerplate text number 3 here")],
        "doc_id long, text string")
    out = dedup.dedup_against_index(batch, dedup.minhash_index(corpus),
                                    corpus)
    out.collect()
    owned = list(getattr(out, "_metrique_cached_intermediates"))
    assert any(f.is_cached for f in owned)
    cache.release(out)
    assert not any(f.is_cached for f in owned)


def test_connected_components_long_path_escalates_to_star(spark):
    # adversarial diameter: a 10k-vertex path graph. Min-label
    # propagation would need 10k rounds; exhausting max_iter must
    # escalate to alternating large-star/small-star (O(log^2 n) rounds)
    # and still produce exact components.
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    out = dedup.connected_components(pairs, max_iter=3,
                                     driver_edge_threshold=0)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)


def test_star_components_string_ids_and_multiple_components(spark):
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("y", "z"), ("m", "n")],
        "id_a string, id_b string")
    out = dedup.connected_components(pairs, max_iter=0,
                                     driver_edge_threshold=0)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x", "m": "m", "n": "m"}


def test_remove_duplicate_spans_semantics(spark):
    # doc 1 owns the span; doc 2 repeats it inside other text; doc 3 is
    # clean. window=4 over the token stream.
    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(1, f"{shared} more words here"),
         (2, f"intro words {shared} tail content words"),
         (3, "totally unrelated text with enough tokens")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df, window=4).collect()}
    # owner keeps its full (canonical-token) text
    assert out[1]["clean_text"] == "alpha beta gamma delta more words here"
    assert out[1]["n_removed_tokens"] == 0
    # the repeater loses exactly the shared 4-token span
    assert out[2]["clean_text"] == "intro words tail content words"
    assert out[2]["n_removed_tokens"] == 4
    assert out[3]["n_removed_tokens"] == 0
    assert out[3]["clean_text"] == "totally unrelated text with enough tokens"


def test_remove_duplicate_spans_merges_overlaps(spark):
    # two overlapping duplicated windows in doc 2 must merge into ONE
    # covered island, not double-count removals
    a = "one two three four five"         # doc1 owns w=4 spans at 0 and 1
    df = spark.createDataFrame(
        [(1, a), (2, f"start {a} end")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df, window=4).collect()}
    assert out[2]["clean_text"] == "start end"
    assert out[2]["n_removed_tokens"] == 5   # merged [0,4)+[1,5) -> 5 tokens


def test_jaccard_prefix_matches_plain(spark, sf_dir):
    """Prefix filtering is EXACT (Bayardo et al. guarantee): at any
    threshold the prefix-filtered pairs must equal the full
    inverted-index pairs on real corpus data."""
    from metrique_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    for thr in (0.5, 0.8):
        plain = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.jaccard_pairs(
                     docs, threshold=thr, n=3).collect()}
        pref = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dedup.jaccard_pairs_prefix(
                    docs, threshold=thr, n=3).collect()}
        assert pref == plain, thr


def test_canonical_docs_quality_argmax(spark):
    from metrique_spark.functions.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1)],
        "doc_id long, quality double")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    rows = {r["doc_id"]: r for r in canonical_docs(
        docs, pairs, quality_col="quality").collect()}
    # cluster {1,2,3}: best quality 0.9 tied between 2 and 3 -> keep 2
    assert rows[2]["is_canonical"] and not rows[1]["is_canonical"] \
        and not rows[3]["is_canonical"]
    assert all(rows[i]["component_id"] == 1 for i in (1, 2, 3))
    # singletons keep themselves
    assert rows[4]["is_canonical"] and rows[5]["is_canonical"]


def test_minhash_batch_band_cap_semantics(spark):
    """The batch-path hot-bucket cap: capped candidates are a subset of
    the uncapped ones, the sub-threshold template cluster's buckets are
    dropped, and genuinely-duplicate pairs that share a cooler band
    survive."""
    tmpl = "common template words repeated across the whole cluster here"
    # 10 identical docs: every one of their band buckets holds all 10
    rows = [(i, tmpl) for i in range(10)]
    rows += [(100, "a genuinely distinct pair of documents one"),
             (101, "a genuinely distinct pair of documents one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(
        df, shingle_n=1, max_band_bucket=None).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(
        df, shingle_n=1, max_band_bucket=5).collect()}
    assert capped <= full
    assert (100, 101) in capped        # small-bucket pair survives
    # the 10-doc cluster's buckets (all size 10 > 5) are dropped entirely
    assert {p for p in full if p[0] < 100} == {
        (a, b) for a in range(10) for b in range(a + 1, 10)}
    assert not {p for p in capped if p[0] < 100}


def test_jaccard_prefix_knife_edge_threshold(spark):
    """Exactly-at-threshold pair with the worst-case prefix: doc a has 10
    unigram shingles, doc b holds 8 of them (J = 8/10 = 0.8). Float noise
    in (1-0.8)*10 used to shorten a's prefix to 2 — if a's two rarest
    shingles are its two non-shared ones, the pair vanished from the
    'exact' output."""
    # a's unique tokens (u1, u2) appear ONLY in a -> globally rarest ->
    # they are a's prefix; b shares the other 8
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    filler = "w1 w2 w3 w4 w5 w6 w7 w8"      # boost shared tokens' freq
    df = spark.createDataFrame(
        [(1, f"u1 u2 {shared}"), (2, shared), (3, filler), (4, filler)],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs_prefix(
               df, threshold=0.8, n=1).collect()}
    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(df, threshold=0.8, n=1).collect()}
    assert (1, 2) in got and got[(1, 2)] == 0.8
    assert got == want


def test_canonical_docs_null_quality_never_wins(spark):
    from metrique_spark.functions.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(1, None), (2, 0.3), (3, None)],
        "doc_id long, quality double")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    rows = {r["doc_id"]: r["is_canonical"] for r in canonical_docs(
        docs, pairs, quality_col="quality").collect()}
    assert rows == {1: False, 2: True, 3: False}  # only scored doc wins


def test_minhash_index_on_object_store_backend(spark, tmp_path):
    # index write/read/append through the object-store control-plane
    # shim: the root protocol must survive without POSIX rename/O_EXCL
    from metrique_spark.fs import ObjectStoreFS

    store = ObjectStoreFS()
    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog {i}") for i in range(8)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dog 3")],
        "doc_id long, text string")
    p = str(tmp_path / "mh_obj")
    idx = dedup.minhash_index(corpus, num_hashes=32, bands=8)
    dedup.write_minhash_index(idx, p, fs=store)
    back = dedup.read_minhash_index(spark, p, fs=store)
    assert back._minhash_params == {"num_hashes": 32, "bands": 8,
                                    "shingle_n": 3}
    other = dedup.minhash_index(corpus)  # defaults: mismatch
    with pytest.raises(ValueError, match="refusing to append"):
        dedup.write_minhash_index(other, p, mode="append", fs=store)
    more = dedup.minhash_index(batch, num_hashes=32, bands=8)
    dedup.write_minhash_index(more, p, mode="append", fs=store)
    again = dedup.read_minhash_index(spark, p, fs=store)
    assert again.count() == idx.count() + more.count()
    out = dedup.dedup_against_index(batch, again, corpus,
                                    num_hashes=32, bands=8)
    assert [r["dup_of"] for r in out.collect()] == [3]


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from metrique_spark.functions.dedup import paragraph_dedup

    d = spark.createDataFrame([
        (1, "Header\nunique one\nFooter"),
        (2, "header\nunique two\nFooter"),   # case-insensitive repeats
        (3, "HEADER\nfooter"),               # nothing unique
        (4, "  \n\n"),                       # no non-empty paragraphs
        (5, None),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(d).collect()}
    assert set(out) == {1, 2, 3}             # 4, 5 have no paragraphs
    assert out[1]["text"] == "Header\nunique one\nFooter"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["text"] == "unique two"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (3, 1)
    assert out[3]["text"] == ""
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (2, 0)


def test_paragraph_dedup_within_document_repeats(spark):
    from metrique_spark.functions.dedup import paragraph_dedup

    d = spark.createDataFrame(
        [(1, "same\nsame\nother\nsame")], "doc_id long, text string")
    [r] = paragraph_dedup(d).collect()
    assert r["text"] == "same\nother"
    assert (r["n_paras"], r["n_kept"]) == (4, 2)


def test_paragraph_dedup_metachar_separator(spark):
    from metrique_spark.functions.dedup import paragraph_dedup

    d = spark.createDataFrame([(1, "dup|unique|dup")],
                              "doc_id long, text string")
    [r] = paragraph_dedup(d, sep="|").collect()
    assert (r["n_paras"], r["n_kept"]) == (3, 2)
    assert r["text"] == "dup|unique"
