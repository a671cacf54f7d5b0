"""Property tests for the LLM-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) -- semantics the DuckDB oracles
can't express: LSH recall vs brute force, the winnowing guarantee,
stub gating."""

import pytest
from pyspark.sql import functions as F

from graphdb_cia_factbook_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
)
from graphdb_cia_factbook_spark.operators.multimodal import (
    decode_media,
    media_table,
    resize_images,
)
from graphdb_cia_factbook_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from graphdb_cia_factbook_spark.operators.text import (
    lang_id,
    winnow_fingerprints,
)
from graphdb_cia_factbook_spark.sources import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


def test_exact_dedup_partitions_corpus(spark, docs):
    out = exact_dedup(docs)
    n_docs = docs.count()
    agg = out.agg(F.sum("n_dups"), F.count(F.lit(1))).first()
    assert agg[0] == n_docs            # every doc in exactly one group
    assert agg[1] <= n_docs


def test_minhash_lsh_recall_vs_bruteforce(spark, docs):
    """At jaccard >= 0.5 with b=4,r=3 the LSH candidate set must
    recover most true pairs; every reported pair must be a true pair
    (verification step removes false positives)."""
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_dedup(docs, threshold=0.5).collect()}
    true = {(r.id_a, r.id_b) for r in
            ngram_jaccard_dedup(docs, threshold=0.5).collect()}
    assert lsh <= true                      # no false positives
    if true:
        assert len(lsh) / len(true) >= 0.7  # recall
    assert true, "testdata should contain near-duplicate documents"


def test_minhash_sharp_recall_vs_threshold(spark, docs):
    """The sharp operating point (b=8, r=4, 32 hashes): the S-curve
    1-(1-j^4)^8 keeps high-similarity recall (p=0.985 at j=0.8) while
    collapsing the low-j candidate tail.  Assert (a) precision 1.0
    (verify removes every false positive), (b) recall on strongly
    similar pairs (j >= 0.8) stays high, and (c) recall is monotone
    in the threshold band -- the S-curve shape, measured."""
    sharp = {(r.id_a, r.id_b): r.jaccard for r in
             minhash_lsh_dedup(docs, num_hashes=32, bands=8,
                               threshold=0.5).collect()}
    true = {(r.id_a, r.id_b): r.jaccard for r in
            ngram_jaccard_dedup(docs, threshold=0.5).collect()}
    assert set(sharp) <= set(true)          # no false positives
    assert true, "testdata should contain near-duplicate documents"

    def recall(lo, hi):
        band = {p for p, j in true.items() if lo <= j < hi}
        if not band:
            return None
        return len(band & set(sharp)) / len(band)

    strong = recall(0.8, 1.01)
    if strong is not None:
        assert strong >= 0.9                # p(candidate) = 0.985
    # S-curve monotonicity: recall never decreases moving up the bands
    rs = [r for r in (recall(0.5, 0.65), recall(0.65, 0.8),
                      recall(0.8, 1.01)) if r is not None]
    assert all(a <= b + 1e-9 for a, b in zip(rs, rs[1:]))


def test_minhash_sharp_candidates_shrink(spark, docs):
    """The reason the sharp point exists: at (b=8, r=4) the enumerated
    candidate set must be no larger than at (b=4, r=3) on the same
    corpus (low-j collisions dominate the wide point's candidates)."""
    from graphdb_cia_factbook_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )
    sh = shingle_sets(docs, "doc_id", "text").localCheckpoint()
    n_wide = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh, "doc_id", 12), "doc_id", 4, 3),
        "doc_id").count()
    n_sharp = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh, "doc_id", 32), "doc_id", 8, 4),
        "doc_id").count()
    assert n_sharp <= n_wide
    assert n_sharp > 0


def test_ngram_hot_shingle_guard(spark):
    """A boilerplate shingle shared by EVERY doc must not generate
    candidate pairs when it exceeds max_shingle_df, but true near-dups
    (overlapping on rare shingles too) must still be found -- and their
    jaccard must be computed over FULL shingle sets, boilerplate
    included."""
    boiler = "subscribe to our newsletter today"
    rows = ([(i, f"unique{i} text number {i} " + boiler)
             for i in range(20)]
            + [(100, "the quick brown fox jumps " + boiler),
               (101, "the quick brown fox jumps " + boiler)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_dedup(
               df, threshold=0.5, max_shingle_df=10).collect()}
    # docs 100/101 are identical -> jaccard 1.0 via their rare shingles
    assert out == {(100, 101): 1.0}
    # sanity: without the guard the boilerplate shingles pair ALL docs
    # as candidates (still filtered by threshold, but the pair space is
    # quadratic); with it, candidate work is bounded by rare shingles
    unguarded = ngram_jaccard_dedup(df, threshold=0.0,
                                    max_shingle_df=10**9).count()
    guarded = ngram_jaccard_dedup(df, threshold=0.0,
                                  max_shingle_df=10).count()
    assert guarded < unguarded


def test_dedup_clusters_transitive(spark):
    """A~B and B~C (no direct A~C pair) must collapse into ONE
    cluster with a single canonical survivor; untouched docs stay
    singletons marked canonical."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert {i: r.cluster_id for i, r in rows.items()} == {
        0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}
    assert [i for i, r in sorted(rows.items()) if r.is_canonical] == \
        [0, 1, 2, 4]
    assert rows[5].cluster_size == 3 and rows[0].cluster_size == 1


def test_knn_classify_majority(spark):
    """Queries embedded inside a label cluster must take that label;
    the vote tie-break is deterministic (votes desc, label asc)."""
    from graphdb_cia_factbook_spark.operators.similarity import knn_classify

    rows = ([(i, [1.0, 0.0, float(i) / 100], 7) for i in range(4)]
            + [(i, [0.0, 1.0, float(i) / 100], 9) for i in range(4, 8)]
            + [(100, [1.0, 0.05, 0.0], 7), (101, [0.05, 1.0, 0.0], 9)])
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.query_id: r.predicted_label
           for r in knn_classify(emb, emb.where(F.col("vec_id") >= 100),
                                 k=3).collect()}
    assert out == {100: 7, 101: 9}


def test_winnowing_guarantee(spark):
    """Two docs sharing a long token run must share a fingerprint."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, "xx yy " + shared), (2, shared + " zz ww qq")],
        "doc_id long, text string")
    fps = winnow_fingerprints(df, window=4)
    a = {r.fp for r in fps.where("doc_id = 1").collect()}
    b = {r.fp for r in fps.where("doc_id = 2").collect()}
    assert a & b


def test_lsh_topk_subset_of_bruteforce_pool(spark, emb):
    """Every LSH neighbor must appear in the same bucket and its cosine
    must match the brute-force cosine for that pair."""
    queries = emb.where(F.col("vec_id") < 4)
    brute = brute_force_topk(emb, queries, k=1000)
    lsh = lsh_topk(emb, queries, k=3, nbits=8)
    bmap = {(r.query_id, r.neighbor_id): r.cos for r in brute.collect()}
    for r in lsh.collect():
        assert bmap[(r.query_id, r.neighbor_id)] == r.cos


def test_brute_topk_arrow_bit_equal_to_catalyst(spark, emb):
    """The Arrow scoring kernel must reproduce the pure-Catalyst
    brute-force top-k EXACTLY -- same neighbors, same ranks, and
    bit-equal float64 cosines (its per-dimension accumulation is the
    same IEEE sequence as the fold; see similarity.brute_topk_arrow).
    Includes ties and k > candidate-count edge shapes via tiny k/Q."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_topk_arrow,
        cosine,
        topk_per_query,
    )
    queries = emb.where(F.col("vec_id") < 6)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("__qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("__cv"))
    scored = (c.crossJoin(F.broadcast(q))
              .select("query_id", "neighbor_id",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in topk_per_query(scored, 4).collect()}
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
           for r in brute_topk_arrow(emb, queries, k=4,
                                     dim=64).collect()}
    assert got == want  # bit-equal floats: == on raw doubles


def test_brute_topk_arrow_blocked_bit_equal(spark, emb):
    """The query-blocked kernel (bounded driver memory) must equal the
    all-at-once kernel EXACTLY when forced through multiple blocks:
    per-query independence makes each block's phase-1 pool identical
    to the all-at-once pool restricted to that block's queries, and
    parquet round-trips float64 exactly, so the same phase-2 window
    sees bit-identical input."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_topk_arrow,
        brute_topk_arrow_blocked,
    )
    queries = emb.where(F.col("vec_id") < 24)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in brute_topk_arrow(emb, queries, k=3,
                                      dim=64).collect()}
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
           for r in brute_topk_arrow_blocked(
               emb, queries, k=3, dim=64, block_rows=7).collect()}
    assert got == want  # bit-equal floats: == on raw doubles


def test_brute_topk_arrow_empty_query_side(spark, emb):
    """Zero queries must return an empty frame with the declared
    schema, not crash on a 1-D (0,) numpy matrix (ADVICE round 8)."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_topk_arrow,
        brute_topk_arrow_blocked,
    )
    none = emb.where(F.col("vec_id") < 0)
    out = brute_topk_arrow(emb, none, k=3, dim=64)
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]
    assert out.count() == 0
    out2 = brute_topk_arrow_blocked(emb, none, k=3, dim=64)
    assert out2.columns == out.columns and out2.count() == 0


def test_brute_topk_arrow_zero_norm_fails_fast(spark, emb):
    """A zero-norm query vector must raise loudly at construction:
    numpy would produce NaN cosines (silently dropped by the pool
    filter) while the Catalyst fold keeps NULL-cos rows -- a silent
    divergence on degenerate data (ADVICE round 8)."""
    import pytest

    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_topk_arrow,
    )
    zero = spark.createDataFrame(
        [(999999, [0.0] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="zero-norm"):
        brute_topk_arrow(emb, zero, k=3, dim=64)


def test_ivf_lloyd_refinement(spark, emb):
    """Lloyd refinement must improve the k-means objective (average
    cosine of each vector to its assigned centroid) over the raw
    seeds -- the property k-means guarantees.  Fixed-nprobe recall on
    this synthetic corpus is ~0.9 either way (seeded centroids are
    real data vectors, so on near-uniform noise the 2-3 pair delta is
    tie-noise); pin a floor so a regression to bad lists still
    fails."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        _nearest_centroids,
        cosine,
        ivf_topk,
        lloyd_refine,
    )

    seed = (emb.where(F.col("vec_id") < 16)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("__cent")))

    def objective(cents):
        a = _nearest_centroids(emb, cents, "__vid", 1,
                               "vec_id", "embedding")
        return (a.join(cents, "centroid_id")
                .agg(F.avg(cosine(F.col("embedding"), F.col("__cent"))))
                .first()[0])

    refined = lloyd_refine(emb, seed, 1)
    assert objective(refined) > objective(seed)

    queries = emb.where(F.col("vec_id") < 8)
    true = {(r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, k=3).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(emb, queries, k=3, lloyd_iters=1).collect()}
    assert len(got & true) / len(true) >= 0.8


def test_lang_id_beats_chance(spark, docs):
    """Heuristic language ID: accuracy on the labeled corpus must beat
    uniform chance over the 4 scored languages + und."""
    scored = docs.select(
        "lang", lang_id(F.col("text")).alias("pred")).collect()
    known = [r for r in scored if r.lang in ("en", "de", "es", "fr")]
    if known:
        acc = sum(r.lang == r.pred for r in known) / len(known)
        assert acc >= 0.25


def test_multimodal_decode_roundtrip(spark, docs):
    media = media_table(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
    meta = decode_media(media)
    joined = (meta.join(docs, meta.media_id == docs.doc_id)
              .select("media_id", "n_bytes", "n_chars", "width"))
    for r in joined.collect():
        assert r.n_bytes >= r.n_chars   # utf-8 >= char count
        assert 1 <= r.width <= 640


def test_resize_nearest_neighbor_exact(spark):
    """2x2 single-channel image upscaled to 4x4: every source pixel
    must expand into a 2x2 block (integer floor-mapping), and the
    output must carry the new dims."""
    src = bytes([1, 2, 3, 4])  # [[1,2],[3,4]]
    df = spark.createDataFrame(
        [(7, src, 2, 2, 1)],
        "media_id long, content binary, width int, height int, "
        "channels int")
    [r] = resize_images(df, 4, 4).collect()
    assert (r.width, r.height, r.channels) == (4, 4, 1)
    assert list(bytes(r.content)) == [1, 1, 2, 2,
                                      1, 1, 2, 2,
                                      3, 3, 4, 4,
                                      3, 3, 4, 4]


def test_resize_downscale_and_padding(spark, docs):
    """Downscale picks the floor-mapped source pixels; short buffers
    cyclically pad instead of failing, so the operator is total over
    arbitrary binary payloads (joined from the decode stage)."""
    meta = decode_media(
        media_table(docs, "doc_id", F.encode(F.col("text"), "UTF-8")))
    media = (media_table(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
             .join(meta.select("media_id", "width", "height", "channels"),
                   "media_id"))
    out = resize_images(media, 8, 8).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(bytes(r.content)) == 8 * 8 * r.channels


def test_repetition_flags_repeated_doc(spark):
    from graphdb_cia_factbook_spark.operators.text import repetition_metrics
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "one two three four five six")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert rows[1].top_token_fraction == 1.0
    assert rows[1].top_bigram_fraction == 1.0
    assert rows[1].distinct_token_ratio == pytest.approx(1 / 6)
    assert rows[2].top_token_fraction == pytest.approx(1 / 6)
    assert rows[2].distinct_token_ratio == 1.0


def test_stratified_sample_deterministic_and_proportional(spark, docs):
    from graphdb_cia_factbook_spark.operators.sampling import (
        stratified_sample,
    )
    fracs = {f"src{i}": (1.0 if i < 10 else 0.0) for i in range(20)}
    out = stratified_sample(docs, "source", fracs, key_col="doc_id")
    # fraction 1.0 keeps everything, 0.0 drops everything
    kept = {r.source for r in out.select("source").distinct().collect()}
    assert kept == {f"src{i}" for i in range(10)}
    n1 = out.count()
    assert n1 == docs.where(
        F.col("source").isin(list(kept))).count()
    # rerun is identical (keyed hash, no RNG)
    assert stratified_sample(docs, "source", fracs,
                             key_col="doc_id").count() == n1
    # half-fraction keeps roughly half per stratum
    half = stratified_sample(docs, "source", {"src0": 0.5},
                             key_col="doc_id")
    n_half, n_src0 = half.count(), docs.where("source = 'src0'").count()
    assert 0.2 * n_src0 <= n_half <= 0.8 * n_src0


def test_pack_sequences_invariants(spark):
    from graphdb_cia_factbook_spark.operators.sampling import pack_sequences
    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 23) for i in range(40)],
        ["doc_id", "n_tokens"])
    out = pack_sequences(df, budget=32, n_shards=4).collect()
    assert len(out) == 40
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        assert r.shard == r.doc_id % 4
        assert 0 <= r.start_offset < 32
        assert r.seq_last >= r.seq_first
        # token stream is contiguous within a shard: this doc starts
        # exactly where the previous doc ended
        prev_end = by_shard.get(r.shard, 0)
        assert r.seq_first * 32 + r.start_offset == prev_end
        by_shard[r.shard] = prev_end + r.n_tokens


def test_decontaminate_flags_overlap_only(spark):
    from graphdb_cia_factbook_spark.operators.dedup import decontaminate
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "clean document with no overlap here at all"),
         (2, "i know the secret eval answer is forty two ha"),
         (3, "another fully clean training document text")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in decontaminate(train, bench).collect()}
    assert rows[2].contaminated and rows[2].n_shared_shingles >= 5
    assert not rows[1].contaminated and rows[1].n_shared_shingles == 0
    assert not rows[3].contaminated


def test_png_metadata_parses_real_header_and_rejects_garbage(spark):
    import struct
    from graphdb_cia_factbook_spark.operators.multimodal import (
        media_table,
        png_metadata,
    )
    real = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", 800, 600) + bytes([8, 6]))
    rows = {r.media_id: r for r in png_metadata(media_table(
        spark.createDataFrame([(1, real), (2, b"not a png at all!!")],
                              ["media_id", "content"]),
        "media_id", "content")).collect()}
    ok = rows[1]
    assert ok.is_png and (ok.width, ok.height) == (800, 600)
    assert ok.bit_depth == 8 and ok.color_type == 6 and ok.channels == 4
    bad = rows[2]
    assert not bad.is_png and bad.width is None and bad.channels is None


def test_fixed_size_sample_exact_budget(spark, docs):
    from graphdb_cia_factbook_spark.operators.sampling import (
        fixed_size_sample,
    )
    out = fixed_size_sample(docs, "source", 3, key_col="doc_id")
    per = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r.source: r.n for r in
             docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    for src, n in per.items():
        assert n == min(3, avail[src])
    # deterministic: identical resample
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(r.doc_id for r in fixed_size_sample(
        docs, "source", 3, key_col="doc_id").select("doc_id").collect())
    assert a == b


def test_simhash_neardup_finds_drifted_copy_only(spark):
    from graphdb_cia_factbook_spark.operators.dedup import (
        simhash_neardup_pairs,
    )
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight") * 3
    drifted = base.replace("lazy", "sleepy", 1)
    other = ("completely different content about database engines "
             "and vectorized execution pipelines with columnar io") * 3
    df = spark.createDataFrame(
        [(1, base), (2, drifted), (3, other)], ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_neardup_pairs(df, nbits=32).collect()}
    assert (1, 2) in pairs           # drifted copy caught
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_multiprobe_recall_dominates_single_probe(spark, emb):
    """Probing Hamming-1 buckets can only ADD candidates, so
    multi-probe recall vs brute force is >= single-probe recall, and
    every multi-probe hit is a true bucket-or-neighbor-bucket match."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_multiprobe,
    )
    queries = emb.where(F.col("vec_id") < 16)
    truth = {(r.query_id, r.neighbor_id) for r in
             brute_force_topk(emb, queries, k=3).collect()}
    single = {(r.query_id, r.neighbor_id) for r in
              lsh_topk(emb, queries, k=3, nbits=8).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in
             lsh_topk_multiprobe(emb, queries, k=3, nbits=8).collect()}
    assert len(multi & truth) >= len(single & truth)
    assert len(multi) >= len(single)


def test_quantized_topk_tracks_full_precision(spark, emb):
    """int8 quantization must preserve most of the true top-3 (the
    error per coordinate is bounded by scale/2), and the quantized
    scores must stay close to the real dot products in relative
    terms."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        quantized_topk,
    )
    queries = emb.where(F.col("vec_id") < 16)
    truth = {(r.query_id, r.neighbor_id) for r in
             brute_force_topk(emb, queries, k=3).collect()}
    quant = {(r.query_id, r.neighbor_id) for r in
             quantized_topk(emb, queries, k=3).collect()}
    recall = len(quant & truth) / len(truth)
    assert recall >= 0.7, f"int8 recall collapsed: {recall}"


def test_winnow_containment_is_asymmetric(spark):
    """A short doc quoted inside a long doc: containment(short in
    long) ~ 1 even though Jaccard is tiny; the reverse direction is
    small.  The case symmetric dedup cannot see."""
    from graphdb_cia_factbook_spark.operators.dedup import (
        winnow_containment,
    )
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"word{i} filler{i} text{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"])
    rows = {(r.id_a, r.id_b): r.containment
            for r in winnow_containment(df, min_containment=0.0).collect()}
    assert rows[(1, 2)] >= 0.9            # quote fully contained
    assert rows[(2, 1)] <= 0.3            # wrapper is not contained


def test_winnow_hot_fp_guard(spark):
    """A boilerplate run shared by EVERY doc must not pair the whole
    corpus once its fingerprints exceed max_fp_df; true containment
    (through rare fingerprints) must survive, and its score must still
    be computed over FULL fingerprint sets."""
    from graphdb_cia_factbook_spark.operators.dedup import (
        winnow_containment,
    )
    boiler = "all rights reserved contact us terms of service apply here"
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"word{i} filler{i} text{i}" for i in range(40))
    rows = ([(i, f"unique{i} page number {i} content {i} " + boiler)
             for i in range(20)]
            + [(100, quote + " " + boiler),
               (101, filler + " " + quote + " " + boiler + " " + filler)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.id_a, r.id_b): r.containment
              for r in winnow_containment(
                  df, min_containment=0.0, max_fp_df=10).collect()}
    # the quote still surfaces through its rare fingerprints, scored
    # over FULL sets (boilerplate fps included in n_shared / n_fp)
    uncapped = {(r.id_a, r.id_b): r.containment
                for r in winnow_containment(
                    df, min_containment=0.0, max_fp_df=10**9).collect()}
    assert (100, 101) in capped
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # boilerplate-only overlaps are dropped from the candidate space
    assert len(capped) < len(uncapped)


def test_simhash_hot_chunk_guard(spark):
    """Near-identical template docs all agree on every chunk; with a
    DF cap below the template count their quadratic pair space is
    suppressed, while a rare drifted-copy pair is still found."""
    from graphdb_cia_factbook_spark.operators.dedup import (
        simhash_neardup_pairs,
    )
    template = ("lorem ipsum dolor sit amet consectetur adipiscing "
                "elit sed do eiusmod tempor incididunt ut labore") * 3
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight") * 3
    rows = ([(i, template) for i in range(30)]
            + [(100, base), (101, base.replace("lazy", "sleepy", 1))])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.id_a, r.id_b)
              for r in simhash_neardup_pairs(
                  df, nbits=32, max_chunk_df=10).collect()}
    assert (100, 101) in capped          # rare near-dup survives
    assert not any(a < 30 and b < 30 for a, b in capped)  # hot suppressed
    uncapped = simhash_neardup_pairs(df, nbits=32,
                                     max_chunk_df=10**9).count()
    assert uncapped >= 30 * 29 // 2      # the quadratic space it avoids


def test_pii_scrub_redacts_and_counts(spark):
    from graphdb_cia_factbook_spark.operators.text import pii_scrub
    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@test.org or 555-123-4567 from 10.0.0.7"),
         (2, "no pii here at all")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert rows[1].clean_text == \
        "mail me at <PII:email> or <PII:phone> from <PII:ipv4>"
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ipv4,
            rows[1].n_pii) == (1, 1, 1, 3)
    assert rows[2].n_pii == 0 and rows[2].clean_text == rows[2].clean_text


def test_chunk_overlap_covers_every_token(spark):
    """Chunks must tile the token stream: every token position is in
    at least one chunk, consecutive chunks overlap by size - stride,
    and reassembling from stride-strided chunks reproduces the doc."""
    from graphdb_cia_factbook_spark.operators.text import (
        chunk_with_overlap,
    )
    text = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = sorted(chunk_with_overlap(df, chunk_size=16, stride=12)
                    .collect(), key=lambda r: r.chunk_idx)
    covered = set()
    for r in chunks:
        assert r.chunk_start == r.chunk_idx * 12
        covered |= set(range(r.chunk_start,
                             r.chunk_start + r.n_chunk_tokens))
        assert r.chunk_text.split(" ")[0] == f"w{r.chunk_start}"
    assert covered == set(range(50))


def test_token_rarity_orders_common_vs_rare(spark):
    from graphdb_cia_factbook_spark.operators.text import token_rarity
    df = spark.createDataFrame(
        [(1, "common common common"), (2, "common rare1 rare2")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in token_rarity(df).collect()}
    # 'common' appears 4x corpus-wide; doc 1 is all common tokens
    assert rows[1].mean_token_freq == 4.0 and rows[1].min_token_freq == 4
    assert rows[2].mean_token_freq == 2.0 and rows[2].min_token_freq == 1


def test_length_buckets_exact_batches(spark):
    """Bucket assignment is the power-of-2 ceiling; batches within a
    bucket are full (except the last) and deterministic across runs."""
    from graphdb_cia_factbook_spark.operators.sampling import (
        length_bucket_batches,
    )
    rows = [(i, 10 if i < 9 else 100) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = length_bucket_batches(df, batch_size=4).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert set(by_bucket) == {16, 128}
    assert len(by_bucket[16]) == 9 and len(by_bucket[128]) == 3
    b16 = sorted(by_bucket[16], key=lambda r: (r.batch_id, r.pos_in_batch))
    assert [r.batch_id for r in b16] == [0] * 4 + [1] * 4 + [2]
    again = length_bucket_batches(df, batch_size=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_minhash_hot_bucket_guard(spark):
    """A mega-bucket of identical docs (every band bucket shared) must
    be excluded from pair enumeration under the cap -- a rare drifted
    near-dup pair still surfaces through its own small buckets.
    Identical docs are exact_dedup's job, run before fuzzy dedup."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight ") * 2
    rows = ([(i, "copy copy " + base) for i in range(20)]
            + [(100, base + "ending one two three"),
               (101, base + "ending one two four")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.id_a, r.id_b)
              for r in minhash_lsh_dedup(df, threshold=0.5,
                                         max_bucket_size=10).collect()}
    assert (100, 101) in capped
    assert not any(a < 20 and b < 20 for a, b in capped)
    uncapped = {(r.id_a, r.id_b)
                for r in minhash_lsh_dedup(df, threshold=0.5,
                                           max_bucket_size=10**9).collect()}
    assert any(a < 20 and b < 20 for a, b in uncapped)


def test_simhash_ragged_banding_rejected(spark):
    """nbits not divisible by bands would silently drop trailing bits
    from candidate generation -- must be rejected."""
    import pytest

    from graphdb_cia_factbook_spark.operators.dedup import (
        simhash_neardup_pairs,
    )
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(AssertionError):
        simhash_neardup_pairs(df, nbits=30, bands=4)


def test_span_dedup_first_occurrence_wins(spark):
    from graphdb_cia_factbook_spark.operators.dedup import span_dedup
    boiler = " ".join(f"w{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    rows = [(1, boiler + " " + uniq),      # owns the boilerplate span
            (2, boiler),                   # pure boilerplate -> all dup
            (3, uniq.replace("u", "v"))]   # fully unique
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup(df, span=10).collect()}
    assert got[1].n_dup_spans == 0 and got[1].kept_text == rows[0][1]
    assert got[2].n_dup_spans == 1 and got[2].kept_text == ""
    assert got[2].dup_frac == 1.0
    assert got[3].n_dup_spans == 0 and got[3].dup_frac == 0.0


def test_bigram_novelty_rare_vs_common(spark):
    from graphdb_cia_factbook_spark.operators.text import bigram_novelty
    rows = ([(i, "a b a b a b") for i in range(5)]     # 'a b' freq >> 3
            + [(100, "x y z q"), (101, "single")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_novelty(df).collect()}
    assert got[0].novelty == 0.0           # every bigram common
    assert got[100].novelty == 1.0         # all three bigrams unique
    assert got[100].n_bigrams == 3
    assert 101 not in got                  # <2 tokens -> no bigrams


def test_mixture_weights_sqrt_flattening(spark):
    from graphdb_cia_factbook_spark.operators.sampling import (
        mixture_weights,
    )
    rows = ([(i, "big", "t " * 99 + "t") for i in range(40)]
            + [(1000 + i, "small", "t") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    got = {r.source: r for r in mixture_weights(df).collect()}
    assert abs(sum(r.weight for r in got.values()) - 1.0) < 1e-9
    # raw token ratio is 1000:1; sqrt flattens it to ~sqrt(1000):1
    ratio = got["big"].weight / got["small"].weight
    assert 25 < ratio < 40
    assert (got["big"].budget_alloc_tokens
            + got["small"].budget_alloc_tokens) in (999999, 1000000, 1000001)


def test_wav_metadata_le_fields_and_garbage(spark):
    import struct

    from graphdb_cia_factbook_spark.operators.multimodal import (
        media_table,
        wav_metadata,
    )
    hdr = (b"RIFF" + struct.pack("<I", 36 + 4000) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100,
                                   44100 * 4, 4, 16)
           + b"data" + struct.pack("<I", 4000))
    rows = [(1, bytearray(hdr)), (2, bytearray(b"garbage bytes"))]
    df = spark.createDataFrame(rows, "media_id long, p binary")
    got = {r.media_id: r
           for r in wav_metadata(media_table(df, "media_id", "p")).collect()}
    w = got[1]
    assert w.is_wav and w.audio_format == 1 and w.n_channels == 2
    assert w.sample_rate == 44100 and w.byte_rate == 176400
    assert w.bits_per_sample == 16 and w.data_bytes == 4000
    assert abs(w.duration_s - 4000 / 176400) < 1e-15
    g = got[2]
    assert not g.is_wav and g.sample_rate is None and g.duration_s is None


def test_semantic_dedup_one_survivor_per_cluster(spark):
    from graphdb_cia_factbook_spark.operators.similarity import (
        semantic_dedup,
    )
    # two tight clusters around orthogonal axes; seeds = ids 0,1
    rows = [(0, [1.0, 0.0]), (2, [0.9, 0.1]), (4, [0.8, 0.05]),
            (1, [0.0, 1.0]), (3, [0.1, 0.9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = semantic_dedup(df, n_centroids=2, lloyd_iters=1).collect()
    assert len(got) == 5
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for rows_ in by_cluster.values():
        survivors = [r for r in rows_ if not r.is_dup]
        assert len(survivors) == 1
        assert survivors[0].vec_id == min(r.vec_id for r in rows_)
        assert all(r.survivor_id == survivors[0].vec_id for r in rows_)
    x_cluster = {r.vec_id for r in got
                 if r.cluster_id == [c for c in by_cluster
                                     if 0 in {q.vec_id for q in
                                              by_cluster[c]}][0]}
    assert x_cluster == {0, 2, 4}


def test_bpe_learn_classic_corpus(spark):
    """The canonical BPE example: merges must follow exact weighted
    pair counts with count-desc / pair-asc tiebreaks."""
    from graphdb_cia_factbook_spark.operators.text import bpe_learn
    text = " ".join(["low"] * 5 + ["lower"] * 2
                    + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [(r.step, r.pair, r.merged, r.cnt)
           for r in bpe_learn(df, n_merges=3).orderBy("step").collect()]
    # 'e s' (9, ties 's t' but sorts first) -> 'es t' (9) -> 'l o' (7)
    assert got == [(1, "e s", "es", 9),
                   (2, "es t", "est", 9),
                   (3, "l o", "lo", 7)]


def test_bpe_encode_counts_merged_symbols(spark):
    from graphdb_cia_factbook_spark.operators.text import bpe_encode
    text = " ".join(["low"] * 5 + ["lower"] * 2
                    + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text), (2, "newest")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in bpe_encode(df, n_merges=3).collect()}
    # corpus counts (newest x7 with doc 2): merges = es, est, ew
    # newest -> n ew est (3 symbols)
    assert got[2].bpe_tokens == 3 and got[2].n_words == 1
    # doc 1: low=3*5, lower=5*2, newest=3*6, widest=(w i d est)=4*3
    assert got[1].bpe_tokens == 3 * 5 + 5 * 2 + 3 * 6 + 4 * 3


def test_bpe_learn_exhausted_corpus(spark):
    """Fewer distinct pairs than requested merges: the merge table
    must contain only real merges (no NULL rows) and encoding must
    still work."""
    from graphdb_cia_factbook_spark.operators.text import (
        bpe_encode,
        bpe_learn,
    )
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    merges = bpe_learn(df, n_merges=4).collect()
    assert len(merges) == 1                      # only 'a b' exists
    assert merges[0].pair == "a b" and merges[0].cnt == 2
    enc = bpe_encode(df, n_merges=4).collect()
    assert enc[0].bpe_tokens == 2                # two 'ab' symbols


def test_pca_power_recovers_dominant_direction(spark):
    from graphdb_cia_factbook_spark.operators.similarity import (
        pca_top_component,
    )
    # points spread along the x=y diagonal with tiny orthogonal noise:
    # the top component must align with (1,1)/sqrt(2)
    rows = [(i, [float(t), float(t) + (0.01 if i % 2 else -0.01)])
            for i, t in enumerate(range(-8, 8))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.pos: r for r in pca_top_component(df, iters=12).collect()}
    import math
    want = 1 / math.sqrt(2)
    assert abs(abs(got[1].component) - want) < 1e-3
    assert abs(abs(got[2].component) - want) < 1e-3
    # both components share a sign (the diagonal, not anti-diagonal)
    assert got[1].component * got[2].component > 0
    assert got[1].eigenvalue > 10     # variance along the diagonal


def test_prefix_filter_exact_recall(spark):
    """Prefix filtering must find EVERY pair above threshold (exact
    recall -- its defining property vs banded LSH)."""
    from graphdb_cia_factbook_spark.operators.dedup import (
        pair_jaccard,
        prefix_filter_pairs,
        shingle_sets,
    )
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base),
            (2, base + " extra"),                   # near-dup of 1
            (3, base.replace("alpha", "omega")),    # near-dup of 1
            (4, "totally different words here now entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b)
           for r in prefix_filter_pairs(df, threshold=0.5).collect()}
    # ground truth: all-pairs exact jaccard
    sh = shingle_sets(df, "doc_id", "text", 3)
    ids = [r.doc_id for r in df.select("doc_id").collect()]
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")
    want = {(r.id_a, r.id_b)
            for r in pair_jaccard(all_pairs, sh, "doc_id")
            .where("jaccard >= 0.5").collect()}
    assert got == want and (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)


def test_dsir_weights_separate_target_from_raw(spark):
    """DSIR importance weights must (a) rank clearly target-like docs
    above clearly raw-like docs, (b) skip docs with < 2 tokens, and
    (c) be deterministic across runs."""
    from graphdb_cia_factbook_spark.operators.sampling import dsir_weights
    from pyspark.sql import functions as F
    target_text = "the quick brown fox jumps over the lazy dog again"
    raw_text = "stack heap register opcode branch cache miss stall flush"
    rows = ([(i, target_text, "tgt") for i in range(10)]
            + [(100 + i, raw_text, "raw") for i in range(10)]
            + [(200, target_text, "raw"),   # raw doc that LOOKS target-like
               (201, "single", "raw")])     # 1 token -> no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    got = dsir_weights(df, F.col("src") == "tgt").collect()
    by_id = {r.doc_id: r for r in got}
    assert 201 not in by_id                       # no features, no row
    # the target-like raw doc scores positive, the raw-like ones negative
    assert by_id[200].log_weight > 0 and by_id[200].selected
    assert by_id[100].log_weight < 0 and not by_id[100].selected
    assert by_id[200].log_weight > by_id[100].log_weight
    # determinism: identical on a second run
    again = {r.doc_id: r.log_weight
             for r in dsir_weights(df, F.col("src") == "tgt").collect()}
    assert again == {i: r.log_weight for i, r in by_id.items()}


def test_pq_topk_recall_and_code_shape(spark):
    """PQ-ADC top-k must emit exactly k results per query, beat chance
    recall against the exact max-inner-product ranking by a wide
    margin, and train codebooks of the declared (m, k_cent, dim/m)
    shape."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_topk,
    )
    from graphdb_cia_factbook_spark.sources import read_parallel
    from pyspark.sql import functions as F
    emb = read_parallel(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    got = pq_topk(emb, q, k=3).collect()
    assert len(got) == 8 * 3
    # recall@3 vs EXACT max-inner-product (PQ approximates the dot, so
    # the fair baseline is exact-dot top-3, not cosine -- cosine ranks
    # by angle and diverges on norm variation alone)
    from graphdb_cia_factbook_spark.operators.similarity import (
        dot,
        topk_per_query,
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("cv"))
    scored = (q.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
              .crossJoin(corpus)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      dot(F.col("qv"), F.col("cv")).alias("adot")))
    exact = topk_per_query(
        scored, 3, order=[F.desc("adot"), F.asc("neighbor_id")]).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(r.neighbor_id in by_q[r.query_id] for r in exact)
    # the synthetic embeddings are near-uniform random, so exact-dot
    # top-3 margins are hairline and 4x16-dim codebooks keep only a
    # coarse sketch; chance recall@3 is 3/N ~ 0.005, so 0.15 is ~30x
    # better than chance while robust to the data's noise floor
    assert hits / len(exact) >= 0.15
    # codebook shape: m subspaces, k_cent centroids each, width dim/m
    cents = pq_codebooks(emb, 4, 16, 8, 1, "vec_id", "embedding").collect()
    assert len(cents) == 4 * 8
    assert all(len(r.cent) == 16 for r in cents)


def test_cms_never_underestimates_and_is_tight_on_heavy_hitters(spark):
    """The count-min contract: estimate >= exact always; and on a
    corpus where one token dominates, its estimate is exact unless a
    collision inflates it (which the width makes unlikely)."""
    from graphdb_cia_factbook_spark.operators.text import (
        count_min_heavy_hitters,
    )
    rows = [(i, "hot " * 50 + f"rare{i} other{i % 13}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = count_min_heavy_hitters(df, top_n=5, depth=3, width=256).collect()
    assert all(r.never_underestimates for r in got)
    top = got[0]
    assert top.token == "hot" and top.exact_cnt == 5000
    assert top.cms_estimate >= 5000


def test_rerank_matches_bruteforce_when_pool_covers(spark):
    """With k_candidates = corpus size the quantized candidate stage
    keeps everything, so exact re-ranking must equal brute force."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_force_topk, rerank_topk)
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in rerank_topk(emb, q, k=3, k_candidates=19).collect()}
    want = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in brute_force_topk(emb, q, k=3).collect()}
    assert got == want


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Query [1,0]; candidates: an exact duplicate pair and one
    orthogonal vector.  Plain top-2 keeps both duplicates; MMR at
    lambda = 0.3 must swap the redundant second pick (maxsim = 1.0)
    for the diverse one."""
    from graphdb_cia_factbook_spark.operators.similarity import mmr_rerank
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]),       # the query
         (1, [0.99, 0.01]),     # near-dup of query (rel ~1)
         (2, [0.99, 0.01]),     # exact duplicate of 1 (redundant)
         (3, [0.0, 1.0])],      # orthogonal, zero relevance
        "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") == 0)
    rows = mmr_rerank(emb, q, k=2, pool=3, lam=0.3).collect()
    picks = {r["mmr_rank"]: r["neighbor_id"] for r in rows}
    assert picks[1] == 1          # most relevant first
    assert picks[2] == 3          # diversity beats the redundant 2


def test_naive_bayes_learns_separable_classes(spark):
    """Two trivially separable vocabularies: the classifier must
    recover the class of held-out docs perfectly."""
    from graphdb_cia_factbook_spark.operators.text import (
        naive_bayes_classify)
    train = spark.createDataFrame(
        [(1, "aa bb aa cc", "A"), (2, "aa cc bb", "A"),
         (3, "xx yy zz xx", "B"), (4, "yy zz yy", "B")],
        "doc_id long, text string, lang string")
    test = spark.createDataFrame(
        [(10, "aa bb", "A"), (11, "zz yy xx", "B")],
        "doc_id long, text string, lang string")
    rows = naive_bayes_classify(train, test).collect()
    assert all(r["correct"] for r in rows)
    assert {r["doc_id"]: r["predicted"] for r in rows} == {10: "A", 11: "B"}


def test_naive_bayes_prior_breaks_unseen_tokens(spark):
    """A doc of only unseen tokens gets identical likelihoods per
    class, so the class PRIOR (and then the label tie-break) decides:
    majority class wins."""
    from graphdb_cia_factbook_spark.operators.text import (
        naive_bayes_classify)
    train = spark.createDataFrame(
        [(1, "aa", "A"), (2, "bb", "A"), (3, "cc", "B")],
        "doc_id long, text string, lang string")
    test = spark.createDataFrame(
        [(10, "qq rr", "B")], "doc_id long, text string, lang string")
    rows = naive_bayes_classify(train, test).collect()
    # same token counts per class (all unseen) but P(A)=2/3 > P(B)=1/3
    # -- except B's smaller token total gives unseen tokens HIGHER
    # per-token likelihood; with 2 unseen tokens and vocab 3:
    # A: ln(2/3) + 2*ln(1/(1+3)); B: ln(1/3) + 2*ln(1/(1+3)) -> A wins
    assert rows[0]["predicted"] == "A"


def test_hard_negatives_excludes_same_label(spark):
    from graphdb_cia_factbook_spark.operators.similarity import (
        hard_negatives)
    rows = ([(0, [1.0, 0.0], 7),
             (1, [0.99, 0.01], 7),   # nearest overall but SAME label
             (2, [0.9, 0.1], 9),     # nearest different-label
             (3, [0.0, 1.0], 9)])
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = hard_negatives(emb, emb.where(F.col("vec_id") == 0),
                         k=2).collect()
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] \
        == [2, 3]
    assert all(r["neg_label"] != r["anchor_label"] for r in got)


def test_hamming_topk_orders_by_sign_agreement(spark):
    from graphdb_cia_factbook_spark.operators.similarity import (
        hamming_topk)
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0]),
         (1, [0.5, 2.0, 0.1, 3.0]),    # 0 mismatches
         (2, [-1.0, 1.0, 1.0, 1.0]),   # 1 mismatch
         (3, [-1.0, -1.0, -1.0, -1.0])],  # 4 mismatches
        "vec_id long, embedding array<float>")
    got = [(r["neighbor_id"], r["hamming"]) for r in
           hamming_topk(emb, emb.where(F.col("vec_id") == 0), k=3)
           .orderBy("rank").collect()]
    assert got == [(1, 0), (2, 1), (3, 4)]


def test_block_dedup_finds_shared_runs_and_caps_hot_blocks(spark):
    from graphdb_cia_factbook_spark.operators.dedup import (
        block_dedup_pairs)
    shared = "x" * 32 + "y" * 32           # 2 DISTINCT 32-char blocks
    boiler = "b" * 64
    rows = ([(1, shared + "unique-one-tail-" + "q" * 32),
             (2, shared + "unique-two-tail-" + "r" * 32),
             (3, "totally different " + "z" * 64)]
            + [(10 + i, boiler + f"doc{i}") for i in range(20)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared_blocks"]
             for r in block_dedup_pairs(df, max_block_df=5).collect()}
    assert pairs.get((1, 2)) == 2          # the two shared blocks
    # boilerplate block df=20 > cap=5: no pair among docs 10..29
    assert not any(a >= 10 and b >= 10 for a, b in pairs)


def test_rrf_fusion_rewards_cross_ranker_consensus(spark):
    """A candidate ranked moderately by BOTH rankers must beat one
    ranked first by a single ranker: 2/(60+2) > 1/(60+1)."""
    from graphdb_cia_factbook_spark.operators.similarity import rrf_fuse
    r1 = spark.createDataFrame(
        [(0, 10, 1), (0, 20, 2), (0, 30, 3)],
        "query_id long, neighbor_id long, rank long")
    r2 = spark.createDataFrame(
        [(0, 40, 1), (0, 20, 2), (0, 10, 9)],
        "query_id long, neighbor_id long, rank long")
    got = [(r["neighbor_id"], r["fused_rank"]) for r in
           rrf_fuse([r1, r2], k=4).orderBy("fused_rank").collect()]
    # 20: 1/62+1/62 = .03226 beats 10: 1/61+1/69 = .03089 and the
    # single-ranker firsts 40: 1/61 = .01639
    assert got[0] == (20, 1)
    assert got[1] == (10, 2)
    assert {n for n, _ in got} == {10, 20, 30, 40}


def test_blocklist_filter_word_boundaries(spark):
    """'error' must hit as a word, not inside 'terrorize'; multiple
    hits count; clean docs keep."""
    from graphdb_cia_factbook_spark.operators.text import blocklist_filter
    df = spark.createDataFrame(
        [(1, "a fatal error and another error"),
         (2, "they terrorize nobody"),          # substring only
         (3, "perfectly clean text")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in blocklist_filter(df).collect()}
    assert got[1]["n_hits"] == 3 and not got[1]["keep"]
    assert got[1]["matched_terms"] == "error,fatal"
    assert got[2]["n_hits"] == 0 and got[2]["keep"]
    assert got[3]["keep"] and got[3]["matched_terms"] == ""


def test_dedup_keep_best_keeps_highest_score(spark):
    """Cluster {1,3,5}: survivor must be the best-scoring member (3),
    not the smallest id; singletons keep themselves."""
    from graphdb_cia_factbook_spark.operators.dedup import dedup_keep_best
    docs = spark.createDataFrame(
        [(i, float(s)) for i, s in [(0, 9), (1, 10), (2, 1),
                                    (3, 99), (5, 50)]],
        "doc_id long, q double")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in
            dedup_keep_best(docs, pairs, F.col("q")).collect()}
    kept = {i for i, r in rows.items() if r["is_kept"]}
    assert kept == {0, 2, 3}
    assert rows[1]["cluster_size"] == 3 and not rows[1]["is_kept"]


def test_epoch_shuffle_is_permutation_and_epoch_varying(spark):
    """Within every (epoch, shard): positions are exactly 1..n.
    Across epochs the order must actually CHANGE (the coin is keyed
    on epoch), and shard assignment must not."""
    from graphdb_cia_factbook_spark.registry import queries
    df = queries()["llm_epoch_shuffle"](spark, SF)
    rows = df.collect()
    by_es = {}
    for r in rows:
        by_es.setdefault((r.epoch, r.shard), []).append(r)
    for (e, s), grp in by_es.items():
        pos = sorted(r.position for r in grp)
        assert pos == list(range(1, len(grp) + 1)), (e, s)
    # same doc set per epoch, different order for at least one shard
    order0 = {(r.shard, r.position): r.doc_id
              for r in rows if r.epoch == 0}
    order1 = {(r.shard, r.position): r.doc_id
              for r in rows if r.epoch == 1}
    assert set(order0.values()) == set(order1.values())
    assert order0 != order1, "epoch 1 order identical to epoch 0"


def test_curriculum_rank_is_total_and_phases_monotone(spark):
    """curriculum_rank must be a bijection 0..N-1 consistent with
    (n_tokens, doc_id) lexicographic order; phases must be monotone
    in rank and near-balanced (integer cut)."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_curriculum_order"](spark, SF).collect()
    n = len(rows)
    ranks = sorted(r.curriculum_rank for r in rows)
    assert ranks == list(range(n))
    by_rank = sorted(rows, key=lambda r: r.curriculum_rank)
    keys = [(r.n_tokens, r.doc_id) for r in by_rank]
    assert keys == sorted(keys)
    phases = [r.phase for r in by_rank]
    assert phases == sorted(phases)          # monotone in rank
    from collections import Counter
    sizes = Counter(phases)
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_char_ppl_flags_unusual_text(spark):
    """A doc made of characters that are rare in the corpus must score
    a higher avg_nll than a doc assembled from common words; scores
    are finite and positive."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_char_ppl"](spark, SF).collect()
    assert rows and all(r.avg_nll > 0 for r in rows)
    import math
    assert all(math.isfinite(r.avg_nll) for r in rows)


def test_retrieval_eval_metric_bounds(spark):
    """All metrics in [0,1]; hits <= k; ndcg > 0 iff hits > 0; with
    hits > 0 the MRR is at least 1/k."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_retrieval_eval"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hits_at_k <= 10
        for m in (r.precision_at_k, r.recall_at_k, r.mrr_at_k,
                  r.ndcg_at_k):
            assert 0.0 <= m <= 1.0, r
        assert (r.ndcg_at_k > 0) == (r.hits_at_k > 0)
        if r.hits_at_k > 0:
            assert r.mrr_at_k >= 1.0 / 10
        assert abs(r.precision_at_k - r.hits_at_k / 10.0) < 1e-12


def test_incremental_dedup_partition_and_first_wins(spark):
    """Every incoming doc is odd-id; per fingerprint at most one
    'admitted' row and it carries the smallest doc_id among the
    non-index rows of that fingerprint."""
    from collections import defaultdict
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_incremental_dedup"](spark, SF).collect()
    assert rows and all(r.doc_id % 2 == 1 for r in rows)
    by_fp = defaultdict(list)
    for r in rows:
        by_fp[r.fingerprint].append(r)
    for grp in by_fp.values():
        statuses = {r.status for r in grp}
        admitted = [r for r in grp if r.status == "admitted"]
        if "dup_of_index" in statuses:
            assert not admitted          # index hit blocks the batch
            assert statuses == {"dup_of_index"}
        else:
            assert len(admitted) == 1
            assert admitted[0].doc_id == min(r.doc_id for r in grp)


def test_minhash_estimate_audit_bounds(spark):
    """Estimates and exact Jaccards are in [0,1] and abs_err is the
    rounded absolute difference."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_minhash_estimate_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err
                   - round(abs(r.est_jaccard - r.exact_jaccard), 8)) \
            < 1e-9


def test_shard_manifest_accounts_for_every_doc(spark):
    """Shard totals must add up to the corpus: doc counts, char
    totals, and id ranges; checksum is order-insensitive by
    construction (commutative sum), non-zero, and shard-dependent."""
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    rows = queries()["llm_shard_manifest"](spark, SF).collect()
    docs = read_table(spark, SF, "documents")
    n, chars = docs.count(), docs.agg(F.sum("n_chars")).first()[0]
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.total_chars for r in rows) == chars
    assert all(r.min_doc_id <= r.max_doc_id for r in rows)
    assert all(r.min_doc_id % 16 == r.shard for r in rows)
    assert len({r.checksum for r in rows}) > 1


def test_calibration_bins_partition_corpus(spark):
    """Calibration bins cover all embeddings exactly once; per-bin
    scores stay inside the bin's nominal range (clamp aside) and the
    gap equals |avg_score - pos_rate|."""
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    rows = queries()["ml_calibration"](spark, SF).collect()
    emb = read_table(spark, SF, "embeddings")
    assert sum(r.n for r in rows) == emb.count()
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.pos_rate <= 1.0
        assert r.bin / 10.0 - 1e-9 <= r.avg_score
        if r.bin < 9:
            assert r.avg_score <= (r.bin + 1) / 10.0 + 1e-9
        assert abs(r.gap - round(abs(r.avg_score - r.pos_rate), 8)) \
            < 2e-8


def test_resume_skip_matches_replay(spark):
    """The O(1) resume state must agree with literally replaying the
    epoch-shuffle stream: for each shard, consuming STEP docs from
    the concatenated per-epoch orders lands exactly on the reported
    (epoch, next_position, next_doc_id)."""
    from graphdb_cia_factbook_spark.queries_llm import (_RESUME_STEP,
                                                        _SHUF_SHARDS)
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    import hashlib
    rows = {r.shard: r
            for r in queries()["llm_resume_skip"](spark, SF).collect()}
    docs = [r.doc_id for r in
            read_table(spark, SF, "documents").select("doc_id").collect()]
    assert set(rows) == set(range(_SHUF_SHARDS))
    for shard, r in rows.items():
        ids = [d for d in docs if d % _SHUF_SHARDS == shard]
        n = len(ids)
        assert r.shard_size == n
        assert r.epoch == _RESUME_STEP // n
        assert r.next_position == _RESUME_STEP % n + 1
        coin = lambda d: (hashlib.md5(
            f"{r.epoch}|{d}".encode()).hexdigest(), d)
        order = sorted(ids, key=coin)
        assert r.next_doc_id == order[_RESUME_STEP % n]


def test_interleave_mixture_proportions(spark):
    """Stride scheduling: positions are 1..TAKE; within the prefix
    each language's doc count tracks TAKE/stride within 1 (the
    stride-scheduling fairness bound), and per-language docs appear
    in k order."""
    from collections import Counter, defaultdict
    from graphdb_cia_factbook_spark.queries_llm import (_MIX_STRIDES,
                                                        _MIX_TAKE)
    from graphdb_cia_factbook_spark.registry import queries
    rows = sorted(queries()["llm_interleave_mixture"](spark, SF)
                  .collect(), key=lambda r: r.position)
    assert [r.position for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= _MIX_TAKE
    vmax = rows[-1].vtime
    counts = Counter(r.lang for r in rows)
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r.k)
    for lang, ks in by_lang.items():
        assert ks == sorted(ks)                      # k order preserved
        stride = _MIX_STRIDES[lang]
        # docs of `lang` scheduled by vmax = floor(vmax/stride) capped
        # by availability; the emitted count can lag by the boundary
        # ties only
        assert abs(counts[lang] - vmax // stride) <= len(_MIX_STRIDES)


def test_packing_efficiency_accounting(spark):
    """Per shard: total_tokens + pad_tokens == n_seqs * budget; the
    straddling count is consistent with budget-sized chunks (a doc
    longer than the budget must straddle)."""
    from graphdb_cia_factbook_spark.queries_llm import _PACK_BUDGET
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_packing_efficiency"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.total_tokens + r.pad_tokens == r.n_seqs * _PACK_BUDGET
        assert 0 <= r.pad_tokens < _PACK_BUDGET
        assert 0.0 <= r.pad_frac < 1.0
        assert 0 <= r.n_straddling <= r.n_docs


def test_curation_pipeline_statuses_partition(spark):
    """Every doc gets exactly one status; duplicates beyond the first
    occurrence are 'exact_dup'; the kept set is non-empty and every
    status value is legal."""
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    rows = queries()["llm_curation_pipeline"](spark, SF).collect()
    n = read_table(spark, SF, "documents").count()
    assert len(rows) == n
    legal = {"exact_dup", "too_short", "low_quality", "kept"}
    assert {r.status for r in rows} <= legal
    assert any(r.status == "kept" for r in rows)


def test_tile_manifest_ceil_division(spark):
    """Tile counts are exact ceil divisions; padding is < tile edge;
    n_tiles = nx * ny."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["mm_tile_manifest"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_tiles_x == -(-r.width // 16)
        assert r.n_tiles_y == -(-r.height // 16)
        assert r.n_tiles == r.n_tiles_x * r.n_tiles_y
        assert 0 <= r.pad_x < 16 and 0 <= r.pad_y < 16


def test_ablation_subsets_are_nested_and_sized(spark):
    """Tiers are nested by construction: tier counts must be ordered
    10% <= 25% <= 50% of corpus (up to coin variance) and every doc
    gets exactly one tier."""
    from collections import Counter
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_ablation_subsets"](spark, SF).collect()
    n = len(rows)
    c = Counter(r.tier for r in rows)
    assert set(c) <= {10, 25, 50, 100}
    in10 = c[10]
    in25 = c[10] + c[25]
    in50 = c[10] + c[25] + c[50]
    assert in10 <= in25 <= in50 <= n
    # loose binomial sanity: each nested subset within 4 sigma
    import math
    for target, got in ((0.10, in10), (0.25, in25), (0.50, in50)):
        sigma = math.sqrt(n * target * (1 - target))
        assert abs(got - n * target) <= 4 * sigma + 1


def test_bitext_margin_consistency(spark):
    """Each source doc appears once; margin >= 0 (top1 beats top2)
    and cos values are valid cosines."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_bitext_mining"](spark, SF).collect()
    assert rows
    ids = [r.query_id for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        assert -1.000001 <= r.cos_top1 <= 1.000001
        assert r.margin >= -1e-9


def test_template_fingerprint_clusters_numeric_variants(spark):
    """Docs identical up to digit runs share a template fingerprint;
    genuinely different docs do not; the registered query surfaces
    exactly the multi-doc clusters."""
    from graphdb_cia_factbook_spark.operators.text import (
        template_fingerprint)
    df = spark.createDataFrame(
        [(0, "Order #123 shipped on 2024-01-02"),
         (1, "Order #9876 shipped on 2025-12-31"),
         (2, "Order  #55   shipped on 1999-07-04"),   # ws collapsed too
         (3, "your parcel was returned"),
         (4, "ORDER #1 SHIPPED ON 2020-05-06")],      # case-folded
        "doc_id long, text string")
    rows = df.select("doc_id",
                     template_fingerprint(F.col("text")).alias("fp")) \
        .collect()
    fps = {r.doc_id: r.fp for r in rows}
    assert fps[0] == fps[1] == fps[2] == fps[4]
    assert fps[3] != fps[0]


def test_source_drift_tvd_bounds_and_self_consistency(spark):
    """TVD is in [0,1]; a source whose tokens are drawn from the same
    pool as the corpus has TVD well below 1; token counts are
    positive."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_source_drift_tvd"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.tvd <= 1.0
        assert r.n_tokens_src > 0 and r.n_shared_vocab > 0
        assert r.tvd < 0.999


def test_caption_pairs_filters_and_buckets(spark):
    """Every surviving pair satisfies the dim/token gates; the aspect
    bucket matches integer cross-multiplication semantics."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_caption_pairs"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.width >= 64 and r.height >= 64
        assert 5 <= r.n_tokens <= 80
        if r.width * 10 >= r.height * 12:
            assert r.aspect_bucket == "wide"
        elif r.height * 10 >= r.width * 12:
            assert r.aspect_bucket == "tall"
        else:
            assert r.aspect_bucket == "square"


def test_cluster_cards_partition_and_cohesion(spark, emb):
    """Cards partition the corpus (member counts sum to N), cohesion
    is a valid mean cosine, exemplar belongs to its own cluster's id
    range, and dominant labels are real labels."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_cluster_cards"](spark, SF).collect()
    n = emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert sum(r.n_members for r in rows) == n
    for r in rows:
        assert -1.0 - 1e-9 <= r.mean_cos <= 1.0 + 1e-9
        assert r.top_label in labels
        assert r.n_members >= 1


def test_ivf_recall_audit_bounds_and_truth(spark):
    """Recall is hits/k in [0,1]; a query whose IVF list contains all
    brute-force neighbors scores 1.0; n_hits <= k."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["llm_ivf_recall_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= 3
        assert abs(r.recall_at_k - r.n_hits / 3) < 1e-12


def test_pipeline_funnel_monotone_and_consistent(spark):
    """Funnel counts/tokens are monotone non-increasing and the final
    stage equals the curation pipeline's kept set."""
    from graphdb_cia_factbook_spark.registry import queries
    qs = queries()
    stages = {r.stage: r for r in
              qs["llm_pipeline_funnel"](spark, SF).collect()}
    order = ["ingested", "after_exact_dedup", "after_length_gate",
             "after_quality_gate"]
    for a, b in zip(order, order[1:]):
        assert stages[a].n_docs >= stages[b].n_docs
        assert stages[a].n_tokens >= stages[b].n_tokens
    kept = sum(1 for r in qs["llm_curation_pipeline"](spark, SF)
               .collect() if r.status == "kept")
    assert stages["after_quality_gate"].n_docs == kept


def test_audio_windows_integer_consistency(spark):
    """Window counts reconstruct from samples/win/hop exactly; garbage
    payloads (doc_id % 7 == 0) are excluded by the header check."""
    from graphdb_cia_factbook_spark.registry import queries
    rows = queries()["mm_audio_windows"](spark, SF).collect()
    assert rows and all(r.media_id % 7 != 0 for r in rows)
    for r in rows:
        assert r.sample_rate in (8000, 16000, 44100)
        want = ((r.n_samples - r.win_samples) // r.hop_samples + 1
                if r.n_samples >= r.win_samples else 0)
        assert r.n_windows == want
        assert r.duration_ms == r.n_samples * 1000 // r.sample_rate


def test_funnel_time_to_convert_ordering(spark):
    """Percentiles are ordered min <= p50 <= p90 <= max, all
    non-negative, and converted count is at most the purchase-user
    count."""
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    r = queries()["funnel_time_to_convert"](spark, SF).collect()[0]
    assert 0 <= r.min_s <= r.p50_s <= r.p90_s <= r.max_s
    purch = (read_table(spark, SF, "events")
             .where(F.col("event_type") == "purchase")
             .select("user_id").distinct().count())
    assert 0 < r.n_converted <= purch


def test_near_dup_pairs_arrow_bit_equal(spark, emb):
    """The per-bucket Arrow scoring kernel must reproduce the Catalyst
    near_dup_pairs EXACTLY -- same pairs, bit-equal rounded cosines
    (same per-dimension IEEE accumulation as the fold, rounding done
    in Catalyst on both paths)."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_arrow,
    )
    want = {(r.id_a, r.id_b): r.cos
            for r in near_dup_pairs(emb, threshold=0.2,
                                    nbits=4).collect()}
    got = {(r.id_a, r.id_b): r.cos
           for r in near_dup_pairs_arrow(emb, threshold=0.2, dim=64,
                                         nbits=4,
                                         chunk_rows=7).collect()}
    assert got == want  # bit-equal floats: == on raw doubles
    assert want  # non-vacuous at this threshold


def test_near_dup_pairs_hot_bucket_cap(spark):
    """max_bucket_size excludes over-cap buckets from candidate
    generation (the sign-LSH analog of the MinHash hot-bucket rule)
    and changes nothing else; default None keeps every in-bucket
    pair (the oracle-verified semantics)."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        near_dup_pairs)
    # bucket A: 4 aligned vectors (one 4-doc bucket -> 6 pairs);
    # bucket B: 2 aligned vectors of the opposite sign pattern
    rows = ([(i, [1.0, 1.0, 1.0, 1.0]) for i in range(4)]
            + [(10 + i, [-1.0, -1.0, -1.0, -1.0]) for i in range(2)])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = near_dup_pairs(emb, threshold=0.9, nbits=4)
    got_full = {(r.id_a, r.id_b) for r in full.collect()}
    assert got_full == ({(a, b) for a in range(4) for b in range(4) if a < b}
                        | {(10, 11)})
    capped = near_dup_pairs(emb, threshold=0.9, nbits=4, max_bucket_size=3)
    got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got_capped == {(10, 11)}   # the 4-doc bucket is excluded whole


def test_near_dup_pairs_arrow_zero_norm_fails_fast(spark):
    """A zero-norm vector must raise loudly inside the kernel: its NaN
    cosine would fail the numpy `>=` (and the oracle's NULL fails the
    WHERE) while the Catalyst fold's NaN is ordered GREATER than any
    double by Spark SQL and would KEEP the pair -- a silent three-way
    divergence on degenerate data (ADVICE round 9)."""
    import pytest

    from graphdb_cia_factbook_spark.operators.similarity import (
        near_dup_pairs_arrow)
    rows = [(0, [1.0, 1.0, 1.0, 1.0]), (1, [1.0, 1.0, 1.0, 1.0]),
            (2, [0.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="zero-norm"):
        near_dup_pairs_arrow(emb, threshold=0.5, dim=4, nbits=2).collect()


def test_near_dup_pairs_arrow_bucket_parallelism_warning(spark):
    """One task per LSH bucket: when 2^nbits is below the cluster's
    defaultParallelism the docstring's sizing promise must surface as
    a runtime RuntimeWarning, not stay prose (VERDICT round 9)."""
    import warnings

    from graphdb_cia_factbook_spark.operators.similarity import (
        near_dup_pairs_arrow)
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    if spark.sparkContext.defaultParallelism <= 2:
        pytest.skip("nbits=1 warning cannot fire on a 1-2 core host")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_dup_pairs_arrow(emb, threshold=0.5, dim=2, nbits=1)
    assert any(issubclass(x.category, RuntimeWarning)
               and "defaultParallelism" in str(x.message) for x in w)


def test_blocked_topk_scratch_tracked_and_cleared(spark, emb, tmp_path,
                                                  monkeypatch):
    """The blocked kernel's phase-1 parquet spill must not leak: it
    lands below Spark's local dir (the first ``SPARK_LOCAL_DIRS``
    entry), stays while its result is read, and ``clear_scratch``
    deletes it (ADVICE round 9)."""
    from graphdb_cia_factbook_spark.operators.similarity import (
        brute_topk_arrow_blocked)
    from graphdb_cia_factbook_spark.session import clear_scratch
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/nonexistent")
    queries = emb.where(F.col("vec_id") < 8)
    out = brute_topk_arrow_blocked(emb, queries, k=2, dim=64,
                                   block_rows=3)
    spills = list(tmp_path.iterdir())
    assert [p.name[:12] for p in spills] == ["topk_blocks_"]
    assert spills[0].is_dir()
    assert out.count() > 0          # consumer done before the clear
    assert spills[0].is_dir()
    clear_scratch(spark)
    assert not spills[0].exists()


def test_counted_scores_sliced_equals_single_pass(spark, docs):
    """Forcing the pair stream through multiple hash slices must
    reproduce the single-pass result EXACTLY: slicing a groupBy on
    its own group key is a partition of the key space, and per-pair
    independence makes the union identical (the
    brute_topk_arrow_blocked argument, dedup edition)."""
    from unittest import mock

    from graphdb_cia_factbook_spark.operators import dedup

    want = {(r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_dedup(
                docs, threshold=0.3).collect()}
    orig = dedup._counted_scores

    def forced(pairs, side, id_col, raw_pairs, score, **kw):
        # a budget of a third of the measured volume: a few slices, not
        # one per 50 pairs (each slice is a sequential parquet pass)
        budget = max(1, raw_pairs // 3)
        assert raw_pairs // budget + 1 >= 2  # really sliced
        return orig(pairs, side, id_col, raw_pairs, score,
                    max_pairs_per_pass=budget)
    with mock.patch.object(dedup, "_counted_scores", side_effect=forced):
        got = {(r.id_a, r.id_b, r.jaccard)
               for r in dedup.ngram_jaccard_dedup(
                   docs, threshold=0.3).collect()}
    assert got == want and want  # bit-equal doubles, non-vacuous
