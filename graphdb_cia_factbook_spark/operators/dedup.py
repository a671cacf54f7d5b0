"""Deduplication operators for training-data pipelines (north-star
extension; SURVEY.md Phase 5): exact, MinHash-LSH, SimHash, n-gram
Jaccard.

Hash-function portability: every hash here is md5 (hex string), so
signatures/buckets are identical on any engine and any cluster -- the
property the DuckDB oracles verify.  At 100 TB the md5 cost is
negligible next to the shuffle; swap in xxhash64 for speed only if
cross-system stability is not required.

Scale notes per operator are in each docstring; the common theme:
never materialize the O(N^2) pair space -- LSH buckets (band join)
keep candidate generation linear in the number of colliding docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, shingles


def _hold(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer intermediate.

    ``localCheckpoint`` (eager) truncates the lineage so each consumer
    reads the materialized partitions instead of re-running the
    explode/groupBy chain -- measured 2-3x faster than ``persist`` here
    because downstream plans become trivial scans (no AQE re-planning
    of a cached subtree).  Trade-off at cluster scale: local
    checkpoints don't survive executor loss; a 100-TB run would use
    ``persist(MEMORY_AND_DISK)`` or stage the shingle table to storage
    instead -- swap this one function."""
    return df.localCheckpoint()


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5(normalized text); canonical doc is the
    min id.  One hash-shuffle on the 32-byte fingerprint -- the 100-TB
    baseline dedup (the fingerprint, not the document, shuffles)."""
    return (df.select(F.col(id_col), fingerprint(F.col(text_col))
                      .alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def _shingle_rows(df: DataFrame, id_col: str, text_col: str,
                  k: int = 3) -> DataFrame:
    """Word-k-shingles per doc as (id, shingle) rows, one per position
    (a shingle repeated in a doc repeats here).  A narrow map of the
    scan: no shuffle, so the rows keep the scan's partitioning."""
    return df.select(F.col(id_col),
                     F.explode(shingles(F.col(text_col), k)).alias("shingle"))


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 k: int = 3) -> DataFrame:
    """Distinct word-k-shingles per doc: (id, shingle) rows."""
    return _shingle_rows(df, id_col, text_col, k).distinct()


def minhash_signatures(sh: DataFrame, id_col: str,
                       num_hashes: int = 12) -> DataFrame:
    """MinHash signatures: h_i(doc) = min over shingles of
    md5(i || '|' || shingle).  Lexicographic min over md5 hex == min
    over a uniform 128-bit hash family, and is engine-portable.
    One groupBy over the shingle rows computes all ``num_hashes``
    mins map-side (partial agg) -- no per-hash pass.

    NEGATIVE RESULT, measured round 12 (do not redo): hashing each
    DISTINCT shingle once and joining the hash row back (shingles
    repeat across docs, dup factor 9.6x at bench scale, so the md5
    count drops 9.6x) measured **1.30x WORSE** on the 32-hash sharp
    entry in an interleaved A/B.  The inline form min-folds each md5
    inside one codegen loop and never materializes it; the join form
    pays a distinct exchange, a ~30 MB broadcast build, and -- the
    dominant cost -- 260k joined rows x 32 hash-string columns (~1 KB/
    row) flowing between the join and the partial aggregate.  The md5
    compute it saves was only ~0.6s spread over the cluster; the wide
    intermediate costs more at every scale."""
    return sh.groupBy(id_col).agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))))
        .alias(f"h{i}") for i in range(num_hashes)])


def lsh_bands(sig: DataFrame, id_col: str, bands: int,
              rows_per_band: int) -> DataFrame:
    """Band the signature: bucket key = md5 of the concatenated band
    slice.  Output (id, band, bucket)."""
    pairs = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        pairs.append(F.struct(F.lit(b).alias("band"),
                              F.md5(F.concat_ws("|", *cols)).alias("bucket")))
    return (sig.select(id_col, F.explode(F.array(*pairs)).alias("bb"))
            .select(id_col, F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str,
                        max_bucket_size: int = 10_000) -> DataFrame:
    """Candidate pairs: docs sharing any (band, bucket).

    ONE shuffle: group the band rows by (band, bucket), then enumerate
    in-bucket pairs from the sorted id array with higher-order
    functions -- sum(bucket_size^2) work, the same cost shape as a
    bucket self-join but without reading the signature table twice or
    shuffling both join sides.

    ``max_bucket_size`` is the hot-bucket guard (the MinHash analog of
    the shingle/chunk/fingerprint DF caps): buckets above the cap are
    excluded from enumeration, because a bucket of m docs yields m^2/2
    pair structs inside ONE task's array -- a dup-heavy corpus (the
    norm at crawl scale: mirrors, boilerplate) would otherwise build a
    billions-element array in a single executor.  Docs in a mega
    bucket are overwhelmingly exact/near-exact duplicates of each
    other; run :func:`exact_dedup` FIRST (the standard pipeline order)
    and the survivors fall under the cap."""
    buckets = (bands_df.groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .where((F.size("ids") > 1)
                      & (F.size("ids") <= max_bucket_size)))
    pairs = buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
    return pairs.select("p.id_a", "p.id_b").distinct()


def pair_jaccard(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for given pairs from (id, shingle) rows (repeats
    allowed -- each doc's set is a ``collect_set``):
    each candidate doc's shingle set is collected ONCE, the pair list
    joins its two set arrays, and |A∩B| is a per-row
    ``array_intersect`` -- |A∪B| = |A|+|B|-|A∩B|, integer counts ->
    exact double division.

    Output-set contract: EVERY input pair whose two docs both have at
    least one shingle is returned, including pairs with jaccard=0.0
    (the pre-round-5 co-shingle self-join silently dropped
    zero-intersection pairs).  Callers that want the old contract
    filter ``jaccard >= t`` for positive t -- as every in-tree caller
    does -- or add ``n_inter > 0``.  A pair with an UNSHINGLED side
    (doc shorter than k tokens) is still dropped by the inner joins;
    such docs never enter LSH candidates anyway.

    Scale shape (the round-5 sf10 lesson): LSH bucket sizes grow
    linearly with the corpus, so CANDIDATE PAIRS grow quadratically in
    the bucket tail (measured 176k -> 1.9M on 3.3x docs).  The
    previous shingle-keyed self-join materialized every co-shingle
    row pair among candidate docs BEFORE the pair filter -- a second
    quadratic term on top (one shingle shared by m candidate docs
    contributed m^2/2 rows whether or not they were candidates).  The
    array form is linear in |pairs|: work per row is the bounded
    intersect of two per-doc sets, there is no self-join, and the only
    wide rows (the set arrays) appear exactly once per pair side.
    Measured at sf10 (500k docs, 1.9M candidate pairs), same harness:
    verify stage 253s -> 54s, and now FLAT from sf3 to sf10 (52s vs
    54s on 10.8x the candidates -- fixed costs dominate) where the
    self-join grew 5.6x per rung.

    ``pairs`` feeds three plan branches (both join sides and the doc
    prune); persisting it stops the candidate pipeline from being
    recomputed per branch."""
    pairs = _hold(pairs)
    cand_docs = (pairs.select(F.col("id_a").alias(id_col))
                 .union(pairs.select(F.col("id_b").alias(id_col)))
                 .distinct())
    # shuffle_hash hint: doc_sets carries the per-doc SET ARRAYS, so
    # row-count stats under-estimate its bytes by ~100x and AQE will
    # happily plan it as a broadcast -- collecting a corpus-sized
    # array table to the driver (measured at sf10: the broadcast
    # build job ships ~30MB per task and dies on maxResultSize /
    # heap).  A set table sized by the corpus is never the side you
    # broadcast at 100 TB; pin the shuffle join.
    doc_sets = (sh.join(F.broadcast(cand_docs), id_col, "left_semi")
                .groupBy(id_col)
                .agg(F.collect_set("shingle").alias("shs"))
                .hint("shuffle_hash"))
    return (pairs
            .join(doc_sets.select(F.col(id_col).alias("id_a"),
                                  F.col("shs").alias("shs_a")), "id_a")
            .join(doc_sets.select(F.col(id_col).alias("id_b"),
                                  F.col("shs").alias("shs_b")), "id_b")
            .withColumn("n_inter",
                        F.size(F.array_intersect("shs_a", "shs_b")))
            .select("id_a", "id_b",
                    (F.col("n_inter")
                     / (F.size("shs_a") + F.size("shs_b")
                        - F.col("n_inter")))
                    .alias("jaccard")))


def minhash_lsh_dedup(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k_shingle: int = 3,
                      num_hashes: int = 12, bands: int = 4,
                      threshold: float = 0.5,
                      max_bucket_size: int = 10_000) -> DataFrame:
    """End-to-end MinHash-LSH near-dedup: shingle -> signature -> band
    buckets -> candidate pairs (hot buckets above ``max_bucket_size``
    excluded, see :func:`lsh_candidate_pairs`) -> exact-Jaccard
    verification >= threshold.

    With b=4, r=3 the candidate probability is 1-(1-j^3)^4 (~50% at
    j=0.5); verification removes false positives, so the output equals
    brute-force Jaccard dedup restricted to LSH-recalled pairs."""
    rows_per_band = num_hashes // bands
    # the shingle rows feed the signature AND the verification
    # self-join; the signature->bands->pairs chain is linear (single
    # consumer each) so only sh and the final pairs materialize.  The
    # rows are held WITHOUT a distinct: min is idempotent and
    # pair_jaccard collects sets, so repeats change neither result,
    # and with no shuffle the held table keeps the scan's partitions.
    # A distinct's exchange came out of AQE coalesced to one partition
    # at bench scale, which ran the num_hashes x md5 signature
    # aggregate as one task.
    sh = _hold(_shingle_rows(df, id_col, text_col, k_shingle))
    sig = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidate_pairs(lsh_bands(sig, id_col, bands, rows_per_band),
                               id_col, max_bucket_size=max_bucket_size)
    return (pair_jaccard(cand, sh, id_col)
            .where(F.col("jaccard") >= threshold))


def dedup_clusters(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Fuzzy-dedup RESOLUTION: verified near-dup pairs -> connected
    components -> one canonical survivor per cluster.  This is the
    step that turns pairwise near-dup detection into an actually
    deduplicated corpus (near-duplicates are transitive in practice:
    A~B and B~C drifted copies must all collapse to ONE survivor, not
    two, which naive pairwise removal gets wrong).

    Output one row per input doc: (doc_id, cluster_id, cluster_size,
    is_canonical) where cluster_id = min doc id in the component and
    is_canonical marks the survivor -- downstream dedup is
    ``.where("is_canonical")``.

    Scale shape: the component loop runs on the PAIR graph only
    (verified near-dups, orders of magnitude smaller than the corpus)
    and converges in ~chain-length supersteps; docs in no pair never
    enter the loop and become singletons via one corpus-sized left
    join.  The cluster_size window shuffles only (id, cluster_id)
    pairs -- 16 bytes/row at any corpus size."""
    from .graph import Graph, connected_components

    # the pair pipeline feeds three consumers (component vertices,
    # component edges, and the loop itself) -- materialize it once
    pairs = _hold(pairs.select("id_a", "id_b"))
    pair_docs = (pairs.select(F.col("id_a").alias("id"))
                 .union(pairs.select(F.col("id_b").alias("id")))
                 .distinct())
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    comp = connected_components(Graph(pair_docs, edges))
    labeled = (df.select(id_col)
               .join(comp.withColumnRenamed("id", id_col), id_col, "left")
               .select(id_col, F.coalesce("component", F.col(id_col))
                       .alias("cluster_id")))
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        id_col, "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"))


def _doc_count_sides(keyed: DataFrame, id_col: str, key_col: str,
                     max_df: int) -> DataFrame:
    """Per-doc scoring sides for COUNT-decomposed set intersection:
    one row per doc with its total distinct-key count (``__sz``) and
    its HOT-key set (keys with document frequency > ``max_df``)
    dictionary-encoded to a sorted int array (``__hot``).

    The decomposition (see :func:`ngram_jaccard_dedup`):
    ``|A ∩ B| = n_rare (a co-occurrence COUNT from the enumeration
    stream, no arrays) + |hot(A) ∩ hot(B)|``.  Only the hot remainder
    needs per-doc sets, and the hot DICTIONARY is bounded by
    construction: at most ``|keyed| / max_df`` distinct keys can
    exceed the cap, so the global row_number window here runs over a
    provably small table (32.6M shingle rows / df-cap 1000 = <=32.6k
    dictionary rows at the sf10 rung) and the per-doc arrays carry
    4-byte codes instead of ~25-byte shingle strings."""
    dfs = keyed.groupBy(key_col).agg(F.count(F.lit(1)).alias("__df"))
    hot_dict = (dfs.where(F.col("__df") > max_df)
                .select(key_col)
                .withColumn("__code",
                            F.row_number().over(Window.orderBy(key_col))))
    hot_sets = (keyed.join(F.broadcast(hot_dict), key_col)
                .groupBy(id_col)
                .agg(F.array_sort(F.collect_set("__code")).alias("__hot")))
    sizes = keyed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    # the side table feeds BOTH pair sides of _attach_sides -- hold it
    # so the dfs/hot/sizes subtree runs once, not once per join side
    return _hold(sizes.join(hot_sets, id_col, "left")
                 .withColumn("__hot", F.coalesce(
                     F.col("__hot"), F.expr("array()").cast("array<int>"))))


def _attach_sides(counts: DataFrame, side: DataFrame, id_col: str,
                  n_part: int) -> DataFrame:
    """Join the (id_a, id_b, rare-count) stream to the per-doc scoring
    sides at VOLUME-SIZED width.  The side table scales with the
    corpus, so it is never broadcast (the pair_jaccard shuffle_hash
    lesson); the candidate stream carries only 8-byte ids + a count
    through each exchange -- the per-pair payload the old
    set-carrying joins shipped (two ~3 KB shingle-string arrays per
    row, measured ~1.5 TB of exchange at the sf10 rung's candidate
    volume) never exists."""
    sa = side.select(F.col(id_col).alias("id_a"),
                     F.col("__sz").alias("__sza"),
                     F.col("__hot").alias("__ha"))
    sb = side.select(F.col(id_col).alias("id_b"),
                     F.col("__sz").alias("__szb"),
                     F.col("__hot").alias("__hb"))
    j1 = (counts.repartition(n_part, "id_a")
          .join(sa.repartition(n_part, "id_a").hint("shuffle_hash"),
                "id_a"))
    return (j1.repartition(n_part, "id_b")
            .join(sb.repartition(n_part, "id_b").hint("shuffle_hash"),
                  "id_b"))


def _counted_scores(pairs: DataFrame, side: DataFrame, id_col: str,
                    raw_pairs: int, score,
                    max_pairs_per_pass: int = 800_000_000) -> DataFrame:
    """Aggregate a raw co-occurrence pair stream to per-pair counts,
    attach the scoring sides, and apply ``score`` (projection +
    threshold filter) -- SLICED when the measured raw volume exceeds
    ``max_pairs_per_pass``.

    The single count exchange is volume-sized, but its total BYTES
    still scale with the raw volume: at the sf10 rung's measured
    3.54B raw pairs one exchange spills ~60 GB -- more than this
    host's free disk next to the pipeline's checkpoints (the receipt
    run filled the disk).  Above the per-pass budget the (id_a, id_b)
    key space is hash-partitioned into ``ceil(raw / budget)`` slices
    processed SEQUENTIALLY (the ``brute_topk_arrow_blocked`` posture:
    bounded passes, eagerly materialized): each pass filters the
    enumeration stream BEFORE the exchange, so peak spill is one
    slice's shuffle, and only >= threshold SURVIVORS hit the scratch
    parquet.  Slicing a groupBy on its own group key is exact by
    construction, and per-pair independence makes the union
    identical to the single-pass result.  On a real cluster the
    budget rises with aggregate shuffle capacity (it is a per-PASS
    spill bound, not a semantics knob).  The survivors spill to a
    :func:`session.spill_dir`, which the build's scope deletes."""
    n_slices = int(raw_pairs // max_pairs_per_pass) + 1
    width = max(32, min(4096,
                        int(raw_pairs // n_slices // 4_000_000) + 1))

    def one(src: DataFrame) -> DataFrame:
        counts = (src.repartition(width, "id_a", "id_b")
                  .groupBy("id_a", "id_b")
                  .agg(F.count(F.lit(1)).alias("__nr")))
        return score(_attach_sides(counts, side, id_col, width))

    if n_slices <= 1:
        return one(pairs)
    from ..session import spill_dir
    spark = pairs.sparkSession
    out = spill_dir("pair_slices")
    key = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(n_slices))
    schema = None
    for s in range(n_slices):
        res = one(pairs.where(key == s))
        res.write.mode("append").parquet(out)
        schema = res.schema
    return spark.read.schema(schema).parquet(out)


def ngram_jaccard_dedup(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k_shingle: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int = 1000) -> DataFrame:
    """Brute n-gram Jaccard: all pairs sharing >= 1 sufficiently-rare
    shingle, exact Jaccard >= threshold over the FULL shingle sets.

    Shingle-keyed candidate generation bounds the pair space to
    actually-overlapping docs (never a cross join), but a shingle
    appearing in m docs contributes m^2/2 candidate pairs -- one
    boilerplate phrase shared by 1M docs would alone materialize 5e11
    pairs.  ``max_shingle_df`` is the standard hot-shingle guard:
    shingles whose document frequency exceeds it are excluded from
    CANDIDATE GENERATION (scoring still uses every shingle), capping
    the per-shingle contribution at df_cap^2/2 pairs.  A high-Jaccard
    pair is recalled unless ALL its shared shingles are
    boilerplate-common -- exactly the pairs near-dedup should not
    merge anyway.  Prefer MinHash-LSH beyond ~10M docs.

    Scale shape (round-9 sf10 lesson, COMPLETED in round 10): pairs
    enumerate from per-shingle sorted doc arrays (the
    :func:`lsh_candidate_pairs` shape -- ONE groupBy, arrays bounded
    by the df cap) instead of a shingle-keyed self-join, and the
    stream aggregates ON A VOLUME-SIZED SHUFFLE: a dup-heavy corpus
    legitimately enumerates billions of raw pairs (measured 3.54B at
    the sf10 rung), and any per-pair stage running on the session's
    default partition count hands each reducer a heap-breaking
    workload.  The exact raw-pair volume is knowable CHEAPLY before
    enumeration -- ``sum(df^2/2)`` over the per-shingle counts -- so
    every downstream width is computed from it (~4M pairs per
    reducer, the ``graph._sized_partitions`` contract).

    The round-10 completion: round 9 volume-sized only the pair
    DISTINCT; the sf10 receipt run then OOM'd one stage later, in
    :func:`pair_jaccard`'s verify joins -- each candidate row there
    carries BOTH docs' full shingle-string sets (~3 KB/pair sides),
    which at billions of candidates is a multi-TB exchange no width
    fixes.  Verification is now COUNT-DECOMPOSED: the enumeration
    stream itself is the rare-shingle co-occurrence count
    (``groupBy(id_a, id_b).count()`` REPLACES the distinct -- same
    shuffle, and the count IS ``|A ∩ B ∩ rare|`` because per-doc
    shingles are distinct), and the remainder ``|A ∩ B ∩ hot|`` uses
    per-doc HOT-ONLY sets, dictionary-encoded to int codes -- the hot
    dictionary is bounded by ``|sh| / max_df`` rows by construction
    (:func:`_doc_count_sides`).  Exact same jaccard integers; the
    per-pair exchange payload drops from two string sets to two ids,
    a count, and two small int arrays."""
    sh = _hold(shingle_sets(df, id_col, text_col, k_shingle))
    buckets = (sh.groupBy("shingle")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .where((F.size("ids") > 1)
                      & (F.size("ids") <= max_shingle_df)))
    buckets = _hold(buckets)
    # 1-row aggregate over bucket SIZES (cheap, runs before any pair
    # exists) -- the same eager-at-construction posture as _hold
    raw_pairs = (buckets
                 .agg(F.sum(F.size("ids").cast("long")
                            * (F.size("ids") - 1) / 2).alias("n"))
                 .collect()[0]["n"]) or 0
    pairs = buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
    side = _doc_count_sides(sh, id_col, "shingle", max_shingle_df)

    def _score(j: DataFrame) -> DataFrame:
        n_inter = (F.col("__nr")
                   + F.size(F.array_intersect("__ha", "__hb")))
        return (j.select("id_a", "id_b",
                         (n_inter / (F.col("__sza") + F.col("__szb")
                                     - n_inter)).alias("jaccard"))
                .where(F.col("jaccard") >= threshold))

    return _counted_scores(pairs.select("p.id_a", "p.id_b"), side,
                           id_col, int(raw_pairs), _score)


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k_shingle: int = 3) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``k_shingle``-gram with a held-out evaluation set (the
    n-gram-overlap test every serious pretraining pipeline runs before
    training, so eval answers don't leak into the corpus).

    Output one row per train doc: (id, n_shared_shingles,
    contaminated) -- filter ``~contaminated`` downstream.

    Scale shape: the benchmark side collapses to its DISTINCT shingle
    set (eval suites are tiny relative to the corpus, typically
    broadcast-sized); the train side streams through one semi-join
    keyed on shingle + one doc-keyed count.  The corpus is never
    self-joined and never shuffled whole -- only (doc, shingle) rows
    that actually hit the benchmark set move."""
    bench_sh = (shingle_sets(benchmark, id_col, text_col, k_shingle)
                .select("shingle").distinct())
    train_sh = shingle_sets(train, id_col, text_col, k_shingle)
    hits = (train_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shared_shingles")))
    return (train.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_shared_shingles", F.lit(0))
                    .alias("n_shared_shingles"))
            .withColumn("contaminated", F.col("n_shared_shingles") > 0))


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", nbits: int = 16,
                          bands: int = 4, max_hamming: int = 2,
                          max_chunk_df: int = 1000) -> DataFrame:
    """SimHash near-dup PAIRS: the banding trick applied to SimHash
    signatures.  Split each ``nbits``-bit signature into ``bands``
    chunks; any pair differing in <= max_hamming bits must agree on at
    least one whole chunk (pigeonhole: bands > max_hamming), so an
    equi-join per chunk finds every such pair without an all-pairs
    comparison; exact Hamming distance then verifies candidates.

    ``max_chunk_df`` is the hot-chunk guard (same pattern as
    ``ngram_jaccard_dedup.max_shingle_df``): a (band, chunk) bucket
    holding m docs contributes m^2/2 candidates, so on a low-entropy
    corpus (one boilerplate template = one dominant chunk value) the
    bucket join degenerates quadratic.  Buckets with document
    frequency above the cap are excluded from CANDIDATE GENERATION
    only -- Hamming verification still reads full signatures.  A
    <=max_hamming pair is missed only if EVERY chunk it agrees on is
    boilerplate-hot; those docs are near-dups of half the corpus and
    surface through the surviving buckets of their other band.

    Complements MinHash-LSH: SimHash responds to token-frequency
    drift, MinHash to set overlap.  Scale shape: signatures are
    doc-count-sized; the bucket join is equi-keyed on (band, chunk)
    and bounded by max_chunk_df^2 per bucket; verification touches
    candidates only."""
    assert bands > max_hamming, "pigeonhole needs bands > max_hamming"
    assert nbits % bands == 0 and nbits >= bands, \
        "banding needs nbits divisible by bands (width >= 1); a ragged " \
        "split silently drops trailing bits from candidate generation"
    from .text import simhash_bits
    width = nbits // bands
    sig = _hold(simhash_bits(df, id_col, text_col, nbits))
    chunks = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring("simhash", b * width + 1, width)
                     .alias("chunk"))
            for b in range(bands)])).alias("bc")) \
        .select(F.col(id_col), F.col("bc.band").alias("band"),
                F.col("bc.chunk").alias("chunk"))
    rare = (chunks.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_chunk_df)
            .select("band", "chunk"))
    chunks = chunks.join(rare, ["band", "chunk"], "left_semi")
    cand = (chunks.withColumnRenamed(id_col, "id_a")
            .join(chunks.withColumnRenamed(id_col, "id_b"),
                  ["band", "chunk"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sig.select(F.col(id_col).alias("id_a"),
                    F.col("simhash").alias("__sa"))
    sb = sig.select(F.col(id_col).alias("id_b"),
                    F.col("simhash").alias("__sb"))
    hamming = sum(
        (F.when(F.substring("__sa", i, 1) != F.substring("__sb", i, 1), 1)
         .otherwise(0) for i in range(1, nbits + 1)),
        F.lit(0))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("hamming", hamming.cast("long"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def winnow_containment(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k_shingle: int = 3,
                       window: int = 4, min_containment: float = 0.5,
                       max_fp_df: int = 1000) -> DataFrame:
    """CONTAINMENT detection via winnowing fingerprints: for ordered
    pairs (a, b), ``containment = |fp(a) ∩ fp(b)| / |fp(a)|`` -- near
    1.0 when document a's content appears inside b even if b is much
    larger, which symmetric Jaccard misses entirely (a 100-line quote
    inside a 10k-line doc has tiny Jaccard but containment ~1).  The
    quote/excerpt/wrapper detector of a training-data pipeline.

    ``max_fp_df`` is the hot-fingerprint guard (same pattern as
    ``ngram_jaccard_dedup.max_shingle_df``): one boilerplate
    fingerprint shared by m docs contributes m^2 ordered candidates,
    so fingerprints with document frequency above the cap are excluded
    from CANDIDATE GENERATION.  Scoring then recovers the EXACT
    full-set intersection via the count decomposition below: the
    rare-fp part is the enumeration stream's grouped count, and hot
    fps (df > cap) re-enter through the bounded per-doc hot-only
    sets intersected per surviving pair -- the containment value is
    unaffected by the cap, only recall of pairs whose EVERY shared
    fp is boilerplate-common is.

    Scale shape (round-9 sf10 lesson, COMPLETED in round 10 -- the
    ngram_jaccard_dedup twin): candidate ORDERED pairs enumerate from
    per-fingerprint sorted doc arrays (ONE groupBy, arrays bounded by
    the df cap) on a VOLUME-SIZED shuffle -- the raw ordered-pair
    volume (``sum(df * (df-1))`` over the per-fp counts) is knowable
    cheaply before enumeration.  Verification is COUNT-DECOMPOSED
    (see :func:`ngram_jaccard_dedup`): the enumeration stream
    aggregates straight to the rare-fp co-occurrence count, and only
    the bounded hot remainder touches per-doc sets (int-coded, hot
    dictionary <= |fp| / max_fp_df rows by construction) -- candidate
    rows never carry fingerprint-string sets through an exchange.
    Winnowing's guarantee (one shared fingerprint per shared
    window+k-1 token run) bounds what containment can miss."""
    from .text import winnow_fingerprints
    fp = _hold(winnow_fingerprints(df, id_col, text_col,
                                   k=k_shingle, window=window))
    buckets = (fp.groupBy("fp")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .where((F.size("ids") > 1)
                      & (F.size("ids") <= max_fp_df)))
    buckets = _hold(buckets)
    raw_pairs = (buckets
                 .agg(F.sum(F.size("ids").cast("long")
                            * (F.size("ids") - 1)).alias("n"))
                 .collect()[0]["n"]) or 0
    pairs = buckets.select(F.explode(F.expr(
        "flatten(transform(ids, x -> "
        "transform(filter(ids, y -> y <> x), "
        "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
    # COUNT-DECOMPOSED verification (the ngram_jaccard_dedup round-10
    # completion): the enumeration stream aggregates straight to the
    # rare-fp co-occurrence count (fp is distinct per doc, so the
    # count IS |fp(a) ∩ fp(b) ∩ rare|), and the hot remainder uses
    # per-doc hot-only int-code sets (dictionary bounded by
    # |fp| / max_fp_df rows) -- no candidate row ever carries a full
    # fingerprint-string set through an exchange
    side = _doc_count_sides(fp, id_col, "fp", max_fp_df)

    def _score(j: DataFrame) -> DataFrame:
        return (j.withColumn("n_shared",
                             (F.col("__nr")
                              + F.size(F.array_intersect("__ha", "__hb")))
                             .cast("long"))
                .select("id_a", "id_b", "n_shared",
                        (F.col("n_shared")
                         / F.col("__sza").cast("double"))
                        .alias("containment"))
                .where(F.col("containment") >= min_containment))

    return _counted_scores(pairs.select("p.id_a", "p.id_b"), side,
                           id_col, int(raw_pairs), _score)


def span_dedup(df: DataFrame, span: int = 10, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Exact span-level dedup: the line/paragraph-level pass of
    C4-style pipelines, on fixed ``span``-token windows (the driver
    corpus has no sentence punctuation, so spans stand in for lines).

    Every document is cut into consecutive ``span``-token chunks; a
    chunk occurring in several places keeps only its GLOBALLY FIRST
    occurrence (minimum ``doc_id * 1e9 + position`` -- an integer
    total order, engine-exact; valid while docs stay under 1e9 spans
    = 10 billion tokens and ids under ~9e9, both asserted).  Per document this returns how much of
    it was boilerplate (``dup_frac``) plus the surviving text with
    duplicated spans removed (``kept_text``).

    Scale shape: one explode (doc -> spans), one span-keyed partial
    aggregate (MIN of the order key -- map-side combined, the only
    wide op touching the full span stream), one join back, one
    doc-keyed reassembly.  Never doc x doc, never all-spans x
    all-spans; a boilerplate span shared by millions of docs costs one
    aggregate row, not a quadratic candidate set."""
    assert span >= 1
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ns = F.expr(f"(size(__toks) + {span - 1}) div {span}")
    spans = F.expr(
        f"transform(sequence(0, __ns - 1), "
        f"i -> array_join(slice(__toks, i * {span} + 1, {span}), ' '))")
    rows = (df.select(id_col, toks.alias("__toks"))
            .withColumn("__ns", ns)
            .select(id_col, F.posexplode(spans).alias("pos", "span_text"))
            .withColumn("okey",
                        F.col(id_col) * 1_000_000_000 + F.col("pos")))
    # first_okey as a window MIN over the span partition: the old
    # groupBy + join-back shape read the explode chain twice and paid
    # a third exchange for the join; the window shares the span_text
    # exchange with the MIN itself (guide: a window keyed like the
    # preceding aggregation needs no second shuffle).  Same integer
    # MIN, same rows -- only the plan changes.  NULL guard (round-11
    # ADVICE): the old inner join dropped any NULL span_text row
    # (NULL != NULL in a join) while a window PARTITION BY groups
    # NULLs together -- filter them out so the rewrite is exactly the
    # join shape even if a pathological corpus produced NULL spans
    # (the current tokenizer cannot, but equivalence should not rest
    # on that).
    rows = rows.where(F.col("span_text").isNotNull())
    w_span = Window.partitionBy("span_text")
    marked = (rows.withColumn("first_okey", F.min("okey").over(w_span))
              .withColumn("is_dup", F.col("okey") != F.col("first_okey")))
    kept = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(~F.col("is_dup"),
                       F.struct("pos", "span_text")))),
            lambda s: s.span_text), " ")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.col("is_dup").cast("int")).alias("n_dup_spans"),
                 kept.alias("kept_text"))
            .withColumn("dup_frac",
                        F.col("n_dup_spans").cast("double")
                        / F.col("n_spans").cast("double")))


def prefix_filter_pairs(df: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        k_shingle: int = 3) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the PPJoin family):
    order every document's shingles by one global total order (corpus
    document-frequency ascending, then shingle -- rarest first) and
    emit candidates only from each doc's first ``|s| -
    ceil(t * |s|) + 1`` shingles.  Two sets with Jaccard >= t MUST
    share a prefix element under any common total order (pigeonhole on
    the required overlap), so recall is exact -- unlike banded LSH
    this candidate generator misses nothing at the same threshold.

    Rarest-first ordering makes prefixes collide as little as
    possible: the candidate volume is sum over PREFIX shingles of
    df^2, and rare shingles have tiny df by construction -- the
    built-in version of the hot-shingle cap the banded families need
    as a separate guard.  Scoring is the shared exact
    :func:`pair_jaccard` verify.

    The third candidate-generation strategy next to MinHash banding
    (probabilistic, fixed cost) and the n-gram df-cap join
    (exact-but-capped): exact recall with data-adaptive cost."""
    sh = _hold(shingle_sets(df, id_col, text_col, k_shingle))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    prefix_len = (F.col("__sz")
                  - F.ceil(F.lit(threshold) * F.col("__sz")) + 1)
    prefix = (sh.join(dfreq, "shingle")
              .withColumn("__rn", F.row_number().over(w))
              .join(sizes, id_col)
              .where(F.col("__rn") <= prefix_len)
              .select(id_col, "shingle"))
    cand = (prefix.select(F.col(id_col).alias("id_a"), "shingle")
            .join(prefix.select(F.col(id_col).alias("id_b"), "shingle"),
                  "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    return (pair_jaccard(cand, sh, id_col)
            .where(F.col("jaccard") >= threshold))


def block_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", block_chars: int = 32,
                      min_shared: int = 2,
                      max_block_df: int = 1000) -> DataFrame:
    """CDC-style fixed-block near-duplicate pairs: each document splits
    into consecutive ``block_chars``-character blocks, each block
    hashes to md5, and documents sharing >= ``min_shared`` distinct
    block hashes pair up -- the fixed-size-chunking dedup pass storage
    systems run on binary payloads, here over the text column (the
    oracle engine can only md5 VARCHAR; on real media swap
    substring-over-binary in, the plan shape is identical).

    ``max_block_df`` is the standard hot-key guard (same pattern as
    ngram_jaccard_dedup): block hashes whose document frequency
    exceeds it never generate candidates, so one boilerplate block
    cannot materialize a quadratic pair space.  Everything is pure
    Catalyst -- no Python, one block-keyed shuffle, pair space bounded
    by df_cap^2 per block hash."""
    n_blocks = F.expr(
        f"CAST(length({text_col}) AS BIGINT) DIV {int(block_chars)}")
    hashed = (df.select(F.col(id_col), F.col(text_col),
                        n_blocks.alias("__nb"))
              # guard: Spark sequence(0, -1) would count DOWN; docs
              # shorter than one block contribute nothing (DuckDB
              # range(0, 0) is empty by construction)
              .where(F.col("__nb") >= 1)
              .select(F.col(id_col), F.col(text_col),
                      F.explode(F.sequence(F.lit(0), F.col("__nb") - 1))
                      .alias("__i"))
              .select(F.col(id_col),
                      F.md5(F.substring(F.col(text_col),
                                        (F.col("__i") * block_chars + 1)
                                        .cast("int"), block_chars))
                      .alias("bh"))
              .distinct())
    df_cap = (hashed.groupBy("bh")
              .agg(F.count(F.lit(1)).alias("__df"))
              .where(F.col("__df") <= max_block_df))
    rare = hashed.join(df_cap.select("bh"), "bh")
    a = rare.select(F.col("bh"), F.col(id_col).alias("id_a"))
    b = rare.select(F.col("bh"), F.col(id_col).alias("id_b"))
    return (a.join(b, "bh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_blocks"))
            .where(F.col("n_shared_blocks") >= min_shared))


def dedup_keep_best(df: DataFrame, pairs: DataFrame, score,
                    id_col: str = "doc_id") -> DataFrame:
    """Fuzzy-dedup resolution keeping the BEST duplicate instead of the
    smallest id: clusters come from :func:`dedup_clusters` (connected
    components of the verified pair graph); the survivor is the
    cluster's argmax under ``score`` (ties on id) -- what production
    dedup actually wants (keep the longest / highest-quality copy, drop
    the rest).

    ``score`` is a Column evaluated against ``df``.  Same scale shape
    as dedup_clusters plus one cluster-keyed argmax window over
    (id, cluster, score) triples."""
    base = dedup_clusters(df, pairs, id_col)
    scored = df.select(F.col(id_col), score.alias("__score"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("__score"), F.asc(id_col))
    return (base.join(scored, id_col)
            .withColumn("__r", F.row_number().over(w))
            .select(id_col, "cluster_id", "cluster_size",
                    (F.col("__r") == 1).alias("is_kept"),
                    F.col("__score").alias("survivor_score")))
