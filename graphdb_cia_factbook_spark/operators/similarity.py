"""Similarity search over embedding columns (north-star extension;
SURVEY.md Phase 5): brute-force cosine top-k as the exactness baseline
and a bit-sampling LSH bucketed variant as the scale path.

Everything is pure Catalyst (higher-order functions ``zip_with`` /
``transform`` / ``aggregate``) -- no Python UDF in the hot path, so the
scoring runs JVM-side inside whole-stage codegen.

Cross-engine float determinism: the dot product is a *sequential left
fold* over the array (``F.aggregate`` with init 0.0).  IEEE addition
gives ``0.0 + x == x`` exactly, so this equals DuckDB's
``list_reduce(products, (a,b) -> a+b)`` bit for bit; cosine is always
``dot / sqrt(na * nb)`` (one sqrt, not two) on both engines.

Scale notes (100 TB / 1e9+ vectors):

- brute force is O(Q*N): fine for small Q (broadcast the queries,
  corpus streams through codegen, two-phase top-k bounds the shuffle
  to Q * partitions * k rows);
- for large Q use :func:`lsh_topk` -- both sides bucket on a sign
  signature, the join is per-bucket (2^nbits buckets), and the same
  two-phase top-k applies within buckets.  Recall is tunable with
  multi-probe (``probe_flips``) at linear extra cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum (deterministic order, engine-portable)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double."""
    return fold_sum(F.zip_with(a, b, lambda x, y:
                               x.cast("double") * y.cast("double")))


def norm_sq(a: Column) -> Column:
    """Squared L2 norm, double accumulation."""
    return fold_sum(F.transform(a, lambda x:
                                x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity = dot / sqrt(|a|^2 * |b|^2) (single sqrt --
    the exact formula the DuckDB oracles mirror)."""
    return cosine_normed(a, b, norm_sq(a), norm_sq(b))


def cosine_normed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the squared norms ``na``/``nb`` given --
    columns computed once per vector before a pair join, so each pair
    folds only its dot product.  Bit-identical to :func:`cosine`."""
    return dot(a, b) / F.sqrt(na * nb)


def sign_signature(vec: Column, nbits: int = 8) -> Column:
    """Bit-sampling LSH for cosine: '0'/'1' string of the signs of the
    first ``nbits`` dimensions.  Deterministic (no random hyperplanes),
    so signatures are reproducible across engines and across runs --
    for mean-centered embeddings each bit is ~balanced and two vectors
    collide with probability (1 - angle/pi)^nbits."""
    bits = [F.when(F.element_at(vec, i + 1) >= 0, F.lit("1"))
            .otherwise(F.lit("0")) for i in range(nbits)]
    return F.concat(*bits)


def topk_per_query(scored: DataFrame, k: int,
                   query_col: str = "query_id",
                   order: list | None = None) -> DataFrame:
    """Two-phase deterministic top-k per query.

    Phase 1 ranks within (query, input-partition) and keeps k -- a
    map-side prune that bounds the final shuffle to Q * partitions * k
    rows instead of Q * N.  Phase 2 ranks the survivors globally.  The
    result is identical to a single global window because the global
    top-k of a union of per-partition top-ks is the global top-k."""
    order = order or [F.desc("cos"), F.asc("neighbor_id")]
    w_local = Window.partitionBy(query_col, F.spark_partition_id()) \
        .orderBy(*order)
    w_global = Window.partitionBy(query_col).orderBy(*order)
    return (scored
            .withColumn("__lr", F.row_number().over(w_local))
            .where(F.col("__lr") <= k).drop("__lr")
            .withColumn("rank", F.row_number().over(w_global))
            .where(F.col("rank") <= k))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus -- a BroadcastNestedLoopJoin where the corpus side streams
    through codegen once, no shuffle of the corpus itself.

    Output: (query_id, neighbor_id, rank, cos) with cos rounded to 6
    decimals for cross-engine hash stability (the underlying ordering
    uses full precision)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       norm_sq(F.col(vec_col)).alias("__qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"),
                      norm_sq(F.col(vec_col)).alias("__cn"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine_normed(F.col("__qv"), F.col("__cv"),
                                    F.col("__qn"), F.col("__cn"))
                      .alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos", 6).alias("cos")))


def brute_topk_arrow(corpus: DataFrame, queries: DataFrame, k: int,
                     dim: int, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k with a VECTORIZED Arrow scoring kernel --
    the brute-force path for an UNBOUNDED query side.

    :func:`brute_force_topk`'s BroadcastNestedLoopJoin materializes a
    ~600-byte row per (query, candidate) pair before the projection
    touches it; measured at 13 us/pair, the pure-Catalyst shape costs
    ~9 CPU-hours at 2.3B pairs (llm_bitext_mining at the sf10 rung).
    Dense exact scoring is linear algebra, the one shape Catalyst
    cannot express efficiently -- so this kernel broadcasts the query
    matrix (same memory posture as ``F.broadcast`` in the BNLJ plan)
    and streams corpus partitions through ``mapInPandas``, scoring
    (Q x chunk) cosine blocks in numpy and keeping a per-partition
    top-k pool; only Q * partitions * k candidate rows ever shuffle,
    identical to :func:`topk_per_query` phase 1.  Phase 2 is the same
    global window.

    Bit-parity with the Catalyst/DuckDB fold is preserved exactly:
    the accumulation loops PER DIMENSION over float64-cast values
    (``acc += Q[:, i] * M[:, i]``), so each pair's dot is the same
    ``((0 + t1) + t2) + ...`` IEEE sequence as ``fold_sum``; norms
    hoist per vector (same doubles under the same single sqrt); ties
    rank by (cos DESC, neighbor_id ASC) with exact float64 compares.

    At 1e9+ queries the single broadcast no longer fits and this swaps
    to :func:`brute_topk_arrow_blocked` (bounded query blocks,
    sequentially materialized) or the LSH/IVF candidate paths -- the
    same ceiling, documented in the same place, as the BNLJ shape.

    The query-side collect and the broadcast run when this function is
    CALLED, not when the result is evaluated; the build's scope owns the
    broadcast (:func:`session.track_broadcast`)."""
    spark = corpus.sparkSession
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], schema="query_id long, neighbor_id long, cos double, "
                       "rank integer")
    from ..session import track_broadcast

    qids, qmat, qn = _query_matrix(qrows, dim)
    part, bc = _arrow_phase1(corpus, qids, qmat, qn, k, dim,
                             id_col, vec_col)
    track_broadcast(bc)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (part.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _query_matrix(qrows, dim: int):
    """Collected query rows -> (ids, float64 matrix, squared norms).

    Fails fast on a zero-norm query vector: cosine is undefined there,
    and the numpy kernel (NaN, silently dropped by the ``> -inf``
    pool filter) and the Catalyst fold (NULL cos, kept by the window)
    would otherwise DIVERGE silently on degenerate data."""
    import numpy as np

    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = (np.array([r[1] for r in qrows], dtype=np.float32)
            .astype(np.float64).reshape(len(qids), dim))
    qn = np.zeros(len(qids), dtype=np.float64)
    for i in range(dim):
        qn += qmat[:, i] * qmat[:, i]
    if np.any(qn == 0.0):
        raise ValueError(
            "brute_topk_arrow: zero-norm query vector (cosine "
            "undefined); filter degenerate vectors upstream")
    return qids, qmat, qn


def _arrow_phase1(corpus: DataFrame, qids, qmat, qn, k: int, dim: int,
                  id_col: str, vec_col: str):
    """Phase-1 scoring: broadcast one query block, stream corpus
    partitions through the vectorized kernel, emit each partition's
    per-query top-k candidates (Q * partitions * k rows max).
    Returns (candidates DataFrame, broadcast handle): the caller
    either hands the broadcast to its scope or, having materialized
    the candidates, destroys it at once."""
    import numpy as np

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, qn))

    n_q = len(qids)
    chunk_rows = max(64, min(2048, (48 << 20) // max(n_q, 1) // 8))

    def _score(batches):
        import pandas as pd
        b_qids, b_q, b_qn = bc.value
        nq = len(b_qids)
        pool_cos = np.full((nq, 0), -np.inf)
        pool_ids = np.full((nq, 0), np.iinfo(np.int64).max,
                           dtype=np.int64)

        def topk_pool(cos, ids):
            """(nq, c) scores + (nq, c) ids -> per-query top-k with
            the exact (cos DESC, id ASC) tie order: k passes of
            vectorized argmax, each masking the picked slot; padded
            slots carry (-inf, INT64_MAX).  Ids are unique per query
            (disjoint chunks), so the mask removes exactly one slot."""
            sel_cos = np.full((nq, k), -np.inf)
            sel_ids = np.full((nq, k), np.iinfo(np.int64).max,
                              dtype=np.int64)
            work = cos.copy()
            for j in range(min(k, work.shape[1])):
                m = work.max(axis=1)
                cand = np.where(work == m[:, None], ids,
                                np.iinfo(np.int64).max)
                pick = cand.min(axis=1)
                sel_cos[:, j], sel_ids[:, j] = m, pick
                work[(ids == pick[:, None]) & (work == m[:, None])] \
                    = -np.inf
            return sel_cos, sel_ids

        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.array(pdf[vec_col].tolist(), dtype=np.float32) \
                .astype(np.float64)
            cn = np.zeros(len(cids), dtype=np.float64)
            for i in range(dim):
                cn += cmat[:, i] * cmat[:, i]
            if np.any(cn == 0.0):
                raise ValueError(
                    "brute_topk_arrow: zero-norm corpus vector "
                    "(cosine undefined); filter degenerate vectors "
                    "upstream")
            for lo in range(0, len(cids), chunk_rows):
                hi = min(lo + chunk_rows, len(cids))
                mc = cmat[lo:hi]
                acc = np.zeros((nq, hi - lo), dtype=np.float64)
                for i in range(dim):
                    acc += b_q[:, i:i + 1] * mc[None, :, i]
                cos = acc / np.sqrt(b_qn[:, None] * cn[None, lo:hi])
                c_cos, c_ids = topk_pool(
                    cos, np.broadcast_to(cids[lo:hi], cos.shape))
                pool_cos, pool_ids = topk_pool(
                    np.concatenate([pool_cos, c_cos], axis=1),
                    np.concatenate([pool_ids, c_ids], axis=1))
        if not pool_cos.shape[1]:  # empty partition
            yield pd.DataFrame({"query_id": np.array([], np.int64),
                                "neighbor_id": np.array([], np.int64),
                                "cos": np.array([], np.float64)})
            return
        live = pool_cos.ravel() > -np.inf
        yield pd.DataFrame({"query_id": np.repeat(b_qids, k)[live],
                            "neighbor_id": pool_ids.ravel()[live],
                            "cos": pool_cos.ravel()[live]})

    part = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cos double")
    return part, bc


def brute_topk_arrow_blocked(corpus: DataFrame, queries: DataFrame,
                             k: int, dim: int, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             block_rows: int = 262_144) -> DataFrame:
    """:func:`brute_topk_arrow` without the single-collect ceiling:
    the query side streams through the driver in BOUNDED blocks.

    Queries are assigned to ``ceil(Q / block_rows)`` hash blocks
    (md5-keyed, balanced in expectation -- no global window, so block
    assignment itself is scan-side), and blocks are processed
    SEQUENTIALLY: collect one block, broadcast it, score the corpus
    with the same bit-exact kernel, materialize that block's
    Q_blk * partitions * k phase-1 candidates to parquet, unpersist
    the broadcast, move on.  Peak driver + executor broadcast memory
    is ONE block regardless of Q; parquet round-trips float64 exactly,
    and phase 2 (the global per-query window) runs over the unioned
    candidates -- per-query independence makes the result identical
    to the all-at-once kernel (pytest pins bit-equality, tie order
    included).

    The sequential materialization is deliberately EAGER (each block
    is a job at call time): laziness would keep every block's
    broadcast alive simultaneously, which is exactly the ceiling this
    variant removes.  Corpus scans per block are the price; at the
    1e9-query scale where this path engages, Q dominates N or the
    LSH/IVF candidate paths apply instead."""
    import math

    spark = corpus.sparkSession
    n_q = queries.select(id_col).count()
    if n_q == 0:
        return spark.createDataFrame(
            [], schema="query_id long, neighbor_id long, cos double, "
                       "rank integer")
    from ..session import spill_dir

    n_blocks = max(1, math.ceil(n_q / block_rows))
    # the returned DataFrame reads this directory lazily, so the
    # build's scope deletes it on release
    out = spill_dir("topk_blocks")
    q = queries.select(id_col, vec_col)
    if n_blocks == 1:
        blocks = [q]
    else:
        blk = F.pmod(F.conv(F.substring(
            F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10)
            .cast("long"), F.lit(n_blocks))
        q = q.withColumn("__blk", blk)
        blocks = [q.where(F.col("__blk") == b).drop("__blk")
                  for b in range(n_blocks)]
    for b, qb in enumerate(blocks):
        qrows = qb.collect()
        if not qrows:
            continue
        qids, qmat, qn = _query_matrix(qrows, dim)
        part, bc = _arrow_phase1(corpus, qids, qmat, qn, k, dim,
                                 id_col, vec_col)
        part.write.mode("append").parquet(out)
        # the block's candidates are durably on disk -- no live
        # consumer remains, so destroy (not just unpersist) frees the
        # driver copy too
        bc.destroy(blocking=False)
    cand = spark.read.schema(
        "query_id long, neighbor_id long, cos double").parquet(out)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             nbits: int = 8, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: sign-signature buckets on both sides, then an
    equi-join on the bucket key (a hash join on 2^nbits keys -- never a
    cross join), exact cosine within the bucket.  The scale path when
    the query side is too big to broadcast."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       sign_signature(F.col(vec_col), nbits).alias("bucket"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"),
                      sign_signature(F.col(vec_col), nbits).alias("bucket"))
    scored = (c.join(q, "bucket")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", "bucket",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "neighbor_id", "bucket", "rank",
                    F.round("cos", 6).alias("cos")))


def near_dup_pairs(emb: DataFrame, threshold: float, nbits: int = 4,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_bucket_size: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >=
    threshold), candidate-limited to same-LSH-bucket pairs so the pair
    space is sum(bucket^2), not N^2.  Few sign bits (default 4) keep
    recall high for high-threshold near-dups: a near-dup pair disagrees
    on a sign bit only if a dimension sits near zero.

    Scale contract: with FIXED nbits the bucket count is 2^nbits, so
    bucket occupancy -- and with it sum(bucket^2) -- grows with the
    corpus (the same linear-bucket/quadratic-pair mechanism measured
    for MinHash banding on the sf10 rung, SCALE.md).  Production sizes
    ``nbits ~ log2(N / target_bucket)`` so occupancy stays ~constant,
    and sets ``max_bucket_size`` as the backstop: buckets above the
    cap are excluded from candidate generation entirely (the
    :func:`~..operators.dedup.lsh_candidate_pairs` hot-bucket rule --
    a mega-bucket at a high threshold is overwhelmingly exact dups;
    run exact dedup first).  Default ``None`` keeps the exact
    all-in-bucket semantics the oracle entries verify."""
    a = emb.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("__va"),
                   sign_signature(F.col(vec_col), nbits).alias("bucket"))
    b = emb.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("__vb"),
                   sign_signature(F.col(vec_col), nbits).alias("bucket"))
    if max_bucket_size is not None:
        keep = (a.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("__bsz"))
                .where(F.col("__bsz") <= max_bucket_size)
                .select("bucket"))
        # at most 2^nbits rows -- always broadcast-sized
        a = a.join(F.broadcast(keep), "bucket", "left_semi")
        b = b.join(F.broadcast(keep), "bucket", "left_semi")
    return (a.join(b, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    cosine(F.col("__va"), F.col("__vb")).alias("cos"))
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos")))


def near_dup_pairs_arrow(emb: DataFrame, threshold: float, dim: int,
                         nbits: int = 4, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_bucket_size: int | None = None,
                         chunk_rows: int = 1024) -> DataFrame:
    """:func:`near_dup_pairs` scored by a per-bucket vectorized Arrow
    kernel -- same output contract, bit-identical cosines (pytest
    pins equality against the Catalyst path).  One deliberate
    divergence: zero-norm vectors raise ``ValueError`` here
    (fail-fast, see below) where the Catalyst fold would silently
    keep the resulting NaN pairs.

    The Catalyst shape materializes one ~600-byte row (both vectors)
    per in-bucket pair before the projection touches it -- the same
    pair-materialization ceiling the round-8 bitext kernel hit in a
    BroadcastNestedLoopJoin, here in a hash join: at the sf10 rung
    (200k vectors, 16 buckets) that is ~1.25B pair rows and an
    unfinishable plan.  This kernel groups each bucket's vectors into
    ONE Arrow batch (``applyInPandas``), scores chunk x bucket cosine
    blocks in numpy with the SAME per-dimension float64 accumulation
    as the fold (``((0 + t1) + t2) + ...`` per pair, norms hoisted
    per vector, one sqrt), and emits only the >= threshold survivors
    -- the pair space never exists as rows.  Parallelism is one task
    per bucket (production sizes ``nbits ~ log2(N / target_bucket)``
    so bucket count tracks the cluster; ``max_bucket_size`` is the
    same backstop as the Catalyst path); peak task memory is
    ``chunk_rows * bucket_size`` doubles, not bucket_size^2.

    Rounding to 6 decimals happens in Catalyst AFTER the kernel
    (Spark HALF_UP vs numpy half-even would otherwise diverge on
    exact boundaries); the threshold compares full precision exactly
    like the oracle's WHERE."""
    # parallelism is one task per LSH bucket: if 2^nbits is far below
    # the cluster's core count, most executors idle while the few
    # bucket tasks run -- the docstring's "production sizes nbits"
    # promise, surfaced as a runtime signal instead of prose (warn,
    # don't raise: at oracle scales a handful of buckets is correct
    # and cheap)
    par = emb.sparkSession.sparkContext.defaultParallelism
    if (1 << nbits) < par:
        import warnings
        warnings.warn(
            f"near_dup_pairs_arrow: 2^nbits={1 << nbits} buckets < "
            f"defaultParallelism={par}; most cores will idle -- size "
            f"nbits ~ log2(N / target_bucket) for cluster runs",
            RuntimeWarning, stacklevel=2)
    keyed = emb.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).alias("__v"),
                       sign_signature(F.col(vec_col), nbits)
                       .alias("bucket"))
    if max_bucket_size is not None:
        keep = (keyed.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("__bsz"))
                .where(F.col("__bsz") <= max_bucket_size)
                .select("bucket"))
        keyed = keyed.join(F.broadcast(keep), "bucket", "left_semi")

    def _score(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["__id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = (np.array(pdf["__v"].tolist(), dtype=np.float32)
               .astype(np.float64)[order])
        n = len(ids)
        nrm = np.zeros(n, dtype=np.float64)
        for i in range(dim):
            nrm += mat[:, i] * mat[:, i]
        if np.any(nrm == 0.0):
            # cosine is undefined on a zero-norm vector, and the three
            # implementations would otherwise disagree silently: this
            # kernel's NaN fails `>= t` (numpy: NaN comparisons are
            # False), the DuckDB oracle's NULL fails the WHERE, but
            # the Catalyst fold's 0/0 is NaN and Spark SQL orders NaN
            # GREATER than any double -- it would KEEP the pair.  Same
            # fail-fast posture as _query_matrix: degenerate data is
            # the caller's bug, not a semantics choice.
            raise ValueError(
                "near_dup_pairs_arrow: zero-norm vector (cosine "
                "undefined); filter degenerate vectors upstream")
        out = []
        for lo in range(0, n, chunk_rows):
            hi = min(lo + chunk_rows, n)
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for i in range(dim):
                acc += mat[lo:hi, i:i + 1] * mat[None, :, i]
            # ids sorted ascending -> id_a < id_b is the strict upper
            # triangle; zero-norm vectors were rejected above, so no
            # NaN can reach this comparison
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / np.sqrt(nrm[lo:hi, None] * nrm[None, :])
                mask = (cos >= threshold) \
                    & (np.arange(n)[None, :] > (lo + np.arange(hi - lo))[:, None])
            r, c = np.nonzero(mask)
            out.append(pd.DataFrame({"id_a": ids[lo + r],
                                     "id_b": ids[c],
                                     "cos": cos[r, c]}))
        if not out:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64")})
        return pd.concat(out, ignore_index=True)

    scored = keyed.groupBy("bucket").applyInPandas(
        _score, schema="id_a long, id_b long, cos double")
    return scored.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def knn_classify(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label",
                 topk_fn=None) -> DataFrame:
    """k-NN classification: majority label vote over the cosine top-k
    neighbors (self excluded).  Deterministic end to end: the top-k
    tie-breaks on neighbor id, the vote tie-breaks on (votes desc,
    label asc).

    Output: (query_id, predicted_label, votes).  The neighbor stage is
    PLUGGABLE: ``topk_fn(corpus, queries, k, id_col, vec_col)`` must
    return (query_id, neighbor_id, rank, ...) -- default
    :func:`brute_force_topk` (broadcast queries, corpus streams once;
    exact, the small-Q plan); pass :func:`ivf_topk` /
    :func:`lsh_topk_multiprobe` when Q is large so the search cost is
    sublinear in N.  The vote is a Q*k-row aggregate either way."""
    topk_fn = topk_fn or brute_force_topk
    topk = topk_fn(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    votes = (topk.join(corpus.select(F.col(id_col).alias("neighbor_id"),
                                     F.col(label_col)), "neighbor_id")
             .groupBy("query_id", label_col)
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"),
                                               F.asc(label_col))
    return (votes.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("query_id",
                    F.col(label_col).alias("predicted_label"), "votes"))


def _nearest_centroids(df: DataFrame, cents: DataFrame, out_id: str,
                       n: int, id_col: str, vec_col: str) -> DataFrame:
    """Top-``n`` centroids per vector by cosine (deterministic
    centroid_id tiebreak).  cents: (centroid_id, __cent)."""
    scored = df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), F.col(vec_col),
        F.col("centroid_id"),
        cosine(F.col(vec_col), F.col("__cent")).alias("__cc"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__cc"), F.asc("centroid_id"))
    return (scored.withColumn("__cr", F.row_number().over(w))
            .where(F.col("__cr") <= n)
            .select(F.col(id_col).alias(out_id), vec_col, "centroid_id"))


def lloyd_refine(corpus: DataFrame, cents: DataFrame, iters: int,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Deterministic Lloyd (k-means) refinement of a centroid table:
    assign every corpus vector to its nearest centroid (cosine,
    centroid_id tiebreak), recompute each centroid as the element-wise
    mean of its list, repeat.  Empty lists drop their centroid.

    Cross-engine exactness: per-dimension means go through exact
    decimal sums (order-independent) divided by the list size, so the
    refined centroids -- and every cosine computed against them -- are
    bit-identical on any engine (the property the generated DuckDB
    oracle checks).  Scale shape per iteration: one broadcast
    nested-loop assignment (corpus streams once) + one shuffle of
    exploded (centroid, dim, value) rows -- dim * N rows, same order
    as reading the vectors."""
    for _ in range(iters):
        assign = _nearest_centroids(corpus, cents, "__vid", 1,
                                    id_col, vec_col)
        dims = assign.select("centroid_id",
                             F.posexplode(F.col(vec_col))
                             .alias("pos", "val"))
        means = (dims.groupBy("centroid_id", "pos")
                 .agg((F.sum(F.col("val").cast("decimal(27,12)"))
                       .cast("double") / F.count(F.lit(1))).alias("m")))
        cents = (means.groupBy("centroid_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "m"))),
                     lambda s: s["m"]).alias("__cent"))
                 .localCheckpoint(eager=False))  # truncate per-iteration lineage
    return cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             n_centroids: int = 16, nprobe: int = 2,
             lloyd_iters: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    partitions the corpus into centroid lists; each query probes only
    its ``nprobe`` nearest lists.

    Centroids are SEEDED deterministically (the ``n_centroids``
    lowest-id vectors) then k-means-refined with ``lloyd_iters``
    deterministic Lloyd iterations (:func:`lloyd_refine`) -- results
    stay reproducible and oracle-checkable while the lists fit the
    data much better than raw seeds (recall pinned vs brute force in
    tests/test_llm.py).

    Scale shape: assignment is corpus x centroids (tiny broadcast
    side, linear scan); the probe join is an equi-join on centroid_id
    -- the corpus shuffles ONCE by list, queries replicate nprobe
    times.  Search cost drops from Q*N to ~Q*N*nprobe/n_centroids."""
    cents = (corpus.where(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("centroid_id"),
                     F.col(vec_col).alias("__cent")))
    cents = lloyd_refine(corpus, cents, lloyd_iters, id_col, vec_col)

    assign = _nearest_centroids(corpus, cents, "neighbor_id", 1,
                                id_col, vec_col) \
        .withColumnRenamed(vec_col, "__cv")
    probe = _nearest_centroids(queries, cents, "query_id", nprobe,
                               id_col, vec_col) \
        .withColumnRenamed(vec_col, "__qv")
    scored = (probe.join(assign, "centroid_id")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos", 6).alias("cos")))


def _flip_bit(sig, i: int, nbits: int):
    """Signature with bit ``i`` (1-based) flipped -- pure string exprs."""
    flipped = F.when(F.substring(sig, i, 1) == "1", F.lit("0")) \
        .otherwise(F.lit("1"))
    return F.concat(F.substring(sig, 1, i - 1), flipped,
                    F.substring(sig, i + 1, nbits - i))


def lsh_topk_multiprobe(corpus: DataFrame, queries: DataFrame, k: int = 3,
                        nbits: int = 8, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Multi-probe sign-LSH top-k: each query probes its own bucket
    PLUS every bucket at Hamming distance 1 (one flipped sign bit) --
    the standard recall fix for sign-LSH, whose misses are mostly
    vectors that landed one marginal hyperplane away.  Costs nbits+1
    bucket lookups per query instead of more hash tables (memory-free
    recall, the trade a 100-TB index wants).

    A corpus vector has exactly one bucket and probe buckets are
    distinct, so the probe join can't duplicate a (query, neighbor)
    pair.  Plan: explode queries x (nbits+1) probes -> equi-join on
    bucket -> exact cosine -> top-k window; never a cross join."""
    sig = sign_signature(F.col(vec_col), nbits)
    probes = F.array(sig, *[_flip_bit(sig, i, nbits)
                            for i in range(1, nbits + 1)])
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("__qv"),
                        F.explode(probes).alias("bucket")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"),
                      sign_signature(F.col(vec_col), nbits).alias("bucket"))
    scored = (c.join(q, "bucket")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", "bucket",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "neighbor_id", "bucket", "rank",
                    F.round("cos", 6).alias("cos")))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|v| / 127,
    q[i] = round(v[i] / scale) in [-127, 127].  A 100-TB ANN index
    holds 4x more vectors per executor-GB quantized, and the scoring
    hot loop becomes INTEGER multiply-adds; the approximate dot is
    scale_a * scale_b * sum(qa[i] * qb[i]) -- one float multiply after
    an exact integer fold, which also makes it bit-portable across
    engines (no float-accumulation drift at all).

    Pure higher-order functions (transform / array_max / aggregate);
    zero-vectors quantize to all-zero with scale 0."""
    v = F.col(vec_col)
    scale = F.col("scale")
    # scale is a column before the quantize lambda reads it: inside the
    # lambda the array_max fold would re-run per element, O(dim^2)
    scaled = emb.select(F.col(id_col), v,
                        (F.array_max(F.transform(v, lambda x: F.abs(x)))
                         .cast("double") / 127.0).alias("scale"))
    q = F.when(scale > 0,
               F.transform(v, lambda x: F.round(x.cast("double") / scale)
                           .cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0)))
    return scaled.select(F.col(id_col), q.alias("q"), scale)


def int8_dot(qa, qb, sa, sb):
    """Approximate dot on quantized vectors: exact integer fold, one
    float multiply at the end."""
    prods = F.zip_with(qa, qb, lambda a, b: (a * b).cast("long"))
    isum = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return sa * sb * isum.cast("double")


def quantized_topk(emb: DataFrame, queries: DataFrame, k: int = 3,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: the quantized
    index streams once against broadcast quantized queries, scored by
    integer dot products, then map-side-pruned via
    :func:`topk_per_query` (the shuffle carries Q * partitions * k
    rows, never the Q * N scored set).  Recall loss vs full precision
    is the quantization error (bounded by scale/2 per coordinate)."""
    qc = quantize_embeddings(emb, id_col, vec_col)
    qq = quantize_embeddings(queries, id_col, vec_col)
    c = qc.select(F.col(id_col).alias("neighbor_id"),
                  F.col("q").alias("__qc"), F.col("scale").alias("__sc"))
    q = qq.select(F.col(id_col).alias("query_id"),
                  F.col("q").alias("__qq"), F.col("scale").alias("__sq"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(int8_dot(F.col("__qq"), F.col("__qc"),
                                       F.col("__sq"), F.col("__sc")), 6)
                      .alias("qdot")))
    return (topk_per_query(scored, k,
                           order=[F.desc("qdot"), F.asc("neighbor_id")])
            .select("query_id", "neighbor_id", "rank", "qdot"))


def semantic_dedup(corpus: DataFrame, n_centroids: int = 16,
                   lloyd_iters: int = 1, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Semantic (embedding-cluster) deduplication: coarse-quantize the
    corpus with the same deterministic seeded-then-Lloyd-refined
    centroids as :func:`ivf_topk`, then keep ONE survivor per cluster
    (minimum id -- an engine-exact total order) and mark the rest as
    semantic duplicates.  This is the SemDeDup-style pass that removes
    "same meaning, different words" redundancy exact/minhash dedup
    cannot see.

    Output: (vec_id, cluster_id, survivor_id, is_dup).  Scale shape:
    one broadcast nested-loop assignment (corpus streams once past the
    tiny centroid table) + one cluster-keyed MIN + an equi-join back
    -- never vector x vector."""
    cents = (corpus.where(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("centroid_id"),
                     F.col(vec_col).alias("__cent")))
    cents = lloyd_refine(corpus, cents, lloyd_iters, id_col, vec_col)
    assign = _nearest_centroids(corpus, cents, "vec_id", 1,
                                id_col, vec_col) \
        .select("vec_id", F.col("centroid_id").alias("cluster_id"))
    survivor = (assign.groupBy("cluster_id")
                .agg(F.min("vec_id").alias("survivor_id")))
    return (assign.join(F.broadcast(survivor), "cluster_id")
            .select("vec_id", "cluster_id", "survivor_id",
                    (F.col("vec_id") != F.col("survivor_id"))
                    .alias("is_dup")))


def pca_top_component(emb: DataFrame, iters: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      round_to: int | None = 6) -> DataFrame:
    """Top principal component of an embedding table by power
    iteration -- the whitening/compression prep step (explained-
    variance screening, rotation-invariant dedup) an embedding
    pipeline runs before indexing.

    Engine-exact construction: per-dimension means and every inner
    product go through decimal casts (the dsum/lloyd pattern), the
    start vector is uniform 1/sqrt(dim) (exact for power-of-two dims),
    and each matvec + L2 normalization uses only IEEE ops on identical
    inputs -- so the converged direction (and its sign) replays
    bit-stably as generated oracle SQL.

    Scale shape: the covariance build is the only heavy op -- one
    explode (N*dim rows) and one self-join per vector id (N*dim^2
    product rows, map-side combined into dim^2 cells); each of the
    ``iters`` matvecs then runs on the dim^2-row broadcast-sized
    matrix.  For dim beyond ~1k, sample rows for the covariance or
    switch to randomized SVD -- the iteration shape is unchanged.

    Output: (pos, component, eigenvalue) -- component rounded to 6,
    eigenvalue = the final iteration's L2 norm (Rayleigh estimate)."""
    ex = emb.select(
        id_col, F.posexplode(F.col(vec_col)).alias("pos", "val")) \
        .withColumn("val", F.col("val").cast("double"))
    means = (ex.groupBy("pos")
             .agg((F.sum(F.col("val").cast("decimal(27,12)"))
                   .cast("double") / F.count(F.lit(1))).alias("m")))
    cen = (ex.join(F.broadcast(means), "pos")
           .select(id_col, "pos", (F.col("val") - F.col("m")).alias("c"))
           .localCheckpoint())
    n = emb.count()
    a = cen.select(F.col(id_col).alias("__id"),
                   F.col("pos").alias("i"), F.col("c").alias("ci"))
    b = cen.select(F.col(id_col).alias("__id"),
                   F.col("pos").alias("j"), F.col("c").alias("cj"))
    cov = (a.join(b, "__id")
           .groupBy("i", "j")
           .agg((F.sum((F.col("ci") * F.col("cj"))
                       .cast("decimal(38,18)")).cast("double")
                 / F.lit(float(n))).alias("cv"))
           .localCheckpoint())

    dim_rows = means.select(F.col("pos").alias("j"))
    import math
    v = dim_rows.select("j", F.lit(1.0 / math.sqrt(
        dim_rows.count())).alias("v")).localCheckpoint()
    nrm_out = None
    for _ in range(iters):
        w = (cov.join(v, "j")
             .groupBy(F.col("i").alias("j"))
             .agg(F.sum((F.col("cv") * F.col("v"))
                        .cast("decimal(38,18)")).cast("double")
                  .alias("w")))
        nrm = w.agg(F.sqrt(F.sum((F.col("w") * F.col("w"))
                                 .cast("decimal(38,18)")).cast("double"))
                    .alias("nrm"))
        v = (w.crossJoin(F.broadcast(nrm))
             .select("j", (F.col("w") / F.col("nrm")).alias("v"))
             .localCheckpoint(eager=False))
        nrm_out = nrm
    # 1-based dimension index on output (the SQL generate_subscripts
    # convention the oracle uses); round_to=None returns the raw
    # direction for downstream exact projection
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None \
        else (lambda c: c)
    return (v.crossJoin(F.broadcast(nrm_out))
            .select((F.col("j") + 1).alias("pos"),
                    rnd(F.col("v")).alias("component"),
                    rnd(F.col("nrm")).alias("eigenvalue")))


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential-fold accumulation (the same
    engine-portable fold discipline as :func:`dot`)."""
    return fold_sum(F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))))


def _subvectors(df: DataFrame, m: int, s: int, id_col: str,
                vec_col: str) -> DataFrame:
    """Explode each vector into its ``m`` subvectors of width ``s``:
    (id, sub, svec)."""
    parts = F.array(*[
        F.struct(F.lit(j).alias("sub"),
                 F.slice(F.col(vec_col), j * s + 1, s).alias("svec"))
        for j in range(m)])
    return (df.select(F.col(id_col), F.explode(parts).alias("e"))
            .select(id_col, F.col("e.sub").alias("sub"),
                    F.col("e.svec").alias("svec")))


def pq_codebooks(corpus: DataFrame, m: int, s: int, k_cent: int,
                 lloyd_iters: int, id_col: str,
                 vec_col: str) -> DataFrame:
    """Train the product-quantization codebooks: per subspace,
    ``k_cent`` centroids seeded from the lowest-id vectors' slices and
    refined with deterministic Lloyd iterations (squared-L2
    assignment, centroid_id tiebreak, decimal-exact means -- the
    per-subspace twin of :func:`lloyd_refine`).  Returns
    (sub, centroid_id, cent)."""
    subs = _subvectors(corpus, m, s, id_col, vec_col)
    cents = (subs.where(F.col(id_col) < k_cent)
             .select("sub", F.col(id_col).alias("centroid_id"),
                     F.col("svec").alias("cent")))
    for _ in range(lloyd_iters):
        w = Window.partitionBy(id_col, "sub").orderBy(
            F.asc("__d"), F.asc("centroid_id"))
        assign = (subs.join(F.broadcast(cents), "sub")
                  .withColumn("__d", sq_l2(F.col("svec"), F.col("cent")))
                  .withColumn("__r", F.row_number().over(w))
                  .where(F.col("__r") == 1))
        means = (assign.select("sub", "centroid_id",
                               F.posexplode("svec").alias("pos", "val"))
                 .groupBy("sub", "centroid_id", "pos")
                 .agg((F.sum(F.col("val").cast("decimal(27,12)"))
                       .cast("double") / F.count(F.lit(1))).alias("mv")))
        cents = (means.groupBy("sub", "centroid_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                     lambda st: st["mv"]).alias("cent"))
                 .localCheckpoint(eager=False))
    return cents


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
            m: int = 4, k_cent: int = 8, lloyd_iters: int = 1,
            dim: int = 64, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): compress each
    corpus vector to ``m`` one-byte codes (nearest codebook centroid
    per subspace) and answer max-inner-product queries from the codes
    alone via asymmetric distance computation -- the query stays
    exact, the corpus is quantized, approx_dot(q, v) =
    sum_j dot(q_j, codebook[j][code_j(v)]).

    This is the index family that makes billion-vector search fit in
    memory: dim * 4 bytes/vector becomes ``m`` bytes (64x here), and
    scoring a vector costs ``m`` table lookups instead of ``dim``
    multiplies.

    Scale shape: codebooks and the per-query lookup tables are
    (m x k_cent)-sized broadcasts; the corpus is encoded in one
    broadcast-join pass and scored by an equi-join on
    (sub, centroid_id) -- nothing vector-sized ever shuffles, and the
    final top-k goes through :func:`topk_per_query`'s map-side prune.
    Exactness discipline: the LUT dots are sequential folds, the
    m-addend score sum is decimal-cast (order-independent), so the
    generated DuckDB oracle matches bit for bit."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    s = dim // m
    cents = pq_codebooks(corpus, m, s, k_cent, lloyd_iters,
                         id_col, vec_col)
    # encode: nearest centroid per (vector, subspace)
    w = Window.partitionBy(id_col, "sub").orderBy(
        F.asc("__d"), F.asc("centroid_id"))
    codes = (_subvectors(corpus, m, s, id_col, vec_col)
             .join(F.broadcast(cents), "sub")
             .withColumn("__d", sq_l2(F.col("svec"), F.col("cent")))
             .withColumn("__r", F.row_number().over(w))
             .where(F.col("__r") == 1)
             .select(F.col(id_col).alias("neighbor_id"), "sub",
                     "centroid_id"))
    # per-query LUT: exact query slice dotted with every centroid
    lut = (_subvectors(queries, m, s, id_col, vec_col)
           .join(F.broadcast(cents), "sub")
           .select(F.col(id_col).alias("query_id"), "sub", "centroid_id",
                   dot(F.col("svec"), F.col("cent")).alias("pdot")))
    scored = (codes.join(F.broadcast(lut), ["sub", "centroid_id"])
              .where(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.sum(F.col("pdot").cast("decimal(27,12)"))
                   .cast("double").alias("adot")))
    return (topk_per_query(scored, k,
                           order=[F.desc("adot"), F.asc("neighbor_id")])
            .select("query_id", "neighbor_id", "rank",
                    F.round("adot", 6).alias("adot")))


def rerank_topk(emb: DataFrame, queries: DataFrame, k: int = 3,
                k_candidates: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval: CHEAP candidate generation over the
    int8-quantized index (:func:`quantized_topk`, ``k_candidates`` per
    query), then exact full-precision cosine re-ranking of only those
    candidates down to ``k`` -- the standard recall-recovery pattern
    every production ANN stack runs (coarse index -> rerank).

    Scale shape: stage 1 streams the 4x-denser quantized index once;
    stage 2 touches ``Q * k_candidates`` full-precision vectors via an
    equi-join on neighbor_id (never the corpus again), so the expensive
    float path is candidate-sized.  Output matches
    :func:`brute_force_topk` (query_id, neighbor_id, rank, cos)."""
    cands = quantized_topk(emb, queries, k_candidates, id_col, vec_col) \
        .select("query_id", "neighbor_id")
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("__qv"))
    cv = emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__cv"))
    scored = (cands.join(cv, "neighbor_id")
              .join(F.broadcast(qv), "query_id")
              .select("query_id", "neighbor_id",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos", 6).alias("cos")))


def mmr_rerank(emb: DataFrame, queries: DataFrame, k: int = 3,
               pool: int = 8, lam: float = 0.7,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick, ``k`` times, the candidate
    maximizing ``lam * rel(q, d) - (1 - lam) * max_{s in S} sim(d, s)``
    over the already-selected set S -- relevance-plus-diversity
    re-ranking for RAG context selection.

    Determinism contract: relevance = the pool's cosine rounded to 6
    decimals, candidate-candidate sims likewise round-6, so every score
    is the same IEEE double on any engine; ties break on neighbor_id.
    MAX over selected sims is reduction-order-free.

    Scale shape: the greedy loop runs over the candidate POOL (top
    ``pool`` per query from :func:`brute_force_topk`), so each of the
    k unrolled steps joins Q * pool rows against Q * pool^2 pairwise
    sims -- all candidate-sized, nothing corpus-sized; the selection
    argmax is one window per step."""
    assert k <= pool
    cand = (brute_force_topk(emb, queries, pool, id_col, vec_col)
            .select("query_id", "neighbor_id", F.col("cos").alias("rel"))
            .localCheckpoint())  # consumed by every greedy step
    cv = emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("__v"))
    pa = (cand.select("query_id", F.col("neighbor_id").alias("a"))
          .join(cv.select(F.col("neighbor_id").alias("a"),
                          F.col("__v").alias("__va")), "a"))
    pb = (cand.select("query_id", F.col("neighbor_id").alias("b"))
          .join(cv.select(F.col("neighbor_id").alias("b"),
                          F.col("__v").alias("__vb")), "b"))
    sims = (pa.join(pb, "query_id")
            .where(F.col("a") != F.col("b"))
            .select("query_id", "a", "b",
                    F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                    .alias("sim"))
            .localCheckpoint())

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    first = (cand.select("query_id", "neighbor_id",
                         F.col("rel").alias("score"))
             .withColumn("__r", F.row_number().over(w))
             .where(F.col("__r") == 1)
             .select("query_id", "neighbor_id", "score",
                     F.lit(1).alias("mmr_rank")))
    selected = first
    for step in range(2, k + 1):
        remaining = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_anti")
        maxsim = (sims
                  .join(selected.select(
                      "query_id", F.col("neighbor_id").alias("b")),
                      ["query_id", "b"])
                  .groupBy("query_id", F.col("a").alias("neighbor_id"))
                  .agg(F.max("sim").alias("maxsim")))
        pick = (remaining.join(maxsim, ["query_id", "neighbor_id"])
                .select("query_id", "neighbor_id",
                        (F.lit(lam) * F.col("rel")
                         - F.lit(1.0 - lam) * F.col("maxsim"))
                        .alias("score"))
                .withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") == 1)
                .select("query_id", "neighbor_id", "score",
                        F.lit(step).alias("mmr_rank")))
        selected = selected.union(pick).localCheckpoint(eager=False)
    return selected.select("query_id", "neighbor_id", "mmr_rank",
                           F.round("score", 6).alias("score"))


def hard_negatives(emb: DataFrame, anchors: DataFrame, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor, the
    top-k most-similar corpus vectors with a DIFFERENT label -- the
    near-miss negatives that make embedding/contrastive training
    converge (random negatives are trivially easy).

    Same scale shape as :func:`brute_force_topk` (broadcast anchors,
    corpus streams once, two-phase top-k); swap the scoring stage for
    :func:`lsh_topk`/:func:`ivf_topk` buckets at billion-vector scale
    -- the label filter composes with any of them."""
    a = anchors.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       F.col(label_col).alias("anchor_label"))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("__cv"),
                   F.col(label_col).alias("neg_label"))
    scored = (c.crossJoin(F.broadcast(a))
              .where((F.col("neighbor_id") != F.col("query_id"))
                     & (F.col("neg_label") != F.col("anchor_label")))
              .select("query_id", "anchor_label", "neighbor_id",
                      "neg_label",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    return (topk_per_query(scored, k)
            .select("query_id", "anchor_label", "neighbor_id",
                    "neg_label", "rank", F.round("cos", 6).alias("cos")))


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Binary-code similarity search: vectors collapse to their SIGN
    BITS (1 bit/dimension -- a 32x denser index than float32) and
    neighbors rank by Hamming distance, the integer proxy for angular
    distance (P[sign mismatch] = angle/pi per dimension).  The
    memory-extreme sibling of :func:`quantized_topk`; production
    stacks use exactly this as the first of the code->int8->float
    re-ranking ladder (:func:`rerank_topk`).

    The distance is an exact integer fold (zip_with + aggregate) --
    order-free, bit-portable; broadcast queries, corpus streams once,
    two-phase top-k.  Ties break on neighbor_id."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"))
    mism = F.zip_with(
        F.col("__qv"), F.col("__cv"),
        lambda a, b: F.when((a >= 0) != (b >= 0), F.lit(1))
        .otherwise(F.lit(0)).cast("long"))
    ham = F.aggregate(mism, F.lit(0).cast("long"),
                      lambda acc, x: acc + x)
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", ham.alias("hamming")))
    return (topk_per_query(scored, k,
                           order=[F.asc("hamming"), F.asc("neighbor_id")])
            .select("query_id", "neighbor_id", "rank", "hamming"))


def rrf_fuse(rankings: list, k: int = 3, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): combine any number of
    (query_id, neighbor_id, rank) tables into one consensus ranking by
    ``score = sum over rankers of 1 / (c + rank)`` -- the
    standard zero-training way to merge heterogeneous retrievers
    (dense + sparse, cosine + Hamming, BM25 + ANN...).

    A missing candidate contributes nothing from that ranker (full
    outer join).  Scores are tiny fixed sums of single IEEE divisions
    -- engine-exact; ties break on neighbor_id.  Scale shape:
    candidate-sized joins only (each input is already a top-k)."""
    assert rankings
    fused = None
    for i, r in enumerate(rankings):
        t = r.select("query_id", "neighbor_id",
                     (F.lit(1.0) / (F.lit(float(c)) + F.col("rank")))
                     .alias(f"__s{i}"))
        fused = t if fused is None else fused.join(
            t, ["query_id", "neighbor_id"], "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        score = term if score is None else score + term
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id"))
    return (fused.select("query_id", "neighbor_id",
                         score.alias("rrf_score"))
            .withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= k)
            .select("query_id", "neighbor_id", "fused_rank",
                    F.round("rrf_score", 10).alias("rrf_score")))


def cluster_cards(corpus: DataFrame, n_centroids: int = 16,
                  lloyd_iters: int = 1, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  label_col: str = "label") -> DataFrame:
    """Corpus cluster cards: coarse-quantize with the same
    deterministic seeded+Lloyd centroids as :func:`ivf_topk`, then
    summarize each cluster -- member count, lowest-id exemplar, mean
    cosine to the centroid (cohesion), and the dominant label -- the
    inspect-before-you-trust-it report every clustering-driven
    curation step (semantic dedup, topic pruning, stratified
    sampling by cluster) starts from.

    Output: (cluster_id, n_members, example_id, mean_cos, top_label).
    Scale shape: one broadcast assignment pass + two cluster-keyed
    aggregates; the card table is centroid-sized."""
    cents = (corpus.where(F.col(id_col) < n_centroids)
             .select(F.col(id_col).alias("centroid_id"),
                     F.col(vec_col).alias("__cent")))
    cents = lloyd_refine(corpus, cents, lloyd_iters, id_col, vec_col)
    assign = _nearest_centroids(corpus, cents, "vec_id", 1,
                                id_col, vec_col)
    sim = (assign.join(F.broadcast(cents), "centroid_id")
           .select("vec_id", "centroid_id",
                   cosine(F.col(vec_col), F.col("__cent")).alias("cos"))
           .localCheckpoint(eager=False))  # sim feeds two branches
    lab = (sim.join(corpus.select(F.col(id_col).alias("vec_id"),
                                  F.col(label_col).alias("label")),
                    "vec_id")
           .groupBy("centroid_id", "label")
           .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("centroid_id").orderBy(F.desc("n"),
                                                  F.asc("label"))
    dom = (lab.withColumn("__r", F.row_number().over(w))
           .where(F.col("__r") == 1)
           .select("centroid_id", F.col("label").alias("top_label")))
    return (sim.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.min("vec_id").alias("example_id"),
                 F.round(F.sum(F.col("cos").cast("decimal(27,12)"))
                         .cast("double") / F.count(F.lit(1)), 8)
                 .alias("mean_cos"))
            .join(F.broadcast(dom), "centroid_id")
            .select(F.col("centroid_id").alias("cluster_id"),
                    "n_members", "example_id", "mean_cos",
                    F.col("top_label").cast("int").alias("top_label")))
