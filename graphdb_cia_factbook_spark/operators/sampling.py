"""Deterministic sampling and training-example construction for
large-scale data pipelines (BASELINE.json north_star extensions).

Sampling at 100 TB must be (a) reproducible across reruns and engine
versions and (b) embarrassingly parallel -- so every decision here is
a pure function of the row key via md5 (identical hex on every
engine), never an RNG.  ``rand()``-based sampling cannot be replayed,
audited, or oracle-checked; keyed hash sampling can.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: width of the hash prefix used as the sampling coin: 8 hex digits
#: = 32 uniform bits, plenty of resolution for any realistic fraction.
_HEX_DIGITS = 8


def fraction_to_hex_threshold(fraction: float) -> str:
    """Map a sampling fraction to the lexicographic hex threshold:
    a row survives iff the first 8 hex chars of its key hash compare
    strictly below this string.  md5 hex is lowercase on both Spark
    and DuckDB and lexicographic order on fixed-width lowercase hex
    equals numeric order, so the comparison is engine-portable without
    any hex->int conversion.  fraction >= 1 maps to 'g' (above every
    hex char), fraction <= 0 to '0' * 8 (below every hash)."""
    if fraction >= 1.0:
        return "g"
    if fraction <= 0.0:
        return "0" * _HEX_DIGITS
    return format(int(fraction * 16 ** _HEX_DIGITS), f"0{_HEX_DIGITS}x")


def sample_hash_coin(key_col, salt: str = ""):
    """The sampling coin: first 8 hex chars of md5(salt || key)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), key_col.cast("string"))),
        1, _HEX_DIGITS)


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float], key_col: str,
                      default_fraction: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Deterministic stratified (per-domain) sampling: each stratum
    keeps its own fraction of rows, decided per row by the keyed hash
    coin.  The canonical domain-mixing step of a training-data
    pipeline: down-weight over-represented sources by giving them
    smaller fractions.

    Scale shape: zero shuffles -- the threshold lookup is a literal
    CASE chain (strata maps are small by definition: domains, not
    rows) and the filter runs inside the scan's codegen stage, so
    sampling 100 TB costs one pass and prunes at the source."""
    expr = None
    for stratum, frac in sorted(fractions.items()):
        th = F.lit(fraction_to_hex_threshold(frac))
        cond = F.col(strata_col) == stratum
        expr = F.when(cond, th) if expr is None else expr.when(cond, th)
    thresh = expr.otherwise(
        F.lit(fraction_to_hex_threshold(default_fraction)))
    return df.where(sample_hash_coin(F.col(key_col), salt) < thresh)


def pack_sequences(df: DataFrame, budget: int, n_shards: int = 8,
                   id_col: str = "doc_id",
                   count_col: str = "n_tokens") -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end to end in
    a deterministic order and cut the token stream into fixed
    ``budget``-token training sequences (the standard LM pretraining
    example construction -- documents may straddle a cut).

    Emits one row per document: which shard-local sequence its first
    token lands in (``seq_first``), where (``start_offset``), and the
    last sequence it touches (``seq_last``).  All integer arithmetic
    over a prefix sum -- exact on every engine.

    Scale shape: a single global ordering would serialize the prefix
    sum through one partition, so the stream is split into
    ``n_shards`` independent shards by key modulo (shard count sized
    to the cluster, each shard packs its own sequences).  Per shard
    the cumulative sum is one window over rows already co-partitioned
    by the shard key -- the plan at 100 TB is one hash shuffle + one
    sorted window, no driver participation."""
    shard = F.pmod(F.col(id_col), F.lit(n_shards))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(count_col).over(w)
    b = int(budget)
    # integer DIV, never floor(double-division): the double round-trip
    # is exact at these magnitudes but is the one step whose result
    # could drift across engine builds; DIV keeps the whole pipeline
    # in 64-bit integer arithmetic end to end (non-negative operands,
    # so truncation == floor on both engines).
    return (df.withColumn("shard", shard.cast("int"))
            .withColumn("_start", (cum - F.col(count_col)).cast("long"))
            .withColumn("_end", (cum - 1).cast("long"))
            .select(id_col, "shard", F.col(count_col).alias("n_tokens"),
                    F.expr(f"_start DIV {b}").cast("long")
                    .alias("seq_first"),
                    F.expr(f"_end DIV {b}").cast("long").alias("seq_last"),
                    F.pmod(F.col("_start"), F.lit(b)).cast("long")
                    .alias("start_offset")))


#: power-of-two token-length bucket edges for batch construction;
#: documents above the last edge share the overflow bucket.
LENGTH_BUCKET_EDGES = [16, 32, 64, 128, 256, 512, 1024]


def length_bucket_batches(df: DataFrame, batch_size: int,
                          id_col: str = "doc_id",
                          count_col: str = "n_tokens",
                          salt: str = "") -> DataFrame:
    """Length-bucketed batch construction: group documents into
    power-of-two token-length buckets, then number deterministic
    ``batch_size``-document batches within each bucket (order = keyed
    hash coin, so batches are reproducible and unbiased by input
    order).  Padding waste in a batch is bounded by the bucket width
    -- the standard throughput trick for packing variable-length
    sequences into fixed tensors.

    Output: (id, n_tokens, bucket, batch_id, pos_in_batch).  The
    bucket is an integer CASE chain (no float log2 -- engine-exact);
    batch numbering is pure integer arithmetic over a row_number.

    Scale shape: one hash shuffle on the bucket key + one sorted
    window per bucket; the coin order means no global sort and no
    skew beyond the bucket histogram itself."""
    n = F.col(count_col)
    bucket = None
    for edge in LENGTH_BUCKET_EDGES:
        cond = n <= edge
        bucket = (F.when(cond, edge) if bucket is None
                  else bucket.when(cond, edge))
    bucket = bucket.otherwise(2 * LENGTH_BUCKET_EDGES[-1]).cast("int")
    coin = sample_hash_coin(F.col(id_col), salt)
    w = Window.partitionBy("bucket").orderBy(coin, id_col)
    rn = F.row_number().over(w) - 1
    bs = int(batch_size)
    return (df.withColumn("bucket", bucket)
            .withColumn("_rn", rn.cast("long"))
            .select(id_col, F.col(count_col).alias("n_tokens"), "bucket",
                    F.expr(f"_rn DIV {bs}").cast("long").alias("batch_id"),
                    F.pmod(F.col("_rn"), F.lit(bs)).cast("long")
                    .alias("pos_in_batch")))


def fixed_size_sample(df: DataFrame, strata_col: str, k: int,
                      key_col: str, salt: str = "") -> DataFrame:
    """Deterministic FIXED-SIZE sample: exactly ``min(k, |stratum|)``
    rows per stratum -- the rows with the k smallest hash coins.
    Fractional sampling can't hit an exact budget ("give me 10k docs
    per domain"); ordering by the keyed coin is a deterministic
    reservoir equivalent, stable under reruns and engine moves.

    Scale shape: one window (rank by coin within stratum) over rows
    already partitioned by the stratum key -- a single hash shuffle;
    no global sort, no driver-side reservoir."""
    coin = sample_hash_coin(F.col(key_col), salt)
    w = Window.partitionBy(strata_col).orderBy(coin, key_col)
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn"))


def mixture_weights(df: DataFrame, strata_col: str = "source",
                    text_col: str = "text",
                    budget_tokens: int = 1_000_000) -> DataFrame:
    """Temperature-scaled domain mixing: per-source sampling weights
    proportional to sqrt(source token count) -- the alpha = 0.5
    rebalancing used when composing multilingual / multi-domain
    training mixes, flattening the head without drowning the tail.

    alpha is FIXED at 0.5 because IEEE sqrt is correctly rounded on
    every engine while pow(x, alpha) is not; each sqrt is then rounded
    to 6 decimals and summed as DECIMAL so the normalization constant
    is reduction-order-independent.  From there ``weight`` (share of
    the mix) and ``budget_alloc_tokens`` (tokens this source
    contributes to a ``budget_tokens``-sized mix) are single double
    ops on identical inputs -- engine-exact.

    Scale shape: one map-side-combined per-source aggregate (|sources|
    rows), a 1-row total broadcast back via cross join -- the fact
    stream is read once and nothing doc-sized ever shuffles."""
    from .text import tokens
    per_src = (df.groupBy(strata_col)
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.size(tokens(F.col(text_col))))
                    .alias("n_tokens")))
    w = (F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
         .cast("decimal(18,6)"))
    scored = per_src.withColumn("__w", w)
    total = scored.agg(F.sum("__w").alias("__total"))
    return (scored.crossJoin(F.broadcast(total))
            .select(strata_col, "n_docs", "n_tokens",
                    (F.col("__w").cast("double")
                     / F.col("__total").cast("double")).alias("weight"))
            .withColumn("budget_alloc_tokens",
                        F.round(F.col("weight") * F.lit(float(budget_tokens)))
                        .cast("long")))


def dsir_weights(df: DataFrame, target_pred, n_buckets: int = 256,
                 text_col: str = "text", id_col: str = "doc_id",
                 hex_digits: int = 4) -> DataFrame:
    """DSIR-style importance weights for data selection (Data
    Selection via Importance Resampling, Xie et al. 2023): score every
    document by how much more likely its hashed-bigram bag is under
    the TARGET corpus' feature distribution than under the RAW
    corpus' distribution.

    ``target_pred`` is a boolean Column marking the target (reference
    quality) documents; everything else is raw.  Features are word
    bigrams hashed into ``n_buckets`` buckets via md5 (engine-portable
    and replayable, like every other keyed decision in this module);
    bucket distributions are Laplace-smoothed unigram models over
    feature occurrences, and a document's log importance weight is

        sum_over_its_bigrams[ ln p_target(bucket) - ln p_raw(bucket) ]

    Documents with ``log_weight > 0`` look more target-like than
    raw-like (``selected``).  Integer bucket counts feed the lns, so
    the doubles are identical on every engine; the per-doc sum runs
    over decimal-cast addends (the dsum rationale) so the reduction
    order cannot move the result.

    Scale shape: one token-sized shuffle for the (doc, bucket) counts,
    one ``n_buckets``-row aggregate (map-side combined), the 1-row
    totals and the bucket log-ratio table broadcast back -- the corpus
    is read once and nothing larger than (docs x touched-buckets)
    shuffles.  Docs with fewer than 2 tokens have no features and are
    absent from the output (their weight is undefined, not 0)."""
    from .text import shingles
    # word bigrams are the 2-shingles, which tokenize each doc once
    bg = shingles(F.col(text_col), 2)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("bgm")), 1, hex_digits), 16, 10)
        .cast("long"), F.lit(n_buckets))
    # per_db feeds FOUR plan branches (the totals broadcast, both
    # sides of the log-ratio build, and the final probe); without
    # materialization the corpus-sized explode+hash+agg chain re-runs
    # per branch -- measured ~4x the single-pass cost at 10x scale.
    # Same trade-off note as dedup._hold: a cluster run would persist
    # or stage this instead of local-checkpointing.
    per_db = (df.select(F.col(id_col), target_pred.alias("is_t"),
                        F.explode(bg).alias("bgm"))
              .select(id_col, "is_t", bucket.alias("b"))
              .groupBy(id_col, "is_t", "b")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .localCheckpoint())
    bc = (per_db.groupBy("b")
          .agg(F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(0))
               .alias("t_cnt"),
               F.sum(F.when(~F.col("is_t"), F.col("cnt")).otherwise(0))
               .alias("r_cnt")))
    tot = bc.agg(F.sum("t_cnt").alias("tt"), F.sum("r_cnt").alias("rr"))
    nb = F.lit(float(n_buckets))
    lr = (bc.crossJoin(F.broadcast(tot))
          .select("b",
                  (F.log((F.col("t_cnt") + F.lit(1.0)) / (F.col("tt") + nb))
                   - F.log((F.col("r_cnt") + F.lit(1.0))
                           / (F.col("rr") + nb))).alias("lr")))
    return (per_db.join(F.broadcast(lr), "b")
            .groupBy(id_col)
            .agg(F.sum("cnt").alias("n_bigrams"),
                 F.sum((F.col("cnt") * F.col("lr"))
                       .cast("decimal(27,12)")).cast("double")
                 .alias("__lw"))
            .select(id_col, "n_bigrams",
                    F.round("__lw", 6).alias("log_weight"),
                    (F.col("__lw") > 0).alias("selected")))


#: Poisson(1) CDF thresholds scaled to 32-bit integers: a uniform
#: 32-bit hash u maps to weight k where u < threshold[k] first holds
#: (k = 9 above the last).  Integer comparisons only -- no float CDF
#: evaluation to drift between engines.
POISSON1_THRESHOLDS = [1580030168, 3160060337, 3950075421, 4213413783,
                       4279248373, 4292415291, 4294609777, 4294923276,
                       4294962463]


def poisson_bootstrap_mean_ci(df: DataFrame, value_col: str,
                              id_col: str, n_replicas: int = 40,
                              salt: str = "boot") -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean of
    ``value_col`` -- THE bootstrap that works at 100 TB: instead of
    resampling N rows with replacement (impossible to coordinate
    across a cluster), every row independently enters replica ``b``
    with Poisson(1) multiplicity, decided by its own keyed hash.  One
    pass over the data computes all replicas; no global coordination,
    no RNG state, fully replayable (the same discipline as every other
    keyed decision in this module).

    Returns one row: the full-data mean, the order-statistic CI from
    the sorted replica means (2nd and (B-1)th of B -- a ~95% interval
    at B=40), and the replica count.  Replica means are decimal-exact
    sums divided once; the CI picks elements of a sorted 40-value
    array, so the whole output is engine-identical."""
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"),
                       F.lit(":"), F.col("b").cast("string"))), 1, 8),
        16, 10).cast("long"))
    w = F.lit(9)
    for k in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        w = F.when(u < POISSON1_THRESHOLDS[k], F.lit(k)).otherwise(w)
    rep = (df.select(id_col, value_col)
           .withColumn("b", F.explode(F.sequence(
               F.lit(0), F.lit(n_replicas - 1))))
           .withColumn("__w", w))
    means = (rep.groupBy("b")
             .agg((F.sum((F.col(value_col) * F.col("__w"))
                         .cast("decimal(27,6)")).cast("double")
                   / F.sum("__w").cast("double")).alias("m")))
    overall = df.agg(
        (F.sum(F.col(value_col).cast("decimal(27,6)")).cast("double")
         / F.count(value_col)).alias("mean"))
    lo_i, hi_i = 2, n_replicas - 1
    return (means.agg(F.array_sort(
        F.collect_list(F.round("m", 8))).alias("__ms"))
        .crossJoin(F.broadcast(overall))
        .select(F.round("mean", 8).alias("mean"),
                F.element_at("__ms", lo_i).alias("ci_lo"),
                F.element_at("__ms", hi_i).alias("ci_hi"),
                F.lit(n_replicas).alias("n_replicas")))


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    key_col: str = "doc_id",
                    salt: str = "ws") -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES): each row draws a deterministic uniform u from its keyed md5
    hash and gets priority ``ln(u) / w``; the global top-k priorities
    are the sample -- each row's inclusion probability is proportional
    to its weight, with zero coordination (the distributed-sampling
    result the keyed-coin family extends to weights).

    Determinism: u = (52-bit md5 slice + 1) / (2^52 + 1) -- an exact
    double in (0, 1], identical on any engine; ln and the division are
    single IEEE ops; ties break on the key.  Replayable and auditable
    like every sampler here (same rationale as stratified_sample).

    Scale shape: priority is computed inside the scan's codegen; the
    top-k is sort+limit (TakeOrderedAndProject -- map-side k survivors
    per partition, never a global sort).  Weights must be > 0
    (enforced by filter; zero-weight rows can never be sampled)."""
    h = (F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{salt}"))),
        1, 13), 16, 10).cast("double") + 1.0) / float((1 << 52) + 1)
    pri = F.log(h) / F.col(weight_col).cast("double")
    ranked = (df.where(F.col(weight_col) > 0)
              .select(key_col, F.col(weight_col).alias("weight"),
                      pri.alias("priority"))
              .orderBy(F.desc("priority"), F.asc(key_col)).limit(k))
    w = Window.orderBy(F.desc("priority"), F.asc(key_col))
    return (ranked.withColumn("sample_rank", F.row_number().over(w))
            .select(key_col, "weight",
                    F.round("priority", 10).alias("priority"),
                    "sample_rank"))
