"""Text-analysis operators for large-scale training-data pipelines
(BASELINE.json north_star extensions; SURVEY.md Phase 5).

All pure Catalyst expressions -- tokenization, fingerprinting,
quality metrics, language ID, shingling, SimHash -- so they run
JVM-side inside whole-stage codegen over 100 TB of documents.  Cross-
engine determinism comes from md5 (identical hex everywhere) instead
of engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the heuristic language ID.
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "de", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "ne"],
}

HEX_HIGH = ["8", "9", "a", "b", "c", "d", "e", "f"]


def tokens(col: Column) -> Column:
    """Whitespace tokenizer (regex split of the trimmed text)."""
    return F.split(F.trim(col), r"\s+")


def normalize(col: Column) -> Column:
    """Dedup normalization: lowercase + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def template_fingerprint(col: Column) -> Column:
    """Digit-insensitive template fingerprint: md5 of the normalized
    text with every digit run collapsed to '#'.  Documents identical
    up to numbers ("Order #123 shipped 2024-01-02") share one
    fingerprint -- the boilerplate-template signal exact dedup cannot
    see."""
    return F.md5(F.regexp_replace(normalize(col), "[0-9]+", "#"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text.  md5 (not
    xxhash/murmur) so fingerprints are identical across engines and
    across cluster versions -- a requirement when dedup state outlives
    one job."""
    return F.md5(normalize(col))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_count(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(words)))


def quality_metrics(df: DataFrame, text_col: str = "text",
                    extra_cols: list | None = None) -> DataFrame:
    """Quality scoring: length, token stats, alpha ratio, stopword
    ratio, and a blended [0,1] quality score.  Integer counts divided
    as doubles -- bit-identical across engines.

    ``extra_cols``: additional Column expressions carried through the
    projection (e.g. a fingerprint) -- keeps single-pass pipelines
    single-pass, which streaming complete mode REQUIRES (a
    stream-stream self-join to re-attach columns is not allowed
    there)."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t).cast("double")
    n_char = F.length(F.col(text_col)).cast("double")
    n_alpha = (n_char - F.length(
        F.regexp_replace(F.col(text_col), r"[A-Za-z]", ""))).cast("double")
    n_stop = stopword_count(t, LANG_STOPWORDS["en"]).cast("double")
    avg_tok_len = F.when(n_tok > 0, (n_char - (n_tok - 1)) / n_tok) \
        .otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_char > 0, n_alpha / n_char).otherwise(F.lit(0.0))
    score = (F.least(n_tok / 100, F.lit(1.0)) * 0.3
             + stop_ratio * 0.3 + alpha_ratio * 0.4)
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"), n_char.alias("n_chars_obs"),
        avg_tok_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
        *(extra_cols or []))


def repetition_metrics(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals: documents dominated by a few
    repeated tokens or phrases are low-quality training data even when
    their surface statistics (length, alpha ratio) look fine.

    Per document: ``distinct_token_ratio`` (type/token ratio),
    ``top_token_fraction`` (share of the most frequent token) and
    ``top_bigram_fraction`` (share of the most frequent word bigram
    among all bigrams).  All integer counts divided as doubles --
    bit-identical across engines.

    Scale shape: two explodes (tokens, bigrams), each followed by a
    (doc, gram)-keyed count and a doc-keyed max/sum -- token-sized
    shuffles with map-side partial aggregation, never doc x doc."""
    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("g"))
    tok_stats = (tok.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
                 .groupBy(id_col)
                 .agg(F.sum("c").alias("n_tok"),
                      F.count(F.lit(1)).alias("n_distinct"),
                      F.max("c").alias("top_tok")))
    big = df.select(F.col(id_col),
                    F.explode(shingles(F.col(text_col), 2)).alias("g"))
    big_stats = (big.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
                 .groupBy(id_col)
                 .agg(F.sum("c").alias("n_big"), F.max("c").alias("top_big")))
    return (df.select(id_col)
            .join(tok_stats, id_col, "left")
            .join(big_stats, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_tok", F.lit(0)).alias("n_tokens"),
                F.when(F.col("n_tok") > 0,
                       F.col("n_distinct").cast("double") / F.col("n_tok"))
                .otherwise(F.lit(0.0)).alias("distinct_token_ratio"),
                F.when(F.col("n_tok") > 0,
                       F.col("top_tok").cast("double") / F.col("n_tok"))
                .otherwise(F.lit(0.0)).alias("top_token_fraction"),
                F.when(F.col("n_big") > 0,
                       F.col("top_big").cast("double") / F.col("n_big"))
                .otherwise(F.lit(0.0)).alias("top_bigram_fraction")))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: stopword-hit counts per language,
    argmax with a fixed tiebreak order (en > de > es > fr), 'und' when
    no list scores.  Deterministic, SQL-mirrorable."""
    t = tokens(col)
    order = list(LANG_STOPWORDS)
    scores = {lang: stopword_count(t, words)
              for lang, words in LANG_STOPWORDS.items()}
    # greedy CASE chain: first language (in declaration order) whose
    # score is positive and >= every later language wins
    expr = None
    for i, lang in enumerate(order):
        cond = scores[lang] > 0
        for other in order[i + 1:]:
            cond = cond & (scores[lang] >= scores[other])
        expr = (F.when(cond, F.lit(lang)) if expr is None
                else expr.when(cond, F.lit(lang)))
    return expr.otherwise(F.lit("und"))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as space-joined strings; empty array when the
    document has fewer than k tokens.

    Spark evaluates a lambda body once per array element, re-deriving
    every expression in it, so the token array is bound ONCE as a
    lambda variable (a one-element ``transform``) and shingle i joins
    element i of k shifted slices zipped side by side.  A lambda that
    called ``tokens(col)`` itself re-split the document per shingle:
    O(tokens^2) regex work per document."""
    def shingled(t: Column) -> Column:
        n = F.size(t) - (k - 1)
        zipped = F.arrays_zip(*[F.slice(t, j + 1, n) for j in range(k)])
        return F.when(n > 0, F.transform(zipped, lambda s: F.concat_ws(
            " ", *[s[str(j)] for j in range(k)]))
        ).otherwise(F.array().cast("array<string>"))
    return F.transform(F.array(tokens(col)), shingled)[0]


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): md5 each word
    k-shingle, slide a ``window``-wide frame over the shingle sequence,
    keep the min hash of each fully-contained frame, distinct per doc.

    Guarantees any shared run of ``window + k - 1`` tokens between two
    documents selects at least one common fingerprint -- the classic
    local document sketch.  Plan: explode + one window function + one
    distinct; shuffles shingle rows, never documents."""
    sh = df.select(F.col(id_col),
                   F.posexplode(shingles(F.col(text_col), k))
                   .alias("pos", "shingle"))
    h = sh.select(id_col, (F.col("pos") + 1).alias("pos"),
                  F.md5("shingle").alias("hx"))
    w_frame = (Window.partitionBy(id_col).orderBy("pos")
               .rowsBetween(0, window - 1))
    w_doc = Window.partitionBy(id_col)
    return (h.withColumn("sel", F.min("hx").over(w_frame))
            .withColumn("n", F.count(F.lit(1)).over(w_doc))
            .where(F.col("pos") <= F.col("n") - window + 1)
            .select(F.col(id_col), F.col("sel").alias("fp"))
            .distinct())


#: PII patterns chosen from the regex subset BOTH Java (Spark) and
#: RE2 (DuckDB) support identically: no lookaround, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII redaction: replace emails / phone numbers / IPv4 addresses
    with ``<PII:kind>`` placeholders and count what was removed -- the
    standard scrub pass a pretraining corpus runs before anything else.

    Output: (id, clean_text, n_emails, n_phones, n_ipv4, n_pii).
    Order matters: emails first (an email contains dots that the ipv4
    pattern must never see), then phones, then IPs -- counts are
    computed on the SAME intermediate the next replacement reads, so
    no span is double-counted.

    Pure ``regexp_replace`` / ``regexp_count`` codegen -- no UDF; the
    patterns stay inside the Java-regex/RE2 common subset so the
    DuckDB oracle is character-identical.  Scale shape: embarrassingly
    parallel map, zero shuffle."""
    t0 = F.col(text_col)
    n_emails = F.regexp_count(t0, F.lit(PII_PATTERNS["email"]))
    t1 = F.regexp_replace(t0, PII_PATTERNS["email"], "<PII:email>")
    n_phones = F.regexp_count(t1, F.lit(PII_PATTERNS["phone"]))
    t2 = F.regexp_replace(t1, PII_PATTERNS["phone"], "<PII:phone>")
    n_ipv4 = F.regexp_count(t2, F.lit(PII_PATTERNS["ipv4"]))
    t3 = F.regexp_replace(t2, PII_PATTERNS["ipv4"], "<PII:ipv4>")
    return df.select(
        F.col(id_col), t3.alias("clean_text"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ipv4.cast("long").alias("n_ipv4"),
        (n_emails + n_phones + n_ipv4).cast("long").alias("n_pii"))


def chunk_with_overlap(df: DataFrame, chunk_size: int = 64,
                       stride: int = 48, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Sliding-window document chunking: split each document's token
    stream into ``chunk_size``-token pieces starting every ``stride``
    tokens (overlap = chunk_size - stride) -- the RAG / long-context
    training-example splitter.  Every token belongs to at least one
    chunk; consecutive chunks share the overlap so no boundary context
    is lost.

    Output: (id, chunk_idx, chunk_start, n_chunk_tokens, chunk_text).
    The last chunk may be short; a final stride landing exactly at the
    end emits nothing (its tokens are already fully covered).

    Plan: one ``posexplode`` of the integer start sequence + one
    ``slice``/``array_join`` -- all inside codegen, shuffle-free; the
    fan-out is rows * ceil(n/stride), the same data volume any
    chunker must emit."""
    assert 0 < stride <= chunk_size, "stride must be in (0, chunk_size]"
    t = tokens(F.col(text_col))
    n = F.size(t)
    starts = F.sequence(
        F.lit(0),
        F.greatest(n - 1, F.lit(0)),
        F.lit(stride))
    return (df.select(F.col(id_col), t.alias("__toks"),
                      F.posexplode(starts).alias("chunk_idx", "chunk_start"))
            .select(
                id_col, "chunk_idx", "chunk_start",
                F.size(F.slice(F.col("__toks"),
                               F.col("chunk_start") + 1, chunk_size))
                .alias("n_chunk_tokens"),
                F.array_join(F.slice(F.col("__toks"),
                                     F.col("chunk_start") + 1, chunk_size),
                             " ").alias("chunk_text")))


def token_rarity(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus-frequency rarity scoring: how common are a document's
    tokens across the WHOLE corpus?  The integer-exact stand-in for a
    unigram-LM perplexity filter (low mean frequency = surprising =
    either valuable rare content or garbage; both ends get reviewed).

    Per document: ``n_tokens``, ``mean_token_freq`` (average over
    token POSITIONS of that token's corpus occurrence count),
    ``min_token_freq`` (the rarest token's count).  All sums are
    integer (order-independent, engine-exact); the single final
    division is one double op -- bit-identical everywhere.

    Scale shape: one explode + a token-keyed count (the corpus
    vocabulary, map-side combined) broadcast-or-shuffle joined back to
    the token stream + a doc-keyed sum.  Token-sized shuffles only,
    never doc x doc."""
    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    return (tok.join(vocab, "tok")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 (F.sum("freq").cast("double")
                  / F.count(F.lit(1))).alias("mean_token_freq"),
                 F.min("freq").alias("min_token_freq")))


def simhash_bits(df: DataFrame, id_col: str, text_col: str,
                 nbits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens (with multiplicity).

    Each token hashes with md5; bit p of the signature is the sign of
    ``sum(+1 if hex digit p of the hash is >= 8 else -1)`` -- i.e. the
    top bit of each nibble, ``nbits`` <= 32 (md5 has 32 hex digits).
    Emitted as a '0'/'1' string so the value is engine-portable.
    One explode + one groupBy: shuffles doc-count-sized rows.
    """
    assert nbits <= 32
    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("tok"))
    hx = tok.select(id_col, F.md5(F.col("tok")).alias("hx"))
    sums = hx.groupBy(id_col).agg(*[
        F.sum(F.when(F.substring("hx", p + 1, 1).isin(HEX_HIGH), 1)
              .otherwise(-1)).alias(f"b{p}")
        for p in range(nbits)])
    bit_chars = [F.when(F.col(f"b{p}") > 0, F.lit("1")).otherwise(F.lit("0"))
                 for p in range(nbits)]
    return sums.select(id_col, F.concat(*bit_chars).alias("simhash"))


def bigram_novelty(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   rare_max_freq: int = 3) -> DataFrame:
    """Bigram-LM novelty scoring: the integer-exact stand-in for a
    2-gram language-model perplexity filter (the same role
    :func:`token_rarity` plays for unigrams).  A document whose word
    PAIRS rarely occur elsewhere in the corpus is surprising --
    novel content or word salad; both tails get routed to review.

    Per document: ``n_bigrams`` (token positions - 1),
    ``n_rare_bigrams`` (positions whose bigram occurs at most
    ``rare_max_freq`` times corpus-wide), ``novelty`` = the exact
    integer ratio of the two, and ``min_bigram_freq``.

    Scale shape: explode to the bigram stream, one bigram-keyed count
    (map-side combined), join back, doc-keyed reduce -- the unigram
    rarity plan with a 2-token key; shuffles stay token-sized.  No
    floats until the single final division."""
    toks = tokens(F.col(text_col))
    bigrams = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
        " ELSE array() END")
    bg = (df.select(id_col, toks.alias("__toks"))
          .select(id_col, F.explode(bigrams).alias("bg")))
    freqs = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("freq"))
    return (bg.join(freqs, "bg")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum((F.col("freq") <= rare_max_freq).cast("int"))
                 .alias("n_rare_bigrams"),
                 F.min("freq").alias("min_bigram_freq"))
            .withColumn("novelty",
                        F.col("n_rare_bigrams").cast("double")
                        / F.col("n_bigrams").cast("double")))


def lang_confidence(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Language-ID confidence: per-language stopword-hit counts, the
    winning language (same argmax + tiebreak as :func:`lang_id`), and
    the top-two score MARGIN -- the mixed-language / low-confidence
    detector that decides whether a doc routes to the cheap monolingual
    pipeline or to review.  ``confident`` = margin >= 2 AND top >= 3.

    All scores are integer counts; top/second come from a sorted
    integer array -- engine-exact end to end, no model call."""
    t = tokens(F.col(text_col))
    scores = {lang: stopword_count(t, words)
              for lang, words in LANG_STOPWORDS.items()}
    arr = F.sort_array(F.array(*scores.values()), asc=False)
    return (df.select(id_col,
                      lang_id(F.col(text_col)).alias("lang_pred"),
                      *[scores[lang].alias(f"s_{lang}")
                        for lang in LANG_STOPWORDS],
                      arr[0].alias("top_score"),
                      arr[1].alias("second_score"))
            .withColumn("margin",
                        F.col("top_score") - F.col("second_score"))
            .withColumn("confident",
                        (F.col("margin") >= 2) & (F.col("top_score") >= 3)))


def bpe_learn(docs: DataFrame, n_merges: int = 5,
              text_col: str = "text") -> DataFrame:
    """Learn byte-pair-encoding merges from a corpus -- the tokenizer-
    TRAINING op of an LLM data pipeline (the runtime token counter
    ``llm_bpe_token_count`` is its consumer).

    Classic BPE on the word vocabulary: start from characters, then
    ``n_merges`` times (1) count adjacent symbol pairs weighted by
    word frequency, (2) take the most frequent pair (count desc, pair
    asc tiebreak -- a total order), (3) fuse that pair everywhere via
    a single boundary-safe literal replace (symbols stay
    space-delimited, the pattern is space-padded so a merged symbol
    can never match across its boundary; one left-to-right
    non-overlapping pass per iteration, identical semantics on every
    engine).

    Everything stays in-plan: the argmax is a 1-row MIN over
    ``struct(-count, pair)`` (no global window, no sort, no driver
    collect) broadcast back onto the vocabulary.  Scale shape per
    merge: one pair explode over the VOCABULARY (not the corpus -- the
    corpus collapses to word counts once), one map-side-combined
    count, one broadcast join.  Output: (step, pair, merged, cnt)."""
    w = docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
    vocab = (w.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
             .select("freq",
                     F.concat(F.lit(" "),
                              F.trim(F.regexp_replace("w", "(.)", "$1 ")),
                              F.lit(" ")).alias("sym"))
             .localCheckpoint())

    merges = []
    for step in range(1, n_merges + 1):
        arr = F.split(F.trim(F.col("sym")), " ")
        pairs_expr = F.expr(
            "CASE WHEN size(__arr) >= 2 THEN "
            "transform(sequence(1, size(__arr) - 1), "
            "i -> concat(element_at(__arr, i), ' ', "
            "element_at(__arr, i + 1))) "
            "ELSE array() END")
        pair_counts = (vocab.select("freq", arr.alias("__arr"))
                       .select("freq", F.explode(pairs_expr).alias("pair"))
                       .groupBy("pair")
                       .agg(F.sum("freq").alias("cnt")))
        # the aggregate always yields one row; on an exhausted corpus
        # (< n_merges distinct pairs) its pair is NULL -- filter it so
        # the merge table matches the oracle's empty LIMIT-1 stage,
        # and no-op the vocabulary update instead of NULLing every sym
        best = (pair_counts
                .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                    F.col("pair"))).alias("b"))
                .select(F.col("b.pair").alias("pair"),
                        (-F.col("b.nc")).alias("cnt"))
                .where(F.col("pair").isNotNull())
                .localCheckpoint(eager=False))
        merges.append(best.select(
            F.lit(step).alias("step"), "pair",
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
            "cnt"))
        merged_sym = F.replace(
            F.col("sym"),
            F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
            F.concat(F.lit(" "),
                     F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                     F.lit(" ")))
        vocab = (vocab.join(F.broadcast(best), F.lit(True), "left")
                 .select("freq",
                         F.when(F.col("pair").isNull(), F.col("sym"))
                         .otherwise(merged_sym).alias("sym"))
                 .localCheckpoint(eager=False))

    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_encode(docs: DataFrame, n_merges: int = 5,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Tokenize with a learned BPE table: run :func:`bpe_learn`, apply
    its merges IN ORDER to the word vocabulary (the same space-padded
    boundary-safe replaces the trainer used), and count the resulting
    symbols per document -- the train->encode round trip that prices a
    corpus in tokens under its own tokenizer.

    Scale shape: merges pivot to ONE broadcast row whose columns chain
    ``n_merges`` literal replaces inside codegen over the vocabulary
    (corpus-collapsed once); token counts then join back to the
    (doc, word) stream on the word key.  Output: (doc_id, n_words,
    bpe_tokens)."""
    merges = bpe_learn(docs, n_merges, text_col)
    mrow = (merges.select("step", "pair").groupBy()
            .pivot("step", list(range(1, n_merges + 1)))
            .agg(F.first("pair")))

    dw = docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("w"))
    vocab = (dw.select("w").distinct()
             .select("w",
                     F.concat(F.lit(" "),
                              F.trim(F.regexp_replace("w", "(.)", "$1 ")),
                              F.lit(" ")).alias("sym"))
             .crossJoin(F.broadcast(mrow)))
    sym = F.col("sym")
    for k in range(1, n_merges + 1):
        # a pivot column is NULL when the trainer exhausted the corpus
        # before step k -- skip that replace instead of NULLing the sym
        pair = F.col(str(k))
        sym = F.when(pair.isNull(), sym).otherwise(F.replace(
            sym, F.concat(F.lit(" "), pair, F.lit(" ")),
            F.concat(F.lit(" "), F.replace(pair, F.lit(" "), F.lit("")),
                     F.lit(" "))))
    per_word = vocab.select(
        "w", F.size(F.split(F.trim(sym), " ")).alias("n_sym"))
    return (dw.join(per_word, "w")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sym").alias("bpe_tokens")))


def count_min_heavy_hitters(df: DataFrame, top_n: int = 20,
                            depth: int = 3, width: int = 1024,
                            text_col: str = "text") -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch (Cormode-
    Muthukrishnan): ``depth`` md5-salted hash rows x ``width``
    counters; a token's estimate is the MIN of its ``depth`` bucket
    counts, which can only OVER-estimate (collisions add, never
    subtract).

    The sketch is the sublinear-memory answer to "what are the top
    terms in 100 TB": the counter table is depth x width integers
    regardless of vocabulary size, it is mergeable across partitions,
    shards, and days (counter-wise addition), and it never touches a
    vocabulary-sized shuffle.  Here the exact counts are ALSO computed
    so the output exposes estimate vs truth (overestimate-only is the
    testable CMS contract); a pure at-scale run would skip the exact
    side.

    Determinism: buckets are md5-prefix hashes (engine-portable like
    every keyed decision in this repo) and every count is an integer,
    so the whole output is engine-exact."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_cnt"))

    def bucket(col, row: int):
        return F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"cms{row}:"), col)), 1, 8), 16, 10)
            .cast("long"), F.lit(width))

    est = None
    for r in range(depth):
        counters = (exact.groupBy(bucket(F.col("w"), r).alias("b"))
                    .agg(F.sum("exact_cnt").alias(f"c{r}")))
        joined = exact.select("w", "exact_cnt",
                              bucket(F.col("w"), r).alias("b")) \
            if est is None else est.withColumn("b",
                                               bucket(F.col("w"), r))
        est = (joined.join(F.broadcast(counters), "b").drop("b"))
    est = est.withColumn(
        "cms_estimate",
        F.least(*[F.col(f"c{r}") for r in range(depth)]))
    # top-n via sort+limit (TakeOrderedAndProject -- never a global
    # window over the vocabulary-sized table); the rank window then
    # runs over top_n rows only
    top = (est.orderBy(F.desc("exact_cnt"), F.asc("w")).limit(top_n))
    w_top = Window.orderBy(F.desc("exact_cnt"), F.asc("w"))
    return (top.withColumn("token_rank", F.row_number().over(w_top))
            .select(F.col("w").alias("token"), "exact_cnt",
                    "cms_estimate",
                    (F.col("cms_estimate") >= F.col("exact_cnt"))
                    .alias("never_underestimates"),
                    "token_rank"))


def naive_bayes_classify(train: DataFrame, test: DataFrame,
                         label_col: str = "lang",
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Multinomial naive Bayes text classifier, trained and scored in
    one DataFrame plan: per-class token counts with Laplace smoothing,
    ``score(d, c) = ln P(c) + sum over token occurrences of
    ln((cnt(tok, c) + 1) / (tokens_c + |V|))``, argmax per document.

    Determinism contract: every count is an exact integer, each ln term
    is one IEEE double on identical integer ratios, per-doc sums go
    through decimal(27,12) so reduction order can't change them, and
    the argmax breaks score ties on the class label.

    Scale shape: training is one token-sized shuffle (per-class counts
    -- at 100 TB the (class, token) likelihood table is
    vocab x classes, usually broadcastable); scoring is test-tokens x
    classes rows, one left join against the likelihood table + one
    doc-keyed sum.  Output: (doc_id, actual, predicted, correct,
    score)."""
    toks = tokens(F.col(text_col))
    tr = train.select(F.col(label_col).alias("lang"),
                      F.explode(toks).alias("token"))
    cls = (train.groupBy(F.col(label_col).alias("lang"))
           .agg(F.count(F.lit(1)).alias("n_docs")))
    cstat = tr.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok"))
    vocab = tr.select("token").distinct().count()
    total_docs = train.count()
    lik = tr.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))

    te = test.select(F.col(id_col), F.col(label_col).alias("actual"),
                     F.explode(toks).alias("token"))
    terms = (te.crossJoin(F.broadcast(cstat))
             .join(lik, ["lang", "token"], "left")
             .select(id_col, "actual", "lang",
                     F.log((F.coalesce("cnt", F.lit(0)) + 1)
                           .cast("double")
                           / (F.col("n_tok") + F.lit(vocab))
                           .cast("double"))
                     .cast("decimal(27,12)").alias("term")))
    prior = cls.select(
        "lang", F.log(F.col("n_docs").cast("double")
                      / F.lit(float(total_docs))).alias("prior"))
    scored = (terms.groupBy(id_col, "actual", "lang")
              .agg(F.sum("term").cast("double").alias("ssum"))
              .join(F.broadcast(prior), "lang")
              .select(id_col, "actual", "lang",
                      (F.col("ssum") + F.col("prior")).alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("lang"))
    return (scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select(id_col, "actual", F.col("lang").alias("predicted"),
                    (F.col("lang") == F.col("actual")).alias("correct"),
                    F.round("score", 6).alias("score")))


#: demo blocklist for the safety-filter pass -- deterministic lowercase
#: terms; a production list is a config input, the plan is identical
BLOCKLIST_TERMS = ("error", "crash", "fatal", "exploit")


def blocklist_filter(docs: DataFrame, terms=BLOCKLIST_TERMS,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Blocklist safety filter: per document, which blocklist terms
    appear (as word-boundary matches on the lowercased text), how many
    total hits, and the keep/drop decision -- the deterministic
    wordlist pass every curation pipeline runs before model-based
    toxicity scoring (which needs an inference service; this is the
    scan-side prefilter that cuts its traffic).

    One regexp per term inside codegen (term lists are config-sized);
    hits counted with regexp_count so repeated occurrences weigh in.
    Output: (doc_id, matched_terms csv, n_hits, keep)."""
    lowered = F.lower(F.col(text_col))
    hit_cols = [F.regexp_count(lowered, F.lit(rf"\b{t}\b")).alias(f"__h_{t}")
                for t in terms]
    hits = docs.select(F.col(id_col), *hit_cols)
    total = None
    for t in terms:
        c = F.col(f"__h_{t}")
        total = c if total is None else total + c
    matched = F.concat_ws(",", F.array_compact(F.array(
        *[F.when(F.col(f"__h_{t}") > 0, F.lit(t)) for t in terms])))
    return hits.select(
        id_col, matched.alias("matched_terms"),
        total.alias("n_hits"), (total == 0).alias("keep"))
