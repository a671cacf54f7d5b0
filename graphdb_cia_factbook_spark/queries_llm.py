"""LLM-training-data pipeline queries (north-star extensions;
SURVEY.md Phase 5) with DuckDB oracles: deduplication (exact,
MinHash-LSH, SimHash, n-gram Jaccard, winnowing), text analysis
(quality, language ID, token stats), similarity search (brute-force
cosine top-k, sign-LSH ANN, embedding near-dup), and multimodal
decode/frame-sample plumbing.

Oracle construction: every hash is md5 (identical hex on both
engines); every float reduction is a sequential left fold (DuckDB
``list_reduce`` == Spark ``F.aggregate`` bit-for-bit, see
:mod:`.operators.similarity`); integer-ratio divisions are exact.  The
big MinHash/SimHash CTE chains are generated programmatically below so
the SQL provably uses the same constants as the Spark operators.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_dedup,
)
from .operators.multimodal import decode_media, media_table, sample_frames
from .operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    near_dup_pairs,
)
from .operators.text import (
    LANG_STOPWORDS,
    lang_id,
    quality_metrics,
    simhash_bits,
    tokens,
    winnow_fingerprints,
)
from .registry import register
from .sources import read_parallel, read_table

# ---------------------------------------------------------------------------
# shared SQL fragments (must mirror operators/text.py exactly)
# ---------------------------------------------------------------------------

TOKS = r"regexp_split_to_array(trim(text), '\s+')"
NORM_MD5 = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"

#: word 3-shingles of the token array (empty when < 3 tokens), as the
#: unnest-ready list expression -- mirrors text.shingles(k=3)
SHINGLE_LIST = ("list_transform(range(1, len(toks) - 1), "
                "i -> array_to_string(toks[i:i+2], ' '))")

SHINGLE_CTE = f"""
tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest({SHINGLE_LIST}) AS shingle FROM tk
)"""

_NUM_HASHES, _BANDS, _ROWS_PER_BAND = 12, 4, 3
_LSH_BUCKET_CAP = 10_000  # hot-bucket candidate cap (dedup.py pattern)

#: band rows restricted to buckets under the hot-bucket cap -- the
#: candidate space both MinHash oracles enumerate from
_LSH_CAND_SQL = f"""okb AS (
  SELECT band, bucket FROM bands
  GROUP BY band, bucket HAVING count(*) <= {_LSH_BUCKET_CAP}
),
bnd AS (
  SELECT bd.doc_id, bd.band, bd.bucket
  FROM bands bd JOIN okb o ON bd.band = o.band AND bd.bucket = o.bucket
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a
  JOIN bnd b ON a.band = b.band AND a.bucket = b.bucket
            AND a.doc_id < b.doc_id
)"""

def _sig_cols_sql(num_hashes: int) -> str:
    """The ``num_hashes`` MinHash aggregate columns -- same md5('<i>|'
    || shingle) family as operators.dedup.minhash_signatures, so the
    signature is bit-identical on both engines at ANY operating
    point."""
    return ", ".join(
        f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(num_hashes))


def _band_selects_sql(bands: int, rows_per_band: int) -> str:
    """Band the signature columns exactly like operators.dedup.lsh_bands
    (bucket = md5 of the '|'-joined band slice)."""
    return "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b, cat=" || '|' || ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)))
        for b in range(bands))


_SIG_COLS = _sig_cols_sql(_NUM_HASHES)
_BAND_SELECTS = _band_selects_sql(_BANDS, _ROWS_PER_BAND)

#: cand/jaccard tail shared by the LSH and brute-force dedup oracles
_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""


#: same sizes/inter computation as _JACCARD_TAIL but fully CTE-shaped
#: (ending in a ``jac`` CTE) so downstream SQL can keep composing --
#: used by the cluster-resolution oracle
_JACCARD_CTES = """
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT i.id_a, i.id_b,
         i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)"""


def _dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product -- bit-equal to similarity.dot."""
    return (f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
            f"(x, y) -> x + y)")


def _cos_sql(a: str, b: str) -> str:
    return (f"({_dot_sql(a, b)} / "
            f"sqrt({_dot_sql(a, a)} * {_dot_sql(b, b)}))")


_EMBED_DIM = 64  # embeddings.parquet vector width (TESTDATA.md)


def _dot_sql_unrolled(a: str, b: str, dim: int = _EMBED_DIM) -> str:
    """``_dot_sql`` unrolled to a literal ``+``/``*`` chain for a
    statically-known dimension.  ``list_reduce`` folds left with no
    seed (``((t1 + t2) + t3) + ...``) and SQL ``+`` is left-
    associative, so the chain's every intermediate IEEE double is
    bit-identical to the fold's -- but it runs vectorized instead of
    through per-row lambda interpretation (~40x on 2.3B pairs)."""
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)) + ")"


def _bucket_sql(vec: str, nbits: int) -> str:
    return " || ".join(
        f"(CASE WHEN {vec}[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(nbits))


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@register("llm_exact_dedup", f"""
SELECT {NORM_MD5} AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
""")
def llm_exact_dedup(spark, sf):
    """Exact dedup by normalized-text md5 (hash-groupBy; the 100-TB
    baseline -- only 32-byte fingerprints shuffle)."""
    return exact_dedup(read_parallel(spark, sf, "documents"))


@register("llm_minhash_lsh", f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL},
{_JACCARD_TAIL.rstrip()}
WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
""")
def llm_minhash_lsh(spark, sf):
    """MinHash+LSH near-dedup: shingle -> 12-hash signature -> 4 bands
    -> capped bucket join -> exact-Jaccard verify >= 0.5."""
    return minhash_lsh_dedup(read_parallel(spark, sf, "documents"),
                             num_hashes=_NUM_HASHES, bands=_BANDS,
                             threshold=0.5,
                             max_bucket_size=_LSH_BUCKET_CAP)


#: the SHARP LSH operating point: b=8 bands x r=4 rows (32 hashes).
#: Candidate probability 1-(1-j^r)^b steepens in r: at j=0.3 capture
#: drops 10.4% -> 6.3% (~1.65x vs b=4,r=3), and the prune factor
#: grows as j falls (~5x at j=0.1) while j=0.8 pairs are still
#: caught with p=0.985.  Measured across the sf1/sf3/
#: sf10 ladder (SCALE.md): a ~2x CONSTANT-FACTOR candidate reduction
#: (1.71x/1.84x/1.92x) with verified-pair yield preserved -- but the
#: growth EXPONENT is unchanged (sf3->sf10: 10.35x vs wide 10.80x on
#: 3.33x docs), because the superlinear term is near-threshold
#: (j~0.4-0.5) dup families that any operating point with usable
#: recall at t=0.5 must also capture.  Same verify stage, same oracle
#: shape, only the banding constants change; worth its 2.7x hashing
#: cost exactly where candidate shuffle dominates (the 100-TB
#: regime), not on an unsaturated local box.
_SHARP_HASHES, _SHARP_BANDS, _SHARP_ROWS = 32, 8, 4


@register("llm_minhash_lsh_sharp", f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_sig_cols_sql(_SHARP_HASHES)} FROM sh GROUP BY doc_id),
bands AS (
  {_band_selects_sql(_SHARP_BANDS, _SHARP_ROWS)}
),
{_LSH_CAND_SQL},
{_JACCARD_TAIL.rstrip()}
WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
""")
def llm_minhash_lsh_sharp(spark, sf):
    """MinHash+LSH near-dedup at the sharp operating point (b=8, r=4,
    32 hashes): same shingle -> signature -> banded buckets -> capped
    candidates -> exact-Jaccard verify >= 0.5 pipeline as
    ``llm_minhash_lsh``, with a steeper S-curve that prunes low-j
    bucket collisions.  Costs 2.7x the signature aggregates (32 vs 12
    min() columns, all map-side in ONE groupBy) and 2x the band rows;
    buys a measured ~2x candidate-volume reduction at every ladder
    rung with verified-pair yield preserved (see SCALE.md round 6 for
    the full growth table and the honest limit: near-threshold dup
    families keep the growth exponent, so this is a constant-factor
    shuffle saver for the candidate-bound regime, not an
    asymptote-changer)."""
    return minhash_lsh_dedup(read_parallel(spark, sf, "documents"),
                             num_hashes=_SHARP_HASHES, bands=_SHARP_BANDS,
                             threshold=0.5,
                             max_bucket_size=_LSH_BUCKET_CAP)


@register("llm_dedup_clusters", f"""
WITH RECURSIVE {SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL},
{_JACCARD_CTES.lstrip()},
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
bi AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM alldocs
""")
def llm_dedup_clusters(spark, sf):
    """End-to-end fuzzy dedup over the corpus: MinHash-LSH verified
    pairs -> connected components -> one canonical survivor per
    near-dup cluster (the resolution step a training-data pipeline
    runs after pairwise detection; transitive drifted copies A~B~C
    collapse to one survivor).  Oracle: the same LSH pair SQL plus a
    recursive-CTE transitive closure."""
    docs = read_parallel(spark, sf, "documents")
    pairs = minhash_lsh_dedup(docs, num_hashes=_NUM_HASHES, bands=_BANDS,
                              threshold=0.5,
                              max_bucket_size=_LSH_BUCKET_CAP)
    from .operators.dedup import dedup_clusters
    return dedup_clusters(docs, pairs)


_NGRAM_DF_CAP = 1000

@register("llm_ngram_jaccard", f"""
WITH {SHINGLE_CTE},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {_NGRAM_DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a
  JOIN rare r ON r.shingle = a.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.rstrip()}
WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
""")
def llm_ngram_jaccard(spark, sf):
    """Brute n-gram (3-shingle) Jaccard dedup >= 0.5 -- the exact
    reference answer MinHash-LSH approximates.  Candidate generation
    skips shingles with document frequency > _NGRAM_DF_CAP (the
    hot-shingle guard that keeps the self-join from degenerating at
    scale); scoring still uses full shingle sets -- both mirrored in
    the oracle."""
    return ngram_jaccard_dedup(read_parallel(spark, sf, "documents"),
                               threshold=0.5, max_shingle_df=_NGRAM_DF_CAP)


_SIMHASH_BITS = 16
_HEX_HIGH_SQL = "('8','9','a','b','c','d','e','f')"
_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN substr(hx, {p + 1}, 1) IN {_HEX_HIGH_SQL} "
    f"THEN 1 ELSE -1 END) AS b{p}" for p in range(_SIMHASH_BITS))
_SIMHASH_CHARS = " || ".join(
    f"(CASE WHEN b{p} > 0 THEN '1' ELSE '0' END)"
    for p in range(_SIMHASH_BITS))


@register("llm_simhash", f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
hx AS (SELECT doc_id, md5(tok) AS hx FROM tok),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM hx GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_CHARS} AS simhash FROM sums
""")
def llm_simhash(spark, sf):
    """16-bit SimHash signatures over whitespace tokens."""
    return simhash_bits(read_parallel(spark, sf, "documents"),
                        "doc_id", "text", _SIMHASH_BITS)


_SH_ND_BITS, _SIMHASH_BANDS, _SIMHASH_MAXHAM = 32, 4, 2
_SIMHASH_MAX_DF = 1000  # hot-chunk candidate cap (dedup.py pattern)
_SIMHASH_BAND_W = _SH_ND_BITS // _SIMHASH_BANDS

_SH_ND_SUMS = ", ".join(
    f"SUM(CASE WHEN substr(hx, {p + 1}, 1) IN "
    "('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') "
    f"THEN 1 ELSE -1 END) AS b{p}" for p in range(_SH_ND_BITS))
_SH_ND_CHARS = " || ".join(
    f"(CASE WHEN b{p} > 0 THEN '1' ELSE '0' END)"
    for p in range(_SH_ND_BITS))

_SIMHASH_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"substr(simhash, {b * _SIMHASH_BAND_W + 1}, {_SIMHASH_BAND_W}) "
    f"AS chunk FROM sig"
    for b in range(_SIMHASH_BANDS))

_HAMMING_SQL = ("CAST(list_sum(list_transform(range(1, "
                f"{_SH_ND_BITS + 1}), i -> CASE WHEN "
                "substr(sa.simhash, i, 1) != substr(sb.simhash, i, 1) "
                "THEN 1 ELSE 0 END)) AS BIGINT)")


@register("llm_simhash_neardup", f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
hx AS (SELECT doc_id, md5(tok) AS hx FROM tok),
sums AS (SELECT doc_id, {_SH_ND_SUMS} FROM hx GROUP BY doc_id),
sig AS (SELECT doc_id, {_SH_ND_CHARS} AS simhash FROM sums),
chunks AS (
  {_SIMHASH_BAND_SELECTS}
),
rarec AS (
  SELECT band, chunk FROM chunks
  GROUP BY band, chunk HAVING count(*) <= {_SIMHASH_MAX_DF}
),
chc AS (
  SELECT c.doc_id, c.band, c.chunk
  FROM chunks c JOIN rarec r ON c.band = r.band AND c.chunk = r.chunk
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chc a JOIN chc b ON a.band = b.band AND a.chunk = b.chunk
                       AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, {_HAMMING_SQL} AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE {_HAMMING_SQL} <= {_SIMHASH_MAXHAM}
""")
def llm_simhash_neardup(spark, sf):
    """SimHash near-dup pairs by the banding trick: 32-bit signatures
    split into 4 eight-bit chunks; <= 2 differing bits forces
    agreement on a whole chunk (pigeonhole), so chunk equi-joins find
    every such pair with no all-pairs scan; exact Hamming verifies.
    32 bits (not the 16 of the signature demo) keeps chunk buckets
    selective -- 256 values per band -- and the hot-chunk DF cap
    bounds the candidate join even on a boilerplate corpus."""
    from .operators.dedup import simhash_neardup_pairs
    return simhash_neardup_pairs(
        read_parallel(spark, sf, "documents"), nbits=_SH_ND_BITS,
        bands=_SIMHASH_BANDS, max_hamming=_SIMHASH_MAXHAM,
        max_chunk_df=_SIMHASH_MAX_DF)


_WINNOW_W = 4
_WINNOW_MAX_DF = 1000  # hot-fingerprint candidate cap (dedup.py pattern)


@register("llm_winnow_fingerprint", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
shp AS (
  SELECT doc_id,
         unnest({SHINGLE_LIST}) AS shingle,
         generate_subscripts({SHINGLE_LIST}, 1) AS pos
  FROM tk
),
h AS (SELECT doc_id, pos, md5(shingle) AS hx FROM shp),
wmin AS (
  SELECT doc_id, pos,
         min(hx) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                       AND {_WINNOW_W - 1} FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM h
)
SELECT DISTINCT doc_id, sel AS fp
FROM wmin WHERE pos <= n - {_WINNOW_W} + 1
""")
def llm_winnow_fingerprint(spark, sf):
    """Winnowing document fingerprints (rolling min-hash over shingle
    windows, w=4) -- the classic plagiarism/near-dup sketch."""
    return winnow_fingerprints(read_parallel(spark, sf, "documents"),
                               window=_WINNOW_W)


@register("llm_winnow_containment", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
shp AS (
  SELECT doc_id,
         unnest({SHINGLE_LIST}) AS shingle,
         generate_subscripts({SHINGLE_LIST}, 1) AS pos
  FROM tk
),
h AS (SELECT doc_id, pos, md5(shingle) AS hx FROM shp),
wmin AS (
  SELECT doc_id, pos,
         min(hx) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                       AND {_WINNOW_W - 1} FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM h
),
fp AS (SELECT DISTINCT doc_id, sel AS fp
       FROM wmin WHERE pos <= n - {_WINNOW_W} + 1),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
rare AS (SELECT fp FROM fp GROUP BY fp
         HAVING count(*) <= {_WINNOW_MAX_DF}),
fpc AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r ON f.fp = r.fp),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id != b.doc_id
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id != b.doc_id
  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.n_shared,
       s.n_shared / CAST(z.n_fp AS DOUBLE) AS containment
FROM shared s JOIN sizes z ON z.doc_id = s.id_a
WHERE s.n_shared / CAST(z.n_fp AS DOUBLE) >= 0.5
""")
def llm_winnow_containment(spark, sf):
    """Asymmetric containment via winnowing fingerprints: flags doc a
    whose fingerprint set mostly appears inside doc b (quote/excerpt/
    wrapper detection) -- the case symmetric Jaccard dedup cannot see.
    Candidate pairs arise only from shared RARE fingerprints (hot-fp
    DF cap); the containment score itself is exact over full sets."""
    from .operators.dedup import winnow_containment
    return winnow_containment(read_parallel(spark, sf, "documents"),
                              window=_WINNOW_W, max_fp_df=_WINNOW_MAX_DF)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_QUALITY_M_CTE = """
t AS (
  SELECT doc_id, text, {toks} AS toks,
         CAST(length(text) AS DOUBLE) AS n_char
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok, n_char,
         (n_char - CAST(length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                        AS DOUBLE)) AS n_alpha,
         CAST(len(list_filter(toks, x -> x IN ({stop}))) AS DOUBLE)
           AS n_stop
  FROM t
),
q AS (
  SELECT doc_id,
         least(n_tok / 100, 1.0) * 0.3
           + (CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 0.3
           + (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END) * 0.4
           AS quality_score
  FROM m
)"""


_STOP_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@register("llm_quality", f"""
WITH t AS (
  SELECT doc_id, text, {TOKS} AS toks,
         CAST(length(text) AS DOUBLE) AS n_char
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok, n_char,
         (n_char - CAST(length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                        AS DOUBLE)) AS n_alpha,
         CAST(len(list_filter(toks, x -> x IN ({_STOP_EN}))) AS DOUBLE)
           AS n_stop
  FROM t
)
SELECT doc_id,
       n_tok AS n_tokens, n_char AS n_chars_obs,
       CASE WHEN n_tok > 0 THEN (n_char - (n_tok - 1)) / n_tok
            ELSE 0.0 END AS avg_token_len,
       CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END
         AS stopword_ratio,
       CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END
         AS alpha_ratio,
       least(n_tok / 100, 1.0) * 0.3
         + (CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 0.3
         + (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END) * 0.4
         AS quality_score
FROM m
""")
def llm_quality(spark, sf):
    """Per-document quality metrics + blended [0,1] score."""
    return quality_metrics(read_parallel(spark, sf, "documents"))


def _langid_case() -> str:
    order = list(LANG_STOPWORDS)
    arms = []
    for i, lang in enumerate(order):
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{other}" for other in order[i + 1:]]
        arms.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


_LANG_SCORES = ", ".join(
    "len(list_filter(toks, x -> x IN ({}))) AS s_{}".format(
        ", ".join(f"'{w}'" for w in words), lang)
    for lang, words in LANG_STOPWORDS.items())


@register("llm_quality_filter", """
WITH __QM__,
r AS (
  SELECT q.doc_id, d.source, q.quality_score,
         PERCENT_RANK() OVER (PARTITION BY d.source
                              ORDER BY q.quality_score, q.doc_id) AS pct
  FROM q JOIN documents d ON d.doc_id = q.doc_id
)
SELECT doc_id, source, quality_score, pct
FROM r WHERE pct >= 0.5
""".replace("__QM__", _QUALITY_M_CTE.format(toks=TOKS, stop=_STOP_EN)))
def llm_quality_filter(spark, sf):
    """Percentile quality filtering: keep each source's best-scoring
    half by PERCENT_RANK within the source -- the relative-threshold
    filter pipelines use when absolute score cutoffs would gut some
    domains and keep all of others.  Composes quality_metrics with one
    stratum-keyed window; the score is bit-identical across engines
    (proved by llm_quality's hash match) so the rank order is too."""
    docs = read_parallel(spark, sf, "documents")
    q = quality_metrics(docs).select("doc_id", "quality_score")
    joined = q.join(docs.select("doc_id", "source"), "doc_id")
    w = (Window.partitionBy("source")
         .orderBy("quality_score", "doc_id"))
    return (joined.withColumn("pct", F.percent_rank().over(w))
            .where(F.col("pct") >= 0.5)
            .select("doc_id", "source", "quality_score", "pct"))


@register("llm_langid", f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t)
SELECT doc_id, lang, {_langid_case()} AS lang_pred FROM s
""")
def llm_langid(spark, sf):
    """Heuristic stopword language ID next to the ground-truth lang."""
    docs = read_parallel(spark, sf, "documents")
    return docs.select("doc_id", "lang",
                       lang_id(F.col("text")).alias("lang_pred"))


@register("llm_token_stats", f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents)
SELECT doc_id, source,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens
FROM t
""")
def llm_token_stats(spark, sf):
    """Token counting: total + distinct tokens per document."""
    docs = read_parallel(spark, sf, "documents")
    t = tokens(F.col("text"))
    return docs.select("doc_id", "source",
                       F.size(t).alias("n_tokens"),
                       F.size(F.array_distinct(t))
                       .alias("n_distinct_tokens"))


@register("llm_repetition", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tok_c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS g FROM tk) GROUP BY 1, 2
),
tok_s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         COUNT(*) AS n_distinct, MAX(c) AS top_tok
  FROM tok_c GROUP BY 1
),
big_c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> array_to_string(toks[i:i+1], ' ')))
                 AS g
        FROM tk) GROUP BY 1, 2
),
big_s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_big, MAX(c) AS top_big
  FROM big_c GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(t.n_tok, 0) AS n_tokens,
       CASE WHEN t.n_tok > 0
            THEN CAST(t.n_distinct AS DOUBLE) / t.n_tok ELSE 0.0
       END AS distinct_token_ratio,
       CASE WHEN t.n_tok > 0
            THEN CAST(t.top_tok AS DOUBLE) / t.n_tok ELSE 0.0
       END AS top_token_fraction,
       CASE WHEN b.n_big > 0
            THEN CAST(b.top_big AS DOUBLE) / b.n_big ELSE 0.0
       END AS top_bigram_fraction
FROM documents d
LEFT JOIN tok_s t ON t.doc_id = d.doc_id
LEFT JOIN big_s b ON b.doc_id = d.doc_id
""")
def llm_repetition(spark, sf):
    """Gopher-style repetition quality signals: type/token ratio plus
    the share of the most frequent token and word bigram -- the
    filters that catch template/boilerplate documents whose
    surface stats look healthy.  Integer-count ratios divided as
    doubles, exact on both engines."""
    from .operators.text import repetition_metrics
    return repetition_metrics(read_parallel(spark, sf, "documents"))


#: per-source sampling fractions for the domain-mixing demo: four
#: tiers, halving at each tier boundary.  The SAME dict generates the
#: Spark CASE chain and the oracle SQL below.
_MIX_FRACTIONS = {f"src{i}": [1.0, 0.5, 0.25, 0.125][i // 5]
                  for i in range(20)}
_MIX_SALT = "mix1"


def _mix_case_sql() -> str:
    from .operators.sampling import fraction_to_hex_threshold
    whens = "\n    ".join(
        f"WHEN '{s}' THEN '{fraction_to_hex_threshold(f)}'"
        for s, f in sorted(_MIX_FRACTIONS.items()))
    return f"CASE source\n    {whens}\n    ELSE '00000000' END"


@register("llm_stratified_sample", f"""
SELECT doc_id, source FROM documents
WHERE substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
      < {_mix_case_sql()}
""")
def llm_stratified_sample(spark, sf):
    """Deterministic stratified sampling / domain mixing: each source
    keeps its tier's fraction of documents, decided per row by a keyed
    md5 coin (reproducible across reruns and engines -- never rand()).
    Zero shuffles: the filter is a literal CASE chain inside the scan
    stage."""
    from .operators.sampling import stratified_sample
    docs = read_parallel(spark, sf, "documents")
    return (stratified_sample(docs, "source", _MIX_FRACTIONS,
                              key_col="doc_id", salt=_MIX_SALT)
            .select("doc_id", "source"))


_PACK_BUDGET, _PACK_SHARDS = 64, 8


@register("llm_fixed_sample", """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5('cap1' || CAST(doc_id AS VARCHAR)), 1, 8),
                    doc_id) AS rn
  FROM documents
) WHERE rn <= 10
""")
def llm_fixed_sample(spark, sf):
    """Deterministic fixed-size sampling: exactly 10 docs per source,
    the ones with the smallest keyed md5 coins -- the exact-budget
    companion to fractional stratified sampling ("10k docs per
    domain"), a single stratum-keyed window, no driver-side
    reservoir."""
    from .operators.sampling import fixed_size_sample
    docs = read_parallel(spark, sf, "documents")
    return (fixed_size_sample(docs, "source", 10, key_col="doc_id",
                              salt="cap1")
            .select("doc_id", "source"))


@register("llm_pack_sequences", f"""
WITH t AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len({TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_first,
       CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS seq_last,
       CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS start_offset
FROM c
""")
def llm_pack_sequences(spark, sf):
    """Training-example construction: concat-and-chunk sequence
    packing of the token stream into fixed {budget}-token sequences,
    sharded so the prefix sum never serializes through one partition.
    Pure integer window arithmetic (integer DIV/pmod, never a
    double-division round-trip) -- exact on every engine build."""
    from .operators.sampling import pack_sequences
    from .operators.text import token_count
    docs = (read_parallel(spark, sf, "documents")
            .select("doc_id",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens")))
    return pack_sequences(docs, budget=_PACK_BUDGET,
                          n_shards=_PACK_SHARDS)


@register("llm_pack_cum_diag", f"""
SELECT doc_id, CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
       CAST(len({TOKS}) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(len({TOKS}) AS BIGINT))
         OVER (PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
FROM documents
""")
def llm_pack_cum_diag(spark, sf):
    """Diagnostic companion to llm_pack_sequences: emits the raw
    sharded prefix sums BEFORE any division, so a gate mismatch on the
    packer bisects instantly -- if this row is green the divergence is
    in the sequence-index arithmetic; if red it is in tokenization or
    the window sum.  (Registered after round 3's environment-sensitive
    hash mismatch on the packer; see VERDICT.md round 3.)"""
    from .operators.text import token_count
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (read_parallel(spark, sf, "documents")
            .select("doc_id",
                    F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS))
                    .cast("int").alias("shard"),
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
            .withColumn("cum", F.sum("n_tokens").over(w).cast("long")))


@register("llm_decontaminate", f"""
WITH {SHINGLE_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
hits AS (
  SELECT s.doc_id, count(*) AS n_shared_shingles
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id % 50 != 0 GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles,
       COALESCE(h.n_shared_shingles, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 50 != 0
""")
def llm_decontaminate(spark, sf):
    """Benchmark decontamination: flag train docs sharing any word
    3-gram with a held-out benchmark slice (every 50th doc).  The
    benchmark collapses to a broadcast-sized distinct shingle set; the
    corpus streams through one semi-join -- never self-joined."""
    from .operators.dedup import decontaminate
    docs = read_parallel(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@register("llm_ann_brute", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 5
""")
def llm_ann_brute(spark, sf):
    """Exact cosine top-5 for 8 query vectors against the full corpus
    (broadcast nested-loop + two-phase top-k)."""
    emb = read_parallel(spark, sf, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


@register("llm_knn_classify", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 32),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT r.query_id, e.label, count(*) AS votes
  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
  WHERE r.rank <= 5
  GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS predicted_label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes
)
SELECT query_id, predicted_label, votes FROM best WHERE vr = 1
""")
def llm_knn_classify(spark, sf):
    """k-NN label prediction: majority vote over the exact cosine
    top-5 neighbors for 32 query vectors (the embeddings table carries
    a ground-truth ``label``).  Deterministic tie-breaks: neighbor id
    in the top-k, (votes desc, label asc) in the vote."""
    from .operators.similarity import knn_classify
    emb = read_parallel(spark, sf, "embeddings")
    return knn_classify(emb, emb.where(F.col("vec_id") < 32), k=5)


@register("llm_class_centroids", """
WITH e AS (
  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
                       i -> {'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}))
           AS u
  FROM embeddings
)
SELECT label, CAST(u.pos AS INT) AS pos, ROUND(AVG(u.v), 6) AS centroid
FROM e GROUP BY 1, 2
""")
def llm_class_centroids(spark, sf):
    """Per-label class prototypes: element-wise mean embedding per
    label, emitted as (label, pos, centroid) rows -- the nearest-
    centroid classifier / cluster-summary primitive.  One posexplode +
    one (label x dim)-keyed aggregate with map-side partial averages;
    embeddings never gather on one node.  Cross-engine float drift in
    the mean is bounded by round(6) (same policy as the cosine
    scores)."""
    emb = read_parallel(spark, sf, "embeddings")
    return (emb.select("label", F.posexplode("embedding")
                       .alias("pos0", "v"))
            .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
            .agg(F.round(F.avg(F.col("v").cast("double")), 6)
                 .alias("centroid")))


@register("llm_ann_lsh", f"""
WITH e AS (SELECT vec_id, embedding,
                  {_bucket_sql('embedding', 8)} AS bucket
           FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.bucket,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM e c JOIN e q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 32
),
ranked AS (
  SELECT query_id, neighbor_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, bucket, rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 3
""")
def llm_ann_lsh(spark, sf):
    """Approximate top-3 via 8-bit sign-LSH buckets (equi-join on the
    bucket key -- the large-Q scale path)."""
    emb = read_parallel(spark, sf, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 32), k=3, nbits=8)


_IVF_K, _IVF_NPROBE, _IVF_LLOYD = 16, 2, 1


def _ivf_sql(lloyd_iters: int, q_max: int = 8, k: int = 3,
             vote: bool = False, mode: str | None = None) -> str:
    """Generate the IVF oracle: seeded centroids -> ``lloyd_iters``
    Lloyd refinements (decimal-exact per-dimension means, mirroring
    similarity.lloyd_refine) -> assign/probe/score on the FINAL
    centroid table.  ``vote=True`` appends the k-NN majority-vote tail
    (same CTE shape as the llm_knn_classify oracle) instead of the
    raw top-k projection; ``mode='dedup'`` stops at the assignment and
    appends the semantic-dedup survivor tail instead (no probe)."""
    def nearest(cents: str, filt: str, n: int, out: str) -> str:
        return f"""(
  SELECT vec_id AS {out}, embedding, centroid_id
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cent')} DESC,
                      c.centroid_id) AS cr
    FROM embeddings e CROSS JOIN {cents} c {filt}
  ) WHERE cr <= {n}
)"""

    parts = [f"""WITH cents0 AS (
  SELECT vec_id AS centroid_id, embedding AS cent
  FROM embeddings WHERE vec_id < {_IVF_K}
)"""]
    for i in range(lloyd_iters):
        parts.append(f""",
a{i} AS {nearest(f'cents{i}', '', 1, 'vid')},
m{i} AS (
  SELECT centroid_id, pos,
         CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
  FROM (SELECT centroid_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos FROM a{i})
  GROUP BY centroid_id, pos
),
cents{i + 1} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS cent FROM m{i}
  GROUP BY centroid_id
)""")
    fin = f"cents{lloyd_iters}"
    if mode == "dedup":
        parts.append(f""",
assign AS {nearest(fin, '', 1, 'vec_id')},
survivor AS (
  SELECT centroid_id, MIN(vec_id) AS survivor_id
  FROM assign GROUP BY centroid_id
)
SELECT a.vec_id, a.centroid_id AS cluster_id, s.survivor_id,
       a.vec_id <> s.survivor_id AS is_dup
FROM assign a JOIN survivor s ON a.centroid_id = s.centroid_id""")
        return "".join(parts)
    if mode == "recall":
        parts.append(f""",
assign AS {nearest(fin, '', 1, 'neighbor_id')},
probe AS {nearest(fin, f'WHERE e.vec_id < {q_max}', _IVF_NPROBE, 'query_id')},
iscored AS (
  SELECT p.query_id, a.neighbor_id,
         {_cos_sql('p.embedding', 'a.embedding')} AS cos
  FROM probe p JOIN assign a ON p.centroid_id = a.centroid_id
  WHERE a.neighbor_id <> p.query_id
),
iranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM iscored
),
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings c, embeddings q
  WHERE q.vec_id < {q_max} AND c.vec_id <> q.vec_id
),
branked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM bscored
)
SELECT b.query_id,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS DOUBLE) / {k}
         AS recall_at_k
FROM branked b
LEFT JOIN iranked i ON i.query_id = b.query_id
                   AND i.neighbor_id = b.neighbor_id
                   AND i.rank <= {k}
WHERE b.rank <= {k}
GROUP BY b.query_id""")
        return "".join(parts)
    if mode == "cards":
        parts.append(f""",
assign AS {nearest(fin, '', 1, 'vec_id')},
sim AS (
  SELECT a.vec_id, a.centroid_id,
         {_cos_sql('a.embedding', 'c.cent')} AS cos
  FROM assign a JOIN {fin} c ON c.centroid_id = a.centroid_id
),
lab AS (
  SELECT s.centroid_id, e.label, COUNT(*) AS n
  FROM sim s JOIN embeddings e ON e.vec_id = s.vec_id
  GROUP BY 1, 2
),
dom AS (
  SELECT centroid_id, label,
         ROW_NUMBER() OVER (PARTITION BY centroid_id
                            ORDER BY n DESC, label) AS r
  FROM lab
)
SELECT s.centroid_id AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(s.vec_id) AS example_id,
       ROUND(CAST(SUM(CAST(s.cos AS DECIMAL(27,12))) AS DOUBLE)
             / COUNT(*), 8) AS mean_cos,
       CAST(d.label AS INTEGER) AS top_label
FROM sim s JOIN dom d ON d.centroid_id = s.centroid_id AND d.r = 1
GROUP BY s.centroid_id, d.label""")
        return "".join(parts)
    parts.append(f""",
assign AS {nearest(fin, '', 1, 'neighbor_id')},
probe AS {nearest(fin, f'WHERE e.vec_id < {q_max}', _IVF_NPROBE, 'query_id')},
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_cos_sql('p.embedding', 'a.embedding')} AS cos
  FROM probe p JOIN assign a ON p.centroid_id = a.centroid_id
  WHERE a.neighbor_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM scored
)""")
    if vote:
        parts.append(f""",
votes AS (
  SELECT r.query_id, e.label, count(*) AS votes
  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
  WHERE r.rank <= {k}
  GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS predicted_label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label) AS vr
  FROM votes
)
SELECT query_id, predicted_label, votes FROM best WHERE vr = 1""")
    else:
        parts.append(f"""
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= {k}""")
    return "".join(parts)


@register("llm_ann_lsh_multiprobe", f"""
WITH e AS (SELECT vec_id, embedding,
                  {_bucket_sql('embedding', 8)} AS bucket
           FROM embeddings),
qp AS (
  SELECT vec_id AS query_id, embedding AS qv,
         unnest([bucket, substr(bucket, 1, 0) || (CASE WHEN substr(bucket, 1, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 2, 7), substr(bucket, 1, 1) || (CASE WHEN substr(bucket, 2, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 3, 6), substr(bucket, 1, 2) || (CASE WHEN substr(bucket, 3, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 4, 5), substr(bucket, 1, 3) || (CASE WHEN substr(bucket, 4, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 5, 4), substr(bucket, 1, 4) || (CASE WHEN substr(bucket, 5, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 6, 3), substr(bucket, 1, 5) || (CASE WHEN substr(bucket, 6, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 7, 2), substr(bucket, 1, 6) || (CASE WHEN substr(bucket, 7, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 8, 1), substr(bucket, 1, 7) || (CASE WHEN substr(bucket, 8, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, 9, 0)]) AS bucket
  FROM e WHERE vec_id < 32
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.bucket,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM e c JOIN qp q ON c.bucket = q.bucket
                    AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, bucket, rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 3
""")
def llm_ann_lsh_multiprobe(spark, sf):
    """Multi-probe sign-LSH top-3: each query also probes the 8
    Hamming-distance-1 buckets (one flipped hyperplane), recovering
    the near-misses plain LSH drops without any extra hash tables --
    memory-free recall, the 100-TB index trade."""
    from .operators.similarity import lsh_topk_multiprobe
    emb = read_parallel(spark, sf, "embeddings")
    return lsh_topk_multiprobe(emb, emb.where(F.col("vec_id") < 32),
                               k=3, nbits=8)


@register("llm_ann_ivf", _ivf_sql(_IVF_LLOYD))
def llm_ann_ivf(spark, sf):
    """IVF approximate top-3: 16 seeded + Lloyd-refined centroid
    lists, 2-probe -- search cost ~ Q*N*nprobe/n_centroids instead of
    Q*N.  The refinement is deterministic (decimal-exact means) so the
    generated oracle reproduces it step for step."""
    emb = read_parallel(spark, sf, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 8), k=3,
                    n_centroids=_IVF_K, nprobe=_IVF_NPROBE,
                    lloyd_iters=_IVF_LLOYD)


@register("llm_knn_ivf", _ivf_sql(_IVF_LLOYD, q_max=32, k=5, vote=True))
def llm_knn_ivf(spark, sf):
    """k-NN classification over the IVF index: the neighbor stage is
    :func:`ivf_topk` (sublinear, the large-Q plan) plugged into the
    same majority-vote tail as ``llm_knn_classify`` -- demonstrates
    the pluggable-neighbor-stage contract of ``knn_classify``."""
    from .operators.similarity import knn_classify
    emb = read_parallel(spark, sf, "embeddings")

    def ivf_stage(corpus, queries, k, id_col, vec_col):
        return ivf_topk(corpus, queries, k=k, n_centroids=_IVF_K,
                        nprobe=_IVF_NPROBE, lloyd_iters=_IVF_LLOYD,
                        id_col=id_col, vec_col=vec_col)

    return knn_classify(emb, emb.where(F.col("vec_id") < 32), k=5,
                        topk_fn=ivf_stage)


_QZ_CTE = """
qz AS (
  SELECT vec_id,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
           / 127.0 AS scale,
         CASE WHEN CAST(list_max(list_transform(embedding, x -> abs(x)))
                        AS DOUBLE) / 127.0 > 0
              THEN list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)
                               / (CAST(list_max(list_transform(embedding,
                                      y -> abs(y))) AS DOUBLE) / 127.0))
                          AS INT))
              ELSE list_transform(embedding, x -> 0) END AS q
  FROM embeddings
)"""

_INT8_DOT = ("(c.scale * q.scale) * CAST(list_sum(list_transform("
             "range(1, len(q.q) + 1), "
             "i -> CAST(q.q[i] AS BIGINT) * c.q[i])) AS DOUBLE)")


@register("llm_ann_quantized", """
WITH {{_QZ_CTE.lstrip()}},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({{_INT8_DOT}}, 6) AS qdot
  FROM qz c, qz q
  WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank, qdot FROM (
  SELECT query_id, neighbor_id, qdot,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
""".replace("{{_QZ_CTE.lstrip()}}", _QZ_CTE.lstrip())
   .replace("{{_INT8_DOT}}", _INT8_DOT))
def llm_ann_quantized(spark, sf):
    """ANN over int8-QUANTIZED embeddings: per-vector symmetric scale,
    integer multiply-add scoring (4x index memory reduction, the
    quantization every large ANN deployment runs).  The integer fold
    is order-independent, so the score is bit-portable with no float-
    accumulation caveats at all."""
    from .operators.similarity import quantized_topk
    emb = read_parallel(spark, sf, "embeddings")
    return quantized_topk(emb, emb.where(F.col("vec_id") < 16), k=3)


@register("llm_embed_neardup", f"""
WITH e AS (SELECT vec_id, embedding,
                  {_bucket_sql('embedding', 4)} AS bucket,
                  {_dot_sql_unrolled('embedding', 'embedding')} AS nrm
           FROM embeddings),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_dot_sql_unrolled('a.embedding', 'b.embedding')}
           / sqrt(a.nrm * b.nrm) AS c
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 6) AS cos FROM s WHERE c >= 0.35
""")
def llm_embed_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (cos >= 0.35) candidate-limited
    to 4-bit sign-LSH buckets.

    Scored by the per-bucket Arrow kernel
    (``similarity.near_dup_pairs_arrow``): the Catalyst hash-join
    shape materializes ~1.25B 600-byte pair rows at the sf10 rung
    (the round-8 bitext pair-materialization ceiling, in a hash
    join); the kernel scores each bucket as numpy chunk blocks with
    the fold's exact IEEE accumulation -- bit-identical output,
    pytest-pinned against :func:`similarity.near_dup_pairs`."""
    from .operators.similarity import near_dup_pairs_arrow
    return near_dup_pairs_arrow(read_parallel(spark, sf, "embeddings"),
                                threshold=0.35, dim=_EMBED_DIM, nbits=4)


# ---------------------------------------------------------------------------
# multimodal plumbing (mapInPandas; deterministic fake decode)
# ---------------------------------------------------------------------------

@register("mm_decode", """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) * 7 % 480 + 1 AS INTEGER) AS height,
       3 AS channels
FROM documents
""")
def mm_decode(spark, sf):
    """Multimodal decode plumbing: binary payload -> metadata via
    mapInPandas Arrow batches (fake decode: md5 checksum +
    size-derived dimensions; real codec slots into decode_batch)."""
    docs = read_parallel(spark, sf, "documents")
    media = media_table(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
    return decode_media(media)


@register("mm_png_meta", """
WITH px AS (
  SELECT doc_id,
         unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
               || printf('%08x', doc_id % 640 + 1)
               || printf('%08x', doc_id % 480 + 1)
               || '08' || CASE doc_id % 3 WHEN 0 THEN '02'
                                         WHEN 1 THEN '06'
                                         ELSE '00' END) AS content
  FROM documents
),
hx AS (SELECT doc_id, hex(content) AS h FROM px)
SELECT doc_id AS media_id,
       substr(h, 1, 16) = '89504E470D0A1A0A' AS is_png,
       ('0x' || substr(h, 33, 8))::BIGINT AS width,
       ('0x' || substr(h, 41, 8))::BIGINT AS height,
       CAST(('0x' || substr(h, 49, 2))::BIGINT AS INTEGER) AS bit_depth,
       CAST(('0x' || substr(h, 51, 2))::BIGINT AS INTEGER) AS color_type,
       CAST(CASE ('0x' || substr(h, 51, 2))::BIGINT
            WHEN 0 THEN 1 WHEN 3 THEN 1 WHEN 2 THEN 3
            WHEN 4 THEN 2 WHEN 6 THEN 4 END AS INTEGER) AS channels
FROM hx
""")
def mm_png_meta(spark, sf):
    """REAL multimodal metadata decode with zero codecs: build a valid
    PNG signature + IHDR header per doc (deterministic synthetic
    payload), then parse width/height/bit-depth/color-type back out of
    the BINARY column with pure Catalyst hex/substring/conv
    expressions -- no UDF, no Arrow hop; whole-stage codegen end to
    end.  The header-only decode is how a 100-TB pipeline indexes
    media dimensions without full decodes."""
    from .operators.multimodal import png_metadata
    docs = read_parallel(spark, sf, "documents")
    payload = F.unhex(F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        F.format_string("%08x", F.col("doc_id") % 640 + 1),
        F.format_string("%08x", F.col("doc_id") % 480 + 1),
        F.lit("08"),
        F.when(F.col("doc_id") % 3 == 0, "02")
        .when(F.col("doc_id") % 3 == 1, "06").otherwise("00")))
    media = media_table(docs.select("doc_id", payload.alias("p")),
                        "doc_id", "p")
    return png_metadata(media)


@register("mm_frame_sample", """
WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS base,
         octet_length(encode(text)) AS nb
  FROM documents
),
fr AS (
  SELECT media_id, base, unnest(range(0, nb % 100, 10)) AS i FROM m
)
SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
       md5(base || ':' || i) AS frame_checksum
FROM fr
""")
def mm_frame_sample(spark, sf):
    """Video frame-sampling plumbing: one payload fans out to every
    10th 'frame' with a per-frame checksum (mapInPandas generator)."""
    docs = read_parallel(spark, sf, "documents")
    media = media_table(docs, "doc_id", F.encode(F.col("text"), "UTF-8"),
                        media_type="video")
    return sample_frames(media, every=10, frames_mod=100)


_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")  # SQL string-literal escaping


@register("llm_bpe_token_count", f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe_tokens,
       len({TOKS}) AS n_ws_tokens
FROM documents
""")
def llm_bpe_token_count(spark, sf):
    """Token counting, tokenizer-shaped: a GPT-2-ish pre-tokenizer
    regex (contraction suffixes / letter runs / digit runs /
    punctuation runs, each with optional leading space) next to the
    whitespace count -- the cheap LLM-cost estimator for a 100-TB
    corpus, entirely inside codegen."""
    docs = read_parallel(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
        .alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"))


_TFIDF_TOPK = 5


@register("llm_tfidf", f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((SELECT n FROM n) / df.df) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rn AS term_rank
FROM ranked WHERE rn <= {_TFIDF_TOPK}
""")
def llm_tfidf(spark, sf):
    """TF-IDF top-{k} terms per document: tf x ln(N/df).

    ONE tokenize pass (round 12, guide §2.4): ``tf`` has exactly one
    row per (doc, term), so the document frequency is a plain
    ``COUNT(*) OVER (PARTITION BY term)`` on the tf aggregate -- the
    same integer ``COUNT(DISTINCT doc_id)`` computed, without
    re-tokenizing the corpus for a second groupBy or joining the df
    table back.  The earlier two-pass shape spent HALF its CPU
    tokenizing the corpus twice (the two subtrees overlap on idle
    cores locally but compete for the same cores -- total CPU is what
    a busy cluster pays); plan goes 2 scans + 3 shuffles + a broadcast
    build to 1 scan + 3 shuffles."""
    docs = read_parallel(spark, sf, "documents")
    n_docs = float(docs.count())
    tok = docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    w_term = Window.partitionBy("term")
    scored = tf.select("doc_id", "term",
                       (F.col("tf")
                        * F.log(F.lit(n_docs)
                                / F.count(F.lit(1)).over(w_term)))
                       .alias("tfidf"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _TFIDF_TOPK)
            .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"),
                    F.col("rn").alias("term_rank")))


# ---------------------------------------------------------------------------
# round-3 additions: scrub / chunk / rarity / batching.  These register
# AFTER the registry's gate-priority block, so they queue for official
# CORRECTNESS rows in the next round's reorder.
# ---------------------------------------------------------------------------

from .operators.text import PII_PATTERNS  # noqa: E402

#: deterministic synthetic-PII injection shared by the Spark builder
#: and the oracle -- the documents corpus contains no PII of its own,
#: so the scrub demonstrates on text seeded as a function of doc_id.
_PII_INJECT_SQL = """
inj AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 555-123-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' from 10.0.0.' || (doc_id % 256) ELSE '' END AS text
  FROM documents
)"""


@register("llm_pii_scrub", f"""
WITH {_PII_INJECT_SQL.lstrip()},
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"]}'))
              AS BIGINT) AS n_emails,
         regexp_replace(text, '{PII_PATTERNS["email"]}',
                        '<PII:email>', 'g') AS t
  FROM inj
),
s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t, '{PII_PATTERNS["phone"]}'))
              AS BIGINT) AS n_phones,
         regexp_replace(t, '{PII_PATTERNS["phone"]}',
                        '<PII:phone>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_phones,
         CAST(len(regexp_extract_all(t, '{PII_PATTERNS["ipv4"]}'))
              AS BIGINT) AS n_ipv4,
         regexp_replace(t, '{PII_PATTERNS["ipv4"]}',
                        '<PII:ipv4>', 'g') AS t
  FROM s2
)
SELECT doc_id, t AS clean_text, n_emails, n_phones, n_ipv4,
       n_emails + n_phones + n_ipv4 AS n_pii
FROM s3
""")
def llm_pii_scrub(spark, sf):
    """PII redaction pass: emails / phones / IPv4 replaced with typed
    placeholders + per-doc removal counts.  Deterministic synthetic
    PII is injected as a function of doc_id (the corpus has none of
    its own) so the scrub is exercised for real.  Pure regexp codegen,
    zero shuffle -- the patterns live in the Java-regex/RE2 common
    subset so both engines see identical semantics."""
    from .operators.text import pii_scrub
    docs = read_parallel(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" call 555-123-"),
                            F.lpad((F.col("doc_id") % 10000)
                                   .cast("string"), 4, "0")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" from 10.0.0."),
                            (F.col("doc_id") % 256).cast("string")))
            .otherwise(F.lit(""))).alias("text"))
    return pii_scrub(injected)


_CHUNK_SIZE, _CHUNK_STRIDE = 16, 12


@register("llm_chunk_overlap", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks) - 1, 0) + 1,
                      {_CHUNK_STRIDE})) AS chunk_start
  FROM tk
)
SELECT doc_id,
       CAST(chunk_start // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(chunk_start AS INT) AS chunk_start,
       CAST(len(toks[chunk_start + 1 : chunk_start + {_CHUNK_SIZE}])
            AS INT) AS n_chunk_tokens,
       array_to_string(toks[chunk_start + 1 : chunk_start + {_CHUNK_SIZE}],
                       ' ') AS chunk_text
FROM st
""")
def llm_chunk_overlap(spark, sf):
    """Sliding-window chunking: {size}-token chunks every {stride}
    tokens (overlap {ov}) -- the RAG / long-context example splitter.
    One posexplode + slice inside codegen; shuffle-free."""
    from .operators.text import chunk_with_overlap
    return chunk_with_overlap(read_parallel(spark, sf, "documents"),
                              chunk_size=_CHUNK_SIZE,
                              stride=_CHUNK_STRIDE)


@register("llm_token_rarity", f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
vocab AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok)
SELECT t.doc_id, count(*) AS n_tokens,
       CAST(SUM(v.freq) AS DOUBLE) / count(*) AS mean_token_freq,
       MIN(v.freq) AS min_token_freq
FROM tok t JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
""")
def llm_token_rarity(spark, sf):
    """Corpus-frequency rarity scoring (integer-exact unigram-LM
    surprisal stand-in): mean/min corpus occurrence count of each
    document's tokens.  Token-sized shuffles only; the single double
    division is the only float op."""
    from .operators.text import token_rarity
    return token_rarity(read_parallel(spark, sf, "documents"))


_BATCH_SIZE = 4


@register("llm_length_buckets", f"""
WITH n AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
           FROM documents),
b AS (
  SELECT doc_id, n_tokens,
         CAST(CASE WHEN n_tokens <= 16 THEN 16
                   WHEN n_tokens <= 32 THEN 32
                   WHEN n_tokens <= 64 THEN 64
                   WHEN n_tokens <= 128 THEN 128
                   WHEN n_tokens <= 256 THEN 256
                   WHEN n_tokens <= 512 THEN 512
                   WHEN n_tokens <= 1024 THEN 1024
                   ELSE 2048 END AS INT) AS bucket,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS coin
  FROM n
),
r AS (
  SELECT doc_id, n_tokens, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY coin, doc_id) - 1 AS rn
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       rn // {_BATCH_SIZE} AS batch_id,
       rn % {_BATCH_SIZE} AS pos_in_batch
FROM r
""")
def llm_length_buckets(spark, sf):
    """Length-bucketed batch construction: power-of-two token-length
    buckets, deterministic hash-coin order, fixed {b}-doc batches --
    the padding-waste bound for variable-length tensor packing.  One
    bucket-keyed shuffle + one sorted window."""
    from .operators.sampling import length_bucket_batches
    from .operators.text import token_count
    docs = (read_parallel(spark, sf, "documents")
            .select("doc_id",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens")))
    return length_bucket_batches(docs, batch_size=_BATCH_SIZE)


@register("llm_span_dedup", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
rows AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[(i - 1) * 10 + 1 : (i - 1) * 10 + 10], ' ')
           AS span_text,
         doc_id * 1000000000 + (i - 1) AS okey
  FROM tk, unnest(range(1, ((len(toks) + 9) // 10) + 1)) AS u(i)
),
first AS (
  SELECT span_text, MIN(okey) AS first_okey FROM rows GROUP BY span_text
)
SELECT r.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN r.okey <> f.first_okey THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_spans,
       COALESCE(string_agg(CASE WHEN r.okey = f.first_okey
                                THEN r.span_text END,
                           ' ' ORDER BY r.pos), '') AS kept_text,
       CAST(SUM(CASE WHEN r.okey <> f.first_okey THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS dup_frac
FROM rows r JOIN first f ON r.span_text = f.span_text
GROUP BY r.doc_id
""")
def llm_span_dedup(spark, sf):
    """Exact span-level dedup (the C4 line-dedup pass on 10-token
    windows): globally-first occurrence survives, per-doc boilerplate
    fraction + surviving text.  One span-keyed MIN aggregate is the
    only wide op over the span stream."""
    from .operators.dedup import span_dedup
    return span_dedup(read_parallel(spark, sf, "documents"), span=10)


@register("llm_bigram_novelty", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM tk, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
freqs AS (SELECT bg, COUNT(*) AS freq FROM bg GROUP BY bg)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN f.freq <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare_bigrams,
       CAST(MIN(f.freq) AS BIGINT) AS min_bigram_freq,
       CAST(SUM(CASE WHEN f.freq <= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM bg b JOIN freqs f ON b.bg = f.bg
GROUP BY b.doc_id
""")
def llm_bigram_novelty(spark, sf):
    """Bigram-LM novelty: integer-exact 2-gram rarity scoring (the
    perplexity-filter stand-in one n-gram order up from
    llm_token_rarity).  Token-sized shuffles only."""
    from .operators.text import bigram_novelty
    return bigram_novelty(read_parallel(spark, sf, "documents"),
                          rare_max_freq=3)


@register("llm_mixture_weights", f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
scored AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS w
  FROM per_src
),
total AS (SELECT SUM(w) AS total_w FROM scored)
SELECT s.source, s.n_docs, s.n_tokens,
       CAST(s.w AS DOUBLE) / CAST(t.total_w AS DOUBLE) AS weight,
       CAST(round((CAST(s.w AS DOUBLE) / CAST(t.total_w AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS budget_alloc_tokens
FROM scored s, total t
""")
def llm_mixture_weights(spark, sf):
    """Temperature-scaled (alpha = 0.5) domain-mixing weights with a
    1M-token budget allocation; sqrt + decimal-summed normalization
    keeps every float engine-exact."""
    from .operators.sampling import mixture_weights
    return mixture_weights(read_parallel(spark, sf, "documents"),
                           budget_tokens=1_000_000)


#: shared WAV synthesis arithmetic (Spark twin below must mirror):
#: channels from doc parity, sample rate from doc mod 3, 16-bit PCM,
#: data size from doc mod 500; every multi-byte field little-endian.
_WAV_LE2 = "printf('%02x%02x', {v} % 256, ({v} // 256) % 256)"
_WAV_LE4 = ("printf('%02x%02x%02x%02x', {v} % 256, ({v} // 256) % 256, "
            "({v} // 65536) % 256, ({v} // 16777216) % 256)")


@register("mm_wav_meta", f"""
WITH params AS (
  SELECT doc_id,
         doc_id % 2 + 1 AS ch,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         ELSE 44100 END AS rate,
         (doc_id % 2 + 1) * 2 AS block,
         (doc_id % 500 + 1) * ((doc_id % 2 + 1) * 2) AS dsize
  FROM documents
),
px AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN encode('not a riff payload')
         ELSE unhex(
           '52494646' || {_WAV_LE4.format(v='(36 + dsize)')}
           || '57415645' || '666d7420' || '10000000' || '0100'
           || {_WAV_LE2.format(v='ch')}
           || {_WAV_LE4.format(v='rate')}
           || {_WAV_LE4.format(v='(rate * block)')}
           || {_WAV_LE2.format(v='block')}
           || '1000' || '64617461'
           || {_WAV_LE4.format(v='dsize')})
         END AS content
  FROM params
),
hx AS (SELECT doc_id, substr(hex(content), 1, 88) AS h FROM px),
parsed AS (
  SELECT doc_id,
         substr(h, 1, 8) = '52494646'
           AND substr(h, 17, 8) = '57415645'
           AND substr(h, 25, 8) = '666D7420' AS is_wav,
         TRY_CAST(('0x' || substr(h, 43, 2) || substr(h, 41, 2))
                  AS BIGINT) AS fmt,
         TRY_CAST(('0x' || substr(h, 47, 2) || substr(h, 45, 2))
                  AS BIGINT) AS nch,
         TRY_CAST(('0x' || substr(h, 55, 2) || substr(h, 53, 2)
               || substr(h, 51, 2) || substr(h, 49, 2)) AS BIGINT) AS srate,
         TRY_CAST(('0x' || substr(h, 63, 2) || substr(h, 61, 2)
               || substr(h, 59, 2) || substr(h, 57, 2)) AS BIGINT) AS brate,
         TRY_CAST(('0x' || substr(h, 71, 2) || substr(h, 69, 2))
                  AS BIGINT) AS bits,
         TRY_CAST(('0x' || substr(h, 87, 2) || substr(h, 85, 2)
               || substr(h, 83, 2) || substr(h, 81, 2)) AS BIGINT) AS dbytes
  FROM hx
)
SELECT doc_id AS media_id, is_wav,
       CASE WHEN is_wav THEN CAST(fmt AS INTEGER) END AS audio_format,
       CASE WHEN is_wav THEN CAST(nch AS INTEGER) END AS n_channels,
       CASE WHEN is_wav THEN srate END AS sample_rate,
       CASE WHEN is_wav THEN brate END AS byte_rate,
       CASE WHEN is_wav THEN CAST(bits AS INTEGER) END AS bits_per_sample,
       CASE WHEN is_wav THEN dbytes END AS data_bytes,
       CASE WHEN is_wav AND brate > 0
            THEN CAST(dbytes AS DOUBLE) / CAST(brate AS DOUBLE)
       END AS duration_s
FROM parsed
""")
def mm_wav_meta(spark, sf):
    """REAL audio metadata decode, zero codecs: synthesize a canonical
    44-byte RIFF/WAVE PCM header per doc (deterministic params from
    doc_id; every 7th payload is garbage), then parse
    channels/rate/bit-depth/duration back out of the BINARY column
    with pure Catalyst little-endian hex slicing -- the audio twin of
    mm_png_meta.  Header-only parsing is how a 100-TB audio corpus
    gets indexed (sample rate, duration, channel layout) without
    decoding a single sample."""
    from .operators.multimodal import media_table, wav_metadata
    docs = read_parallel(spark, sf, "documents")
    ch = F.col("doc_id") % 2 + 1
    rate = (F.when(F.col("doc_id") % 3 == 0, 8000)
            .when(F.col("doc_id") % 3 == 1, 16000).otherwise(44100))
    block = ch * 2
    dsize = (F.col("doc_id") % 500 + 1) * block

    def le2(v):
        return F.format_string("%02x%02x", (v % 256).cast("int"),
                               ((v / 256).cast("long") % 256).cast("int"))

    def le4(v):
        return F.format_string(
            "%02x%02x%02x%02x", (v % 256).cast("int"),
            ((v / 256).cast("long") % 256).cast("int"),
            ((v / 65536).cast("long") % 256).cast("int"),
            ((v / 16777216).cast("long") % 256).cast("int"))

    wav_hex = F.concat(
        F.lit("52494646"), le4(dsize + 36),
        F.lit("57415645" + "666d7420" + "10000000" + "0100"),
        le2(ch), le4(rate), le4(rate * block), le2(block),
        F.lit("1000" + "64617461"), le4(dsize))
    payload = F.when(F.col("doc_id") % 7 == 0,
                     F.lit("not a riff payload").cast("binary")) \
        .otherwise(F.unhex(wav_hex))
    media = media_table(docs.select("doc_id", payload.alias("p")),
                        "doc_id", "p")
    return wav_metadata(media)


@register("llm_langid_confidence", f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_LANG_SCORES} FROM t),
m AS (
  SELECT *, (list_sort([s_en, s_de, s_es, s_fr], 'DESC'))[1] AS top_score,
         (list_sort([s_en, s_de, s_es, s_fr], 'DESC'))[2] AS second_score
  FROM s
)
SELECT doc_id, {_langid_case()} AS lang_pred,
       s_en, s_de, s_es, s_fr, top_score, second_score,
       top_score - second_score AS margin,
       top_score - second_score >= 2 AND top_score >= 3 AS confident
FROM m
""")
def llm_langid_confidence(spark, sf):
    """Language-ID with confidence margin: integer stopword scores per
    language, winner + top-two margin, and the route-to-review flag
    for mixed/ambiguous docs.  Pure codegen, shuffle-free."""
    from .operators.text import lang_confidence
    return lang_confidence(read_parallel(spark, sf, "documents"))


@register("dq_embeddings", """
WITH checks AS (
  SELECT vec_id,
         embedding IS NULL AS is_null,
         CASE WHEN embedding IS NULL THEN 0
              ELSE len(embedding) END AS dims,
         embedding IS NOT NULL AND
           len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x)))
             > 0 AS has_nonfinite,
         embedding IS NOT NULL AND
           list_reduce(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)
                                           * CAST(x AS DOUBLE)),
                       (a, b) -> a + b) = 0.0 AS is_zero
  FROM embeddings
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       MIN(CASE WHEN NOT is_null THEN dims END) AS dims_min,
       MAX(CASE WHEN NOT is_null THEN dims END) AS dims_max,
       CAST(SUM(CASE WHEN has_nonfinite THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonfinite,
       CAST(SUM(CASE WHEN is_zero THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm
FROM checks
""")
def dq_embeddings(spark, sf):
    """Embedding-table health check before any ANN index build: null
    vectors, dimension consistency, non-finite components, zero-norm
    rows (which break cosine).  One scan, one-row output; the
    sum-of-squares uses the same sequential left fold as the ANN
    kernels so the zero test is bit-exact."""
    emb = read_parallel(spark, sf, "embeddings")
    e = F.col("embedding")
    sq = F.aggregate(F.transform(e, lambda x: x.cast("double")
                                 * x.cast("double")),
                     F.lit(0.0), lambda acc, x: acc + x)
    checks = emb.select(
        e.isNull().alias("is_null"),
        F.when(e.isNull(), 0).otherwise(F.size(e)).alias("dims"),
        (e.isNotNull()
         & F.exists(e, lambda x: F.isnan(x)
                    | (F.abs(x) == float("inf")))).alias("has_nonfinite"),
        (e.isNotNull() & (sq == 0.0)).alias("is_zero"))
    return checks.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_null").cast("int")).alias("n_null"),
        F.min(F.when(~F.col("is_null"), F.col("dims"))).alias("dims_min"),
        F.max(F.when(~F.col("is_null"), F.col("dims"))).alias("dims_max"),
        F.sum(F.col("has_nonfinite").cast("int")).alias("n_nonfinite"),
        F.sum(F.col("is_zero").cast("int")).alias("n_zero_norm"))


@register("llm_semantic_dedup", _ivf_sql(_IVF_LLOYD, mode="dedup"))
def llm_semantic_dedup(spark, sf):
    """Semantic dedup (SemDeDup-style): cluster embeddings with the
    deterministic seeded + Lloyd-refined coarse quantizer, keep one
    survivor (min id) per cluster, mark the rest as semantic
    duplicates.  Catches same-meaning-different-words redundancy that
    the lexical dedup family cannot; never vector x vector."""
    from .operators.similarity import semantic_dedup
    return semantic_dedup(read_parallel(spark, sf, "embeddings"),
                          n_centroids=_IVF_K, lloyd_iters=_IVF_LLOYD)


def _bpe_sql(n_merges: int, mode: str = "learn") -> str:
    """Generate the BPE-training oracle: one (pair-count -> argmax ->
    boundary-safe replace) CTE stage per merge, mirroring
    operators.text.bpe_learn exactly (space-padded literal replace,
    count-desc / pair-asc tiebreak).  ``mode='encode'`` appends the
    per-doc symbol-count tail (bpe_encode) instead of the merge
    table."""
    parts = [f"""WITH w AS (SELECT unnest({TOKS}) AS w FROM documents),
v0 AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq,
         ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS sym
  FROM w GROUP BY w
)"""]
    for s in range(1, n_merges + 1):
        prev = f"v{s - 1}"
        parts.append(f""",
p{s} AS MATERIALIZED (
  SELECT t.arr[i] || ' ' || t.arr[i + 1] AS pair, SUM(t.freq) AS cnt
  FROM (SELECT freq, string_split(trim(sym), ' ') AS arr FROM {prev}) t,
       unnest(range(1, len(t.arr))) AS u(i)
  GROUP BY 1
),
b{s} AS MATERIALIZED (
  SELECT pair, cnt FROM p{s} ORDER BY cnt DESC, pair LIMIT 1
),
v{s} AS MATERIALIZED (
  SELECT w, freq,
         replace(sym, ' ' || (SELECT pair FROM b{s}) || ' ',
                 ' ' || replace((SELECT pair FROM b{s}), ' ', '') || ' ')
           AS sym
  FROM {prev}
)""")
    if mode == "encode":
        parts.append(f""",
dw AS (SELECT doc_id, unnest({TOKS}) AS w FROM documents),
ns AS (SELECT w, len(string_split(trim(sym), ' ')) AS n_sym
       FROM v{n_merges})
SELECT d.doc_id, COUNT(*) AS n_words,
       CAST(SUM(n.n_sym) AS BIGINT) AS bpe_tokens
FROM dw d JOIN ns n ON d.w = n.w GROUP BY d.doc_id""")
        return "".join(parts)
    selects = [f"SELECT {s} AS step, pair, "
               f"replace(pair, ' ', '') AS merged, "
               f"CAST(cnt AS BIGINT) AS cnt FROM b{s}"
               for s in range(1, n_merges + 1)]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


_BPE_MERGES = 5


@register("llm_bpe_learn", _bpe_sql(_BPE_MERGES))
def llm_bpe_learn(spark, sf):
    """BPE tokenizer TRAINING: learn the first ``_BPE_MERGES`` merges
    from the corpus vocabulary -- per merge one pair explode over the
    word VOCABULARY (the corpus collapses to word counts once), a
    1-row struct-MIN argmax (no global sort), and a broadcast
    boundary-safe literal replace.  Oracle replays every merge stage
    as generated SQL."""
    from .operators.text import bpe_learn
    return bpe_learn(read_parallel(spark, sf, "documents"),
                     n_merges=_BPE_MERGES)


@register("llm_bpe_encode", _bpe_sql(_BPE_MERGES, mode="encode"))
def llm_bpe_encode(spark, sf):
    """BPE train->encode round trip: apply the learned merges (in
    order, as one broadcast row chaining literal replaces over the
    vocabulary) and price every document in its own tokenizer's
    tokens."""
    from .operators.text import bpe_encode
    return bpe_encode(read_parallel(spark, sf, "documents"),
                      n_merges=_BPE_MERGES)


@register("llm_negative_sampling", f"""
WITH tok AS (SELECT unnest({TOKS}) AS tok FROM documents),
freqs AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
scored AS (
  SELECT tok, freq,
         CAST(round(sqrt(CAST(freq AS DOUBLE)
                         * sqrt(CAST(freq AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS w
  FROM freqs
),
total AS (SELECT SUM(w) AS total_w FROM scored)
SELECT s.tok, s.freq,
       CAST(s.w AS DOUBLE) / CAST(t.total_w AS DOUBLE) AS sample_prob
FROM scored s, total t
""")
def llm_negative_sampling(spark, sf):
    """word2vec negative-sampling table: per-token probability
    proportional to freq^0.75, computed as sqrt(freq * sqrt(freq)) --
    two correctly-rounded IEEE sqrts and one multiply, so the exponent
    0.75 stays engine-exact where pow() would not; normalization is
    decimal-summed like the mixture weights.  One token-keyed count,
    one 1-row broadcast."""
    from .operators.text import tokens
    tok = (read_parallel(spark, sf, "documents")
           .select(F.explode(tokens(F.col("text"))).alias("tok")))
    freqs = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    fd = F.col("freq").cast("double")
    w = (F.round(F.sqrt(fd * F.sqrt(fd)), 6).cast("decimal(18,6)"))
    scored = freqs.withColumn("__w", w)
    total = scored.agg(F.sum("__w").alias("__total"))
    return (scored.crossJoin(F.broadcast(total))
            .select("tok", "freq",
                    (F.col("__w").cast("double")
                     / F.col("__total").cast("double"))
                    .alias("sample_prob")))


@register("llm_train_val_test", """
WITH assigned AS (
  SELECT source,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                   1, 4))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                   1, 4))::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, COUNT(*) AS n_docs
FROM assigned GROUP BY source, split
""")
def llm_train_val_test(spark, sf):
    """Deterministic 80/10/10 train/val/test assignment by keyed md5
    coin (the same replayable-split rationale as stratified_sample:
    re-runs, engine moves, and late-arriving shards all agree on every
    doc's split with zero stored state).  Output is the (source,
    split) census used to audit stratification."""
    docs = read_parallel(spark, sf, "documents")
    coin = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(":split"))), 1, 4), 16, 10)
        .cast("long"), F.lit(100))
    split = (F.when(coin < 80, "train")
             .when(coin < 90, "val").otherwise("test"))
    return (docs.select("source", split.alias("split"))
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def _pca_sql(iters: int) -> str:
    """Generate the PCA power-iteration oracle mirroring
    similarity.pca_top_component: decimal-exact covariance, uniform
    1/sqrt(dim) start, one (matvec, L2-normalize) CTE pair per
    iteration."""
    parts = ["""WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
means AS (
  SELECT pos, CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE)
              / COUNT(*) AS m
  FROM ex GROUP BY pos
),
cen AS (
  SELECT e.vec_id, e.pos, e.val - m.m AS c
  FROM ex e JOIN means m ON e.pos = m.pos
),
nvec AS (SELECT COUNT(*) AS n FROM embeddings),
cov AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j,
         CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE)
           / (SELECT CAST(n AS DOUBLE) FROM nvec) AS cv
  FROM cen a JOIN cen b ON a.vec_id = b.vec_id
  GROUP BY a.pos, b.pos
),
v0 AS (
  SELECT pos AS j,
         1.0 / sqrt((SELECT CAST(COUNT(*) AS DOUBLE) FROM means)) AS v
  FROM means
)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
w{k} AS MATERIALIZED (
  SELECT c.i AS j,
         CAST(SUM(CAST(c.cv * v.v AS DECIMAL(38,18))) AS DOUBLE) AS w
  FROM cov c JOIN v{k - 1} v ON c.j = v.j GROUP BY c.i
),
n{k} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
  FROM w{k}
),
v{k} AS MATERIALIZED (SELECT j, w / nrm AS v FROM w{k}, n{k})""")
    parts.append(f"""
SELECT v.j AS pos, round(v.v, 6) AS component,
       round(n.nrm, 6) AS eigenvalue
FROM v{iters} v, n{iters} n""")
    return "".join(parts)


_PCA_ITERS = 8


@register("llm_pca_power", _pca_sql(_PCA_ITERS))
def llm_pca_power(spark, sf):
    """Top principal component of the embedding table by power
    iteration: decimal-exact covariance (the only heavy op -- one
    explode + one per-vector self-join, map-side combined into dim^2
    cells), then ``_PCA_ITERS`` matvec+normalize rounds over the
    broadcast-sized matrix.  The PCA-whitening prep step, replayed
    exactly by generated oracle SQL."""
    from .operators.similarity import pca_top_component
    return pca_top_component(read_parallel(spark, sf, "embeddings"),
                             iters=_PCA_ITERS)


@register("llm_pca_project", _pca_sql(_PCA_ITERS).replace(
    f"""
SELECT v.j AS pos, round(v.v, 6) AS component,
       round(n.nrm, 6) AS eigenvalue
FROM v{_PCA_ITERS} v, n{_PCA_ITERS} n""",
    f""",
proj AS (
  SELECT c.vec_id,
         CAST(SUM(CAST(c.c * v.v AS DECIMAL(38,18))) AS DOUBLE) AS coord
  FROM cen c JOIN v{_PCA_ITERS} v ON c.pos = v.j
  GROUP BY c.vec_id
)
SELECT vec_id, round(coord, 6) AS pc1 FROM proj"""))
def llm_pca_project(spark, sf):
    """Project every embedding onto the learned top component: the
    1-D PCA coordinate used for variance screening and
    coarse-to-fine bucketing.  One decimal-exact dot product per
    vector against the broadcast component -- corpus streams once."""
    from .operators.similarity import pca_top_component
    from .sources import read_parallel as rp
    emb = rp(spark, sf, "embeddings")
    comp = (pca_top_component(emb, iters=_PCA_ITERS, round_to=None)
            .select((F.col("pos") - 1).alias("pos"),
                    F.col("component")))
    # recompute centered values exactly as the operator does
    ex = emb.select("vec_id",
                    F.posexplode("embedding").alias("pos", "val")) \
        .withColumn("val", F.col("val").cast("double"))
    means = (ex.groupBy("pos")
             .agg((F.sum(F.col("val").cast("decimal(27,12)"))
                   .cast("double") / F.count(F.lit(1))).alias("m")))
    cen = (ex.join(F.broadcast(means), "pos")
           .select("vec_id", "pos",
                   (F.col("val") - F.col("m")).alias("c")))
    return (cen.join(F.broadcast(comp), "pos")
            .groupBy("vec_id")
            .agg(F.round(
                F.sum((F.col("c") * F.col("component"))
                      .cast("decimal(38,18)")).cast("double"), 6)
                .alias("pc1")))


@register("llm_prefix_join", f"""
WITH {SHINGLE_CTE},
dfq AS (SELECT shingle, COUNT(*) AS dfc FROM sh GROUP BY shingle),
szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id, s.shingle,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY d.dfc, s.shingle) AS rn
  FROM sh s JOIN dfq d ON s.shingle = d.shingle
),
prefix AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN szs z ON r.doc_id = z.doc_id
  WHERE r.rn <= z.sz - CAST(ceil(0.5 * z.sz) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.rstrip()}
WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
""")
def llm_prefix_join(spark, sf):
    """Exact-recall set-similarity join by prefix filtering (PPJoin):
    rarest-first global shingle order, candidates only from the
    Jaccard-0.5 prefix, shared exact verify -- the third candidate
    strategy next to MinHash banding and the df-capped n-gram join,
    with nothing missed at the threshold."""
    from .operators.dedup import prefix_filter_pairs
    return prefix_filter_pairs(read_parallel(spark, sf, "documents"),
                               threshold=0.5)


@register("llm_quantile_normalize", """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
ranked AS (
  SELECT vec_id, pos,
         ROW_NUMBER() OVER (PARTITION BY pos ORDER BY val, vec_id)
           AS rnk,
         COUNT(*) OVER (PARTITION BY pos) AS n
  FROM ex
)
SELECT vec_id, pos, CAST(rnk AS DOUBLE) / n AS q
FROM ranked
""")
def llm_quantile_normalize(spark, sf):
    """Per-dimension quantile (rank) normalization of the embedding
    table: each component becomes its within-dimension rank / n --
    the distribution-free rescaling that tames heavy-tailed dimensions
    before indexing.  Exact integer ranks with a vec_id tiebreak, so
    the transform is engine-identical; one window per dimension
    partition.  Output is the exploded ``(vec_id, pos, q)`` long form
    (scalar columns only -- the round-7 driver checker crashed
    canonicalizing a raw ArrayType column; the array reassembly is a
    one-line ``groupBy(vec_id).agg(collect_list)`` for callers that
    want the wide form)."""
    emb = read_parallel(spark, sf, "embeddings")
    ex = emb.select("vec_id",
                    F.posexplode("embedding").alias("pos0", "val")) \
        .select("vec_id", (F.col("pos0") + 1).alias("pos"),
                F.col("val").cast("double").alias("val"))
    w = Window.partitionBy("pos").orderBy("val", "vec_id")
    wn = Window.partitionBy("pos")
    return ex.select(
        "vec_id", "pos",
        (F.row_number().over(w).cast("double")
         / F.count(F.lit(1)).over(wn).cast("double")).alias("q"))


from .registry import ORACLES as _ORACLES  # noqa: E402

@register("llm_knn_confusion", _ORACLES["llm_knn_classify"].replace(
    "SELECT query_id, predicted_label, votes FROM best WHERE vr = 1",
    """pred AS (SELECT query_id, predicted_label FROM best WHERE vr = 1)
SELECT t.label AS true_label, p.predicted_label, COUNT(*) AS n
FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
GROUP BY t.label, p.predicted_label""").replace(
    "best AS (", "best AS (", 1).replace(
    ")\npred AS", "),\npred AS"))
def llm_knn_confusion(spark, sf):
    """Classifier evaluation: the confusion matrix of the k-NN
    predictions against ground-truth labels -- the quality gate a
    labeling pipeline runs before trusting model-assigned labels at
    scale.  Pure composition: the llm_knn_classify plan joined back to
    the truth column, collapsed to |labels|^2 cells."""
    from .operators.similarity import knn_classify
    emb = read_parallel(spark, sf, "embeddings")
    preds = knn_classify(emb, emb.where(F.col("vec_id") < 32), k=5)
    truth = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("true_label"))
    return (preds.join(F.broadcast(truth), "query_id")
            .groupBy("true_label", "predicted_label")
            .agg(F.count(F.lit(1)).alias("n")))


#: DSIR demo parameters: the "target" (reference-quality) corpus is
#: two of the twenty synthetic sources; everything else is raw.
_DSIR_TARGET = ("src0", "src1")
_DSIR_BUCKETS = 256


@register("llm_dsir_weights", f"""
WITH tk AS (
  SELECT doc_id, source IN {str(_DSIR_TARGET)} AS is_t,
         {TOKS} AS toks
  FROM documents
),
bgm AS (
  SELECT doc_id, is_t,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM tk WHERE len(toks) >= 2
),
feat AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(bg), 1, 4))::BIGINT % {_DSIR_BUCKETS} AS b
  FROM bgm
),
pdb AS (
  SELECT doc_id, is_t, b, COUNT(*) AS cnt FROM feat GROUP BY 1, 2, 3
),
bc AS (
  SELECT b, SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS t_cnt,
         SUM(CASE WHEN NOT is_t THEN cnt ELSE 0 END) AS r_cnt
  FROM pdb GROUP BY 1
),
tot AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS tt,
               CAST(SUM(r_cnt) AS BIGINT) AS rr FROM bc),
lr AS (
  SELECT b, ln((t_cnt + 1.0) / (tt + {_DSIR_BUCKETS}.0))
            - ln((r_cnt + 1.0) / (rr + {_DSIR_BUCKETS}.0)) AS lr
  FROM bc, tot
),
w AS (
  SELECT p.doc_id, CAST(SUM(p.cnt) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(p.cnt * l.lr AS DECIMAL(27,12))) AS DOUBLE) AS lw
  FROM pdb p JOIN lr l ON p.b = l.b GROUP BY 1
)
SELECT doc_id, n_bigrams, ROUND(lw, 6) AS log_weight,
       lw > 0 AS selected
FROM w
""")
def llm_dsir_weights(spark, sf):
    """DSIR importance resampling (Xie et al. 2023): score raw
    documents by hashed-bigram likelihood ratio against a target
    corpus and select the target-like ones -- the published
    data-selection method behind quality-matched pretraining mixes.
    See operators/sampling.dsir_weights for the scale shape."""
    from .operators.sampling import dsir_weights
    docs = read_parallel(spark, sf, "documents")
    return dsir_weights(docs, F.col("source").isin(*_DSIR_TARGET),
                        n_buckets=_DSIR_BUCKETS)


def _sql2_sql(a: str, b: str) -> str:
    """Sequential-fold squared L2 -- bit-equal to similarity.sq_l2."""
    d = (f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))")
    return (f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> {d} * {d}), (x, y) -> x + y)")


_PQ_M, _PQ_S, _PQ_KC, _PQ_LLOYD, _PQ_QMAX, _PQ_K = 4, 16, 8, 1, 8, 3


def _pq_sql() -> str:
    """Generate the product-quantization oracle mirroring
    similarity.pq_topk: per-subspace seeded codebooks -> Lloyd
    refinement (squared-L2 assignment, decimal means) -> code
    assignment -> per-query LUT dots -> decimal-summed ADC scores ->
    top-k."""
    slices = "\n  UNION ALL ".join(
        f"SELECT vec_id, {j} AS sub, "
        f"embedding[{j * _PQ_S + 1}:{(j + 1) * _PQ_S}] AS svec "
        f"FROM embeddings" for j in range(_PQ_M))

    def nearest(cents: str, out: str) -> str:
        return f"""(
  SELECT vec_id AS {out}, sub, svec, centroid_id FROM (
    SELECT s.vec_id, s.sub, s.svec, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.sub
             ORDER BY {_sql2_sql('s.svec', 'c.cent')} ASC,
                      c.centroid_id) AS r
    FROM sub s JOIN {cents} c ON c.sub = s.sub
  ) WHERE r = 1
)"""

    parts = [f"""WITH sub AS (
  {slices}
),
cents0 AS (
  SELECT sub, vec_id AS centroid_id, svec AS cent
  FROM sub WHERE vec_id < {_PQ_KC}
)"""]
    for i in range(_PQ_LLOYD):
        parts.append(f""",
a{i} AS {nearest(f'cents{i}', 'vid')},
m{i} AS (
  SELECT sub, centroid_id, pos,
         CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS mv
  FROM (SELECT sub, centroid_id, unnest(svec) AS val,
               generate_subscripts(svec, 1) AS pos FROM a{i})
  GROUP BY 1, 2, 3
),
cents{i + 1} AS (
  SELECT sub, centroid_id, list(mv ORDER BY pos) AS cent FROM m{i}
  GROUP BY 1, 2
)""")
    fin = f"cents{_PQ_LLOYD}"
    parts.append(f""",
codes AS {nearest(fin, 'neighbor_id')},
lut AS (
  SELECT q.vec_id AS query_id, q.sub, c.centroid_id,
         {_dot_sql('q.svec', 'c.cent')} AS pdot
  FROM sub q JOIN {fin} c ON c.sub = q.sub
  WHERE q.vec_id < {_PQ_QMAX}
),
scored AS (
  SELECT l.query_id, cd.neighbor_id,
         CAST(SUM(CAST(l.pdot AS DECIMAL(27,12))) AS DOUBLE) AS adot
  FROM codes cd
  JOIN lut l ON l.sub = cd.sub AND l.centroid_id = cd.centroid_id
  WHERE cd.neighbor_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adot DESC, neighbor_id) AS rank,
         adot
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(adot, 6) AS adot
FROM ranked WHERE rank <= {_PQ_K}""")
    return "".join(parts)


@register("llm_ann_pq", _pq_sql())
def llm_ann_pq(spark, sf):
    """Product-quantization ANN (Jegou et al. 2011): 64-dim vectors
    compressed to ``_PQ_M`` one-byte codes via per-subspace codebooks,
    then max-inner-product top-``_PQ_K`` answered from codes +
    per-query lookup tables (asymmetric distance computation).  The
    64x index compression that makes billion-vector search fit in
    memory; see operators.similarity.pq_topk for the scale shape."""
    from .operators.similarity import pq_topk
    emb = read_parallel(spark, sf, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < _PQ_QMAX),
                   k=_PQ_K, m=_PQ_M, k_cent=_PQ_KC,
                   lloyd_iters=_PQ_LLOYD)


_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPN = 3, 1024, 20


def _cms_bucket_sql(col: str, row: int) -> str:
    return (f"(('0x' || substr(md5('cms{row}:' || {col}), 1, 8))::BIGINT "
            f"% {_CMS_WIDTH})")


@register("llm_cms_heavy_hitters", f"""
WITH tok AS (SELECT unnest({TOKS}) AS w FROM documents),
exact AS (SELECT w, COUNT(*) AS exact_cnt FROM tok GROUP BY 1),
{', '.join(f'''ctr{r} AS (
  SELECT {_cms_bucket_sql('w', r)} AS b, SUM(exact_cnt) AS c{r}
  FROM exact GROUP BY 1
)''' for r in range(_CMS_DEPTH))},
est AS (
  SELECT e.w, e.exact_cnt,
         CAST(LEAST({', '.join(f'x{r}.c{r}'
                               for r in range(_CMS_DEPTH))})
              AS BIGINT) AS cms_estimate
  FROM exact e
  {' '.join(f'JOIN ctr{r} x{r} ON x{r}.b = ' + _cms_bucket_sql('e.w', r)
            for r in range(_CMS_DEPTH))}
),
top AS (
  SELECT * FROM est
  ORDER BY exact_cnt DESC, w LIMIT {_CMS_TOPN}
)
SELECT w AS token, exact_cnt, cms_estimate,
       cms_estimate >= exact_cnt AS never_underestimates,
       ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, w) AS token_rank
FROM top
""")
def llm_cms_heavy_hitters(spark, sf):
    """Heavy-hitter tokens via a count-min sketch: depth x width
    integer counters estimate any token's frequency in sublinear
    memory (mergeable across shards/days; estimates only ever
    overestimate).  Output exposes estimate vs exact truth for the
    corpus' top tokens.  See operators.text.count_min_heavy_hitters
    for the scale shape."""
    from .operators.text import count_min_heavy_hitters
    docs = read_parallel(spark, sf, "documents")
    return count_min_heavy_hitters(docs, top_n=_CMS_TOPN,
                                   depth=_CMS_DEPTH, width=_CMS_WIDTH)


_PMI_MIN_CNT, _PMI_TOPK = 5, 5


@register("llm_pmi_keywords", f"""
WITH tok AS (SELECT source, unnest({TOKS}) AS w FROM documents),
st AS (SELECT source, w, COUNT(*) AS n_st FROM tok GROUP BY 1, 2),
s AS (SELECT source, SUM(n_st) AS n_s FROM st GROUP BY 1),
t AS (SELECT w, SUM(n_st) AS n_t FROM st GROUP BY 1),
n AS (SELECT SUM(n_st) AS n FROM st),
scored AS (
  SELECT st.source, st.w,
         CAST(st.n_st AS BIGINT) AS n_st,
         ln((CAST(st.n_st AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n))
            / (CAST(s.n_s AS DOUBLE) * CAST(t.n_t AS DOUBLE))) AS pmi
  FROM st JOIN s ON s.source = st.source
          JOIN t ON t.w = st.w
  WHERE st.n_st >= {_PMI_MIN_CNT}
),
ranked AS (
  SELECT source, w, n_st, ROUND(pmi, 8) AS pmi,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY pmi DESC, w) AS kw_rank
  FROM scored
)
SELECT source, w AS token, n_st, pmi, kw_rank
FROM ranked WHERE kw_rank <= {_PMI_TOPK}
""")
def llm_pmi_keywords(spark, sf):
    """Pointwise-mutual-information keywords per source: tokens whose
    occurrence is most specific to a source (the corpus-analytics twin
    of TF-IDF when the 'document' is a whole domain).  All inputs to
    the ln are exact integer counts, so the scores are engine-exact;
    shuffles are token-sized, the per-source rank partitions by the
    (small) source key."""
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select("source",
                      F.explode(tokens(F.col("text"))).alias("w"))
    st = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_st"))
    s = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    t = st.groupBy("w").agg(F.sum("n_st").alias("n_t"))
    n = st.agg(F.sum("n_st").alias("n"))
    scored = (st.where(F.col("n_st") >= _PMI_MIN_CNT)
              .join(F.broadcast(s), "source")
              .join(t, "w")
              .crossJoin(F.broadcast(n))
              .select("source", "w", "n_st",
                      F.log((F.col("n_st").cast("double")
                             * F.col("n").cast("double"))
                            / (F.col("n_s").cast("double")
                               * F.col("n_t").cast("double"))).alias("pmi")))
    w_rank = Window.partitionBy("source").orderBy(F.desc("pmi"), F.asc("w"))
    return (scored.withColumn("kw_rank", F.row_number().over(w_rank))
            .where(F.col("kw_rank") <= _PMI_TOPK)
            .select("source", F.col("w").alias("token"), "n_st",
                    F.round("pmi", 8).alias("pmi"), "kw_rank"))


# ---------------------------------------------------------------------------
# two-stage retrieval: coarse candidates -> exact rerank; MMR diversity
# ---------------------------------------------------------------------------

_RERANK_SQL = """
WITH {{QZ}},
qscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({{DOT}}, 6) AS qdot
  FROM qz c, qz q
  WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id
),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY qdot DESC, neighbor_id) AS r
    FROM qscored) WHERE r <= 10
),
rescored AS (
  SELECT cd.query_id, cd.neighbor_id,
         {{COS}} AS cos
  FROM cands cd
  JOIN embeddings c ON c.vec_id = cd.neighbor_id
  JOIN embeddings q ON q.vec_id = cd.query_id
)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM rescored) WHERE rank <= 3
""".replace("{{QZ}}", _QZ_CTE.lstrip()) \
   .replace("{{DOT}}", _INT8_DOT) \
   .replace("{{COS}}", _cos_sql("q.embedding", "c.embedding"))


@register("llm_ann_rerank", _RERANK_SQL)
def llm_ann_rerank(spark, sf):
    """Two-stage ANN: int8-quantized candidate generation (top-10 per
    query over the 4x-denser integer index) then exact full-precision
    cosine re-ranking of only those candidates to top-3 -- the
    coarse-then-rerank pattern that recovers recall without ever
    re-touching the corpus at full precision.  See
    operators.similarity.rerank_topk."""
    from .operators.similarity import rerank_topk
    emb = read_parallel(spark, sf, "embeddings")
    return rerank_topk(emb, emb.where(F.col("vec_id") < 16),
                       k=3, k_candidates=10)


_MMR_LAM = 0.7
_MMR_POOL, _MMR_K = 8, 3


def _mmr_sql(lam: float, pool: int, k: int) -> str:
    """Generate the unrolled greedy MMR oracle: one (maxsim, pick) CTE
    pair per selection step after the first.  The diversity coefficient
    interpolates as repr(1.0 - lam) so the SQL literal parses to the
    IDENTICAL IEEE double the Spark operator computes in Python."""
    cos = _cos_sql("e1.embedding", "e2.embedding")
    parts = [f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < {pool}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
pool AS MATERIALIZED (
  SELECT query_id, neighbor_id, round(cos, 6) AS rel FROM (
    SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS r
    FROM scored) WHERE r <= {pool}
),
sims AS MATERIALIZED (
  SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
         round({cos}, 6) AS sim
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id
              AND p1.neighbor_id <> p2.neighbor_id
  JOIN embeddings e1 ON e1.vec_id = p1.neighbor_id
  JOIN embeddings e2 ON e2.vec_id = p2.neighbor_id
),
s1 AS (
  SELECT query_id, neighbor_id, rel AS score, 1 AS mmr_rank FROM (
    SELECT query_id, neighbor_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, neighbor_id) AS r
    FROM pool) WHERE r = 1
),
sel1 AS (SELECT * FROM s1)"""]
    for step in range(2, k + 1):
        p = step - 1
        parts.append(f""",
m{step} AS (
  SELECT s.query_id, s.a AS neighbor_id, MAX(s.sim) AS maxsim
  FROM sims s
  JOIN sel{p} ON sel{p}.query_id = s.query_id
             AND sel{p}.neighbor_id = s.b
  GROUP BY 1, 2
),
c{step} AS (
  SELECT po.query_id, po.neighbor_id,
         CAST({lam!r} AS DOUBLE) * po.rel
         - CAST({1.0 - lam!r} AS DOUBLE) * m.maxsim AS score
  FROM pool po
  JOIN m{step} m ON m.query_id = po.query_id
                AND m.neighbor_id = po.neighbor_id
  LEFT JOIN sel{p} s ON s.query_id = po.query_id
                    AND s.neighbor_id = po.neighbor_id
  WHERE s.neighbor_id IS NULL
),
s{step} AS (
  SELECT query_id, neighbor_id, score, {step} AS mmr_rank FROM (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS r
    FROM c{step}) WHERE r = 1
),
sel{step} AS (SELECT * FROM sel{p} UNION ALL SELECT * FROM s{step})""")
    parts.append(f"""
SELECT query_id, neighbor_id, mmr_rank, round(score, 6) AS score
FROM sel{k}""")
    return "".join(parts)


@register("llm_mmr_rerank", _mmr_sql(_MMR_LAM, _MMR_POOL, _MMR_K))
def llm_mmr_rerank(spark, sf):
    """Maximal-marginal-relevance re-ranking for RAG context selection:
    greedy relevance-minus-redundancy top-3 from an exact top-8
    candidate pool (lambda = 0.7).  All greedy steps run over the
    candidate pool only -- nothing corpus-sized after stage 1.  See
    operators.similarity.mmr_rerank."""
    from .operators.similarity import mmr_rerank
    emb = read_parallel(spark, sf, "embeddings")
    return mmr_rerank(emb, emb.where(F.col("vec_id") < _MMR_POOL),
                      k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM)


@register("llm_naive_bayes", f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
test AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tr_tok AS MATERIALIZED (
  SELECT lang, unnest({TOKS}) AS token FROM train
),
cls AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY 1),
cstat AS (SELECT lang, COUNT(*) AS n_tok FROM tr_tok GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tr_tok),
lik AS MATERIALIZED (
  SELECT lang, token, COUNT(*) AS cnt FROM tr_tok GROUP BY 1, 2
),
te_tok AS (
  SELECT doc_id, lang AS actual, unnest({TOKS}) AS token FROM test
),
terms AS (
  SELECT t.doc_id, t.actual, cs.lang,
         CAST(ln(CAST(COALESCE(l.cnt, 0) + 1 AS DOUBLE)
                 / CAST(cs.n_tok + (SELECT v FROM vocab) AS DOUBLE))
              AS DECIMAL(27,12)) AS term
  FROM te_tok t
  CROSS JOIN cstat cs
  LEFT JOIN lik l ON l.lang = cs.lang AND l.token = t.token
),
scored AS (
  SELECT s.doc_id, s.actual, s.lang,
         CAST(SUM(s.term) AS DOUBLE)
         + ln(CAST(c.n_docs AS DOUBLE)
              / CAST((SELECT SUM(n_docs) FROM cls) AS DOUBLE)) AS score
  FROM terms s JOIN cls c ON c.lang = s.lang
  GROUP BY s.doc_id, s.actual, s.lang, c.n_docs
)
SELECT doc_id, actual, lang AS predicted,
       lang = actual AS correct, round(score, 6) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, lang) AS r
      FROM scored) WHERE r = 1
""")
def llm_naive_bayes(spark, sf):
    """Multinomial naive Bayes language classifier trained on 90% of
    the corpus (doc_id % 10 != 0) and scored on the held-out 10%:
    Laplace-smoothed per-class token likelihoods, decimal-exact log
    sums, class-label tie-break.  The supervised sibling of the
    heuristic llm_langid.  See operators.text.naive_bayes_classify."""
    from .operators.text import naive_bayes_classify
    docs = read_parallel(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    test = docs.where(F.col("doc_id") % 10 == 0)
    return naive_bayes_classify(train, test)


@register("llm_hard_negatives", f"""
WITH a AS (SELECT vec_id AS query_id, embedding AS qv,
                  label AS anchor_label
           FROM embeddings WHERE vec_id < 16),
scored AS (
  SELECT a.query_id, a.anchor_label, c.vec_id AS neighbor_id,
         c.label AS neg_label,
         {_cos_sql('a.qv', 'c.embedding')} AS cos
  FROM embeddings c, a
  WHERE c.vec_id <> a.query_id AND c.label <> a.anchor_label
)
SELECT query_id, anchor_label, neighbor_id, neg_label, rank,
       round(cos, 6) AS cos
FROM (SELECT query_id, anchor_label, neighbor_id, neg_label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 3
""")
def llm_hard_negatives(spark, sf):
    """Contrastive hard-negative mining: per anchor, the 3 most-similar
    vectors with a DIFFERENT label -- near-miss negatives for
    embedding training.  See operators.similarity.hard_negatives."""
    from .operators.similarity import hard_negatives
    emb = read_parallel(spark, sf, "embeddings")
    return hard_negatives(emb, emb.where(F.col("vec_id") < 16), k=3)


@register("llm_weighted_sample", f"""
WITH pri AS (
  SELECT doc_id, n_chars AS weight,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 13))
             ::BIGINT + 1.0) / {float((1 << 52) + 1)!r})
         / CAST(n_chars AS DOUBLE) AS priority
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, round(priority, 10) AS priority, sample_rank
FROM (SELECT doc_id, weight, priority,
             ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id)
               AS sample_rank
      FROM pri)
WHERE sample_rank <= 20
""")
def llm_weighted_sample(spark, sf):
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    top-20 docs by ln(u)/weight priority with length as the weight --
    longer documents proportionally likelier, fully replayable (keyed
    md5 uniform, no seed state).  See
    operators.sampling.weighted_sample."""
    from .operators.sampling import weighted_sample
    docs = read_parallel(spark, sf, "documents")
    return weighted_sample(docs, "n_chars", k=20)


@register("llm_ann_hamming", """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 16),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> CASE WHEN (q.qv[i] >= 0) != (c.embedding[i] >= 0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, hamming
FROM (SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM scored) WHERE rank <= 3
""")
def llm_ann_hamming(spark, sf):
    """Binary sign-code ANN: 1-bit-per-dimension index, exact integer
    Hamming ranking -- the 32x-memory-reduction end of the
    quantization ladder (rerank with llm_ann_rerank to recover
    precision).  See operators.similarity.hamming_topk."""
    from .operators.similarity import hamming_topk
    emb = read_parallel(spark, sf, "embeddings")
    return hamming_topk(emb, emb.where(F.col("vec_id") < 16), k=3)


_BLK, _BLK_MIN, _BLK_DF = 32, 2, 1000


@register("llm_block_dedup", f"""
WITH blk AS (
  SELECT DISTINCT doc_id,
         md5(substr(text, i * {_BLK} + 1, {_BLK})) AS bh
  FROM documents,
       unnest(range(0, CAST(floor(length(text) / {_BLK}) AS BIGINT)))
         AS u(i)
),
rare AS (
  SELECT b.doc_id, b.bh FROM blk b
  JOIN (SELECT bh FROM blk GROUP BY bh
        HAVING COUNT(*) <= {_BLK_DF}) r ON r.bh = b.bh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*) AS n_shared_blocks
FROM rare a JOIN rare b ON a.bh = b.bh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_BLK_MIN}
""")
def llm_block_dedup(spark, sf):
    """CDC-style fixed-block dedup: documents sharing >= ``_BLK_MIN``
    ``_BLK``-char block hashes -- the fixed-size-chunking pass
    storage/backup systems run, with the standard hot-block df cap so
    boilerplate blocks never go quadratic.  See
    operators.dedup.block_dedup_pairs."""
    from .operators.dedup import block_dedup_pairs
    docs = read_parallel(spark, sf, "documents")
    return block_dedup_pairs(docs, block_chars=_BLK,
                             min_shared=_BLK_MIN, max_block_df=_BLK_DF)


@register("llm_rank_fusion", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 16),
cos_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
cos_rank AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM cos_scored QUALIFY rank <= 10
),
ham_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> CASE WHEN (q.qv[i] >= 0) != (c.embedding[i] >= 0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ham_rank AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rank
  FROM ham_scored QUALIFY rank <= 10
),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + a.rank),
                  0.0)
         + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + b.rank),
                    0.0) AS rrf_score
  FROM cos_rank a
  FULL OUTER JOIN ham_rank b
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id, fused_rank, round(rrf_score, 10)
         AS rrf_score
FROM (SELECT query_id, neighbor_id, rrf_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, neighbor_id)
               AS fused_rank
      FROM fused) WHERE fused_rank <= 3
""")
def llm_rank_fusion(spark, sf):
    """Reciprocal-rank fusion of two retrievers -- exact cosine top-10
    and binary Hamming top-10 -- into one consensus top-3 (the
    zero-training dense+binary ensemble every hybrid-search stack
    runs).  See operators.similarity.rrf_fuse."""
    from .operators.similarity import (brute_force_topk, hamming_topk,
                                       rrf_fuse)
    emb = read_parallel(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 16)
    return rrf_fuse([brute_force_topk(emb, q, k=10),
                     hamming_topk(emb, q, k=10)], k=3)


_MRL_DIMS = 16


@register("llm_mrl_recall", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 16),
full_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'c.embedding')} DESC,
                      c.vec_id) AS rank
    FROM embeddings c, q WHERE c.vec_id <> q.query_id
  ) WHERE rank <= 3
),
trunc_rank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_sql(f'q.qv[1:{_MRL_DIMS}]',
                                f'c.embedding[1:{_MRL_DIMS}]')} DESC,
                      c.vec_id) AS rank
    FROM embeddings c, q WHERE c.vec_id <> q.query_id
  ) WHERE rank <= 3
)
SELECT f.query_id,
       COUNT(t.neighbor_id) AS n_overlap,
       ROUND(CAST(COUNT(t.neighbor_id) AS DOUBLE) / 3.0, 8) AS recall
FROM full_rank f
LEFT JOIN trunc_rank t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
""")
def llm_mrl_recall(spark, sf):
    """Matryoshka-dimension evaluation: top-3 recall of the FIRST-16-
    dimension truncated embedding against the full 64-d ranking -- the
    measurement behind MRL-style 'truncate the index, keep the
    recall' deployments (4x memory cut if recall holds).  Two
    broadcast-NL rankings + one candidate-sized join; prefix slicing
    is zero-copy column math on both engines."""
    from .operators.similarity import brute_force_topk
    emb = read_parallel(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 16)
    full = (brute_force_topk(emb, q, k=3)
            .select("query_id", "neighbor_id"))
    tr = F.slice(F.col("embedding"), 1, _MRL_DIMS)
    temb = emb.select("vec_id", tr.alias("embedding"))
    trunc = (brute_force_topk(temb, temb.where(F.col("vec_id") < 16), k=3)
             .select("query_id",
                     F.col("neighbor_id").alias("__tn")))
    return (full.join(trunc,
                      (full.query_id == trunc.query_id)
                      & (F.col("neighbor_id") == F.col("__tn")),
                      "left")
            .drop(trunc.query_id)
            .groupBy("query_id")
            .agg(F.count("__tn").alias("n_overlap"),
                 F.round(F.count("__tn").cast("double") / 3.0, 8)
                 .alias("recall")))


from .operators.text import BLOCKLIST_TERMS  # noqa: E402

_BL_SQL_HITS = " + ".join(
    f"len(regexp_extract_all(lower(text), '\\b{t}\\b'))"
    for t in BLOCKLIST_TERMS)
_BL_SQL_MATCHED = ", ".join(
    f"CASE WHEN len(regexp_extract_all(lower(text), '\\b{t}\\b')) > 0 "
    f"THEN '{t}' ELSE NULL END"
    for t in BLOCKLIST_TERMS)


@register("llm_blocklist_filter", f"""
SELECT doc_id,
       COALESCE(array_to_string(list_filter([{_BL_SQL_MATCHED}],
                                   x -> x IS NOT NULL), ','), '')
         AS matched_terms,
       CAST({_BL_SQL_HITS} AS BIGINT) AS n_hits,
       ({_BL_SQL_HITS}) = 0 AS keep
FROM documents
""")
def llm_blocklist_filter(spark, sf):
    """Blocklist safety prefilter: word-boundary term hits per doc,
    total count, keep/drop -- the deterministic scan-side pass before
    any model-based toxicity scorer.  See
    operators.text.blocklist_filter."""
    from .operators.text import blocklist_filter
    docs = read_parallel(spark, sf, "documents")
    out = blocklist_filter(docs)
    return out.select("doc_id", "matched_terms",
                      F.col("n_hits").cast("long").alias("n_hits"),
                      "keep")


_OOV_V = 1000


@register("llm_oov_rate", f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS w FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS c,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS r
    FROM tok GROUP BY w
  ) WHERE r <= {_OOV_V}
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE v.w IS NULL) AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (WHERE v.w IS NULL) AS DOUBLE)
             / COUNT(*), 8) AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.w = t.w
GROUP BY t.doc_id
""")
def llm_oov_rate(spark, sf):
    """Out-of-vocabulary rate per document against the corpus top-1000
    token vocabulary -- the tokenizer-coverage metric that predicts
    fertility blow-ups before training.  Vocabulary is a
    TakeOrdered-sized top-k broadcast back over one token-keyed
    join."""
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("w")).limit(_OOV_V)
             .withColumn("__r", F.row_number().over(w_rank))
             .where(F.col("__r") <= _OOV_V)
             .select("w", F.lit(1).alias("__in")))
    return (tok.join(F.broadcast(vocab), "w", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count(F.when(F.col("__in").isNull(), 1))
                 .alias("n_oov"),
                 F.round(F.count(F.when(F.col("__in").isNull(), 1))
                         .cast("double") / F.count(F.lit(1)), 8)
                 .alias("oov_rate")))


@register("llm_dataset_card", f"""
WITH fp AS (
  SELECT source, {NORM_MD5} AS f FROM documents
),
dups AS (
  SELECT source, COUNT(*) AS n_docs,
         COUNT(DISTINCT f) AS n_unique
  FROM fp GROUP BY 1
),
stats AS (
  SELECT source,
         COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(CAST(n_chars AS DECIMAL(27,4))) AS DOUBLE)
           / COUNT(*) AS mean_chars,
         MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
  FROM documents GROUP BY 1
)
SELECT s.source, d.n_docs, s.n_langs,
       ROUND(s.mean_chars, 8) AS mean_chars,
       s.min_chars, s.max_chars,
       ROUND(1.0 - CAST(d.n_unique AS DOUBLE) / d.n_docs, 8)
         AS exact_dup_rate
FROM stats s JOIN dups d ON d.source = s.source
""")
def llm_dataset_card(spark, sf):
    """Dataset-card panel per source: volume, language mix, length
    stats, exact-duplicate rate (normalized-md5 fingerprints) -- the
    one-row-per-source summary a data card / mixture decision starts
    from.  Two source-sized aggregates; the fingerprint pass reuses
    text.fingerprint."""
    from .operators.text import fingerprint
    docs = read_parallel(spark, sf, "documents")
    from .operators.relational import dsum
    fp = docs.select("source", fingerprint(F.col("text")).alias("f"))
    dups = (fp.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("f").alias("n_unique")))
    stats = (docs.groupBy("source")
             .agg(F.countDistinct("lang").alias("n_langs"),
                  (dsum(F.col("n_chars").cast("double"))
                   / F.count(F.lit(1))).alias("mean_chars"),
                  F.min("n_chars").alias("min_chars"),
                  F.max("n_chars").alias("max_chars")))
    return (stats.join(dups, "source")
            .select("source", "n_docs", "n_langs",
                    F.round("mean_chars", 8).alias("mean_chars"),
                    "min_chars", "max_chars",
                    F.round(F.lit(1.0) - F.col("n_unique").cast("double")
                            / F.col("n_docs"), 8).alias("exact_dup_rate")))


_SEMDECON_NBITS, _SEMDECON_TAU = 6, 0.4


@register("llm_semantic_decontaminate", f"""
WITH bench AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding', _SEMDECON_NBITS)} AS bucket
  FROM embeddings WHERE vec_id % 50 = 0
),
train AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding', _SEMDECON_NBITS)} AS bucket
  FROM embeddings WHERE vec_id % 50 != 0
),
hits AS (
  SELECT t.vec_id, b.vec_id AS bench_id,
         {_cos_sql('t.embedding', 'b.embedding')} AS cos
  FROM train t JOIN bench b ON b.bucket = t.bucket
  WHERE {_cos_sql('t.embedding', 'b.embedding')} >= {_SEMDECON_TAU!r}
),
best AS (
  SELECT vec_id, bench_id, cos FROM (
    SELECT vec_id, bench_id, cos,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, bench_id) AS r
    FROM hits) WHERE r = 1
)
SELECT t.vec_id,
       b.bench_id AS nearest_bench_id,
       b.bench_id IS NOT NULL AS contaminated,
       COALESCE(ROUND(b.cos, 6), 0.0) AS bench_cos
FROM train t LEFT JOIN best b ON b.vec_id = t.vec_id
""")
def llm_semantic_decontaminate(spark, sf):
    """SEMANTIC benchmark decontamination: flag train vectors whose
    cosine to any held-out benchmark vector (every 50th) clears the
    threshold -- catches paraphrased contamination that shingle
    overlap (llm_decontaminate) cannot see.  Sign-LSH buckets bound
    the candidate join (never train x bench); the benchmark side is
    broadcast-sized by construction."""
    from .operators.similarity import cosine, sign_signature
    emb = read_parallel(spark, sf, "embeddings")
    bench = (emb.where(F.col("vec_id") % 50 == 0)
             .select(F.col("vec_id").alias("bench_id"),
                     F.col("embedding").alias("__bv"),
                     sign_signature(F.col("embedding"),
                                    _SEMDECON_NBITS).alias("bucket")))
    train = (emb.where(F.col("vec_id") % 50 != 0)
             .select("vec_id", "embedding",
                     sign_signature(F.col("embedding"),
                                    _SEMDECON_NBITS).alias("bucket")))
    hits = (train.join(F.broadcast(bench), "bucket")
            .withColumn("cos", cosine(F.col("embedding"), F.col("__bv")))
            .where(F.col("cos") >= _SEMDECON_TAU))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"),
                                             F.asc("bench_id"))
    best = (hits.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("vec_id", "bench_id", "cos"))
    return (train.select("vec_id")
            .join(best, "vec_id", "left")
            .select("vec_id",
                    F.col("bench_id").alias("nearest_bench_id"),
                    F.col("bench_id").isNotNull().alias("contaminated"),
                    F.coalesce(F.round("cos", 6), F.lit(0.0))
                    .alias("bench_cos")))


_LM_CTX, _LM_TOPK, _LM_K = 50, 3, 0.5


@register("llm_bigram_lm", f"""
WITH tok AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
),
big AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, unnest(range(1, len(toks))) AS u(i)
),
uni AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM big),
ctx AS (
  SELECT w1, c1 FROM (
    SELECT w1, c1, ROW_NUMBER() OVER (ORDER BY c1 DESC, w1) AS r
    FROM uni) WHERE r <= {_LM_CTX}
),
pair AS (
  SELECT b.w1, b.w2, COUNT(*) AS c12
  FROM big b JOIN ctx ON ctx.w1 = b.w1
  GROUP BY 1, 2
)
SELECT w1, w2, c12, ROUND(p, 8) AS prob, cont_rank
FROM (SELECT p.w1, p.w2, p.c12,
             (CAST(p.c12 AS DOUBLE) + CAST({_LM_K!r} AS DOUBLE))
             / (CAST(c.c1 AS DOUBLE)
                + CAST({_LM_K!r} AS DOUBLE)
                  * CAST((SELECT v FROM vocab) AS DOUBLE)) AS p,
             ROW_NUMBER() OVER (PARTITION BY p.w1
                                ORDER BY p.c12 DESC, p.w2) AS cont_rank
      FROM pair p JOIN ctx c ON c.w1 = p.w1)
WHERE cont_rank <= {_LM_TOPK}
""")
def llm_bigram_lm(spark, sf):
    """Bigram language model training: add-k-smoothed conditional
    continuation probabilities P(w2 | w1) with the top-3 continuations
    for the 50 most frequent contexts -- the count-based LM behind the
    novelty/DSIR scorers, as a standalone trainable artifact.  Token-
    sized shuffles only; contexts are a TakeOrdered top-k broadcast."""
    docs = read_parallel(spark, sf, "documents")
    toks = docs.select(tokens(F.col("text")).alias("t"))
    big = (toks.select(F.posexplode("t").alias("i", "w1"), "t")
           .where(F.col("i") < F.size("t") - 1)
           .select("w1", F.element_at("t", F.col("i") + 2).alias("w2")))
    big = big.localCheckpoint()  # three consumers
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = big.select("w2").distinct().count()
    w_ctx = Window.orderBy(F.desc("c1"), F.asc("w1"))
    ctx = (uni.orderBy(F.desc("c1"), F.asc("w1")).limit(_LM_CTX)
           .withColumn("__r", F.row_number().over(w_ctx))
           .where(F.col("__r") <= _LM_CTX).select("w1", "c1"))
    pair = (big.join(F.broadcast(ctx.select("w1")), "w1")
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    prob = ((F.col("c12").cast("double") + F.lit(_LM_K))
            / (F.col("c1").cast("double") + F.lit(_LM_K) * F.lit(float(v))))
    w_rank = Window.partitionBy("w1").orderBy(F.desc("c12"), F.asc("w2"))
    return (pair.join(F.broadcast(ctx), "w1")
            .withColumn("cont_rank", F.row_number().over(w_rank))
            .where(F.col("cont_rank") <= _LM_TOPK)
            .select("w1", "w2", "c12",
                    F.round(prob, 8).alias("prob"), "cont_rank"))


@register("llm_dedup_keep_best", f"""
WITH RECURSIVE {SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL},
{_JACCARD_CTES.lstrip()},
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
bi AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id) = 1 AS is_kept,
       CAST(n_chars AS DOUBLE) AS survivor_score
FROM alldocs
""")
def llm_dedup_keep_best(spark, sf):
    """Fuzzy dedup keeping the BEST copy: same MinHash-LSH clusters as
    llm_dedup_clusters, but the survivor is the LONGEST document in
    each cluster (score = n_chars, ties on id) -- production dedup
    keeps the highest-value duplicate, not the smallest id.  See
    operators.dedup.dedup_keep_best."""
    docs = read_parallel(spark, sf, "documents")
    pairs = minhash_lsh_dedup(docs, num_hashes=_NUM_HASHES, bands=_BANDS,
                              threshold=0.5,
                              max_bucket_size=_LSH_BUCKET_CAP)
    from .operators.dedup import dedup_keep_best
    return dedup_keep_best(docs, pairs,
                           F.col("n_chars").cast("double"))


_QUOTA_BUDGET = 1000


@register("llm_quota_allocate", f"""
WITH w AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CAST(n_chars AS DECIMAL(27,4))) AS DOUBLE) AS weight
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(weight AS DECIMAL(27,4))) AS DOUBLE) AS t
        FROM w),
base AS (
  SELECT source, n_docs, weight,
         {_QUOTA_BUDGET} * weight / (SELECT t FROM tot) AS ideal,
         CAST(floor({_QUOTA_BUDGET} * weight / (SELECT t FROM tot))
              AS BIGINT) AS base_quota,
         {_QUOTA_BUDGET} * weight / (SELECT t FROM tot)
         - floor({_QUOTA_BUDGET} * weight / (SELECT t FROM tot))
           AS remainder
  FROM w
),
leftover AS (
  SELECT {_QUOTA_BUDGET} - CAST(SUM(base_quota) AS BIGINT) AS k
  FROM base
)
SELECT source, n_docs, base_quota,
       ROUND(ideal, 8) AS ideal,
       base_quota + CASE WHEN rr <= (SELECT k FROM leftover)
                         THEN 1 ELSE 0 END AS quota
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
               AS rr
      FROM base)
""")
def llm_quota_allocate(spark, sf):
    """Largest-remainder (Hamilton) apportionment of a
    ``_QUOTA_BUDGET``-doc sampling budget across sources by total
    character weight: integer quotas that sum EXACTLY to the budget,
    the fair-rounding step a mixture sampler runs before fixed-size
    per-stratum sampling (llm_fixed_sample consumes these quotas).
    One source-sized aggregate + one dimension-sized window;
    remainders tie-break on source."""
    from .operators.relational import dsum
    docs = read_parallel(spark, sf, "documents")
    w = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              dsum(F.col("n_chars").cast("double")).alias("weight")))
    tot = w.agg(dsum(F.col("weight")).alias("t"))
    base = (w.crossJoin(F.broadcast(tot))
            .withColumn("ideal", F.lit(_QUOTA_BUDGET) * F.col("weight")
                        / F.col("t"))
            .withColumn("base_quota",
                        F.floor("ideal").cast("long"))
            .withColumn("remainder",
                        F.col("ideal") - F.floor("ideal")))
    leftover = base.agg(
        (F.lit(_QUOTA_BUDGET) - F.sum("base_quota")).alias("k"))
    wr = Window.orderBy(F.desc("remainder"), F.asc("source"))
    return (base.withColumn("rr", F.row_number().over(wr))
            .crossJoin(F.broadcast(leftover))
            .select("source", "n_docs", "base_quota",
                    F.round("ideal", 8).alias("ideal"),
                    (F.col("base_quota")
                     + F.when(F.col("rr") <= F.col("k"), 1)
                     .otherwise(0)).alias("quota")))


_FH_DIMS = 16


@register("llm_feature_hashing", f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS w FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(w), 1, 7))::BIGINT % {_FH_DIMS} AS dim,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2
),
tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hashed GROUP BY 1
)
SELECT h.doc_id,
       CAST(h.dim AS INTEGER) AS dim, h.c,
       ROUND(CAST(h.c AS DOUBLE) / t.n, 8) AS tf
FROM hashed h JOIN tot t ON t.doc_id = h.doc_id
""")
def llm_feature_hashing(spark, sf):
    """Feature hashing (the hashing trick): tokens map to a fixed
    ``_FH_DIMS``-dimension space via md5-mod, giving every document a bounded
    sparse count vector with NO vocabulary table to build, ship, or
    keep consistent -- the featurization that scales to unbounded
    vocab at 100 TB (collisions are the accepted trade).  One
    token-sized shuffle; output is (doc, dim, count, tf) sparse
    triplets."""
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
    dim = F.pmod(F.conv(F.substring(F.md5("w"), 1, 7), 16, 10)
                 .cast("long"), F.lit(_FH_DIMS))
    hashed = (tok.select("doc_id", dim.alias("dim"))
              .groupBy("doc_id", "dim")
              .agg(F.count(F.lit(1)).alias("c")))
    tot = hashed.groupBy("doc_id").agg(F.sum("c").alias("n"))
    return (hashed.join(tot, "doc_id")
            .select("doc_id", F.col("dim").cast("int").alias("dim"),
                    "c",
                    F.round(F.col("c").cast("double") / F.col("n"), 8)
                    .alias("tf")))


@register("llm_maxsim_late_interaction", f"""
WITH q AS (SELECT label AS qlabel, vec_id AS qid, embedding AS qv
           FROM embeddings WHERE label < 3),
d AS (SELECT label AS dlabel, vec_id AS did, embedding AS dv
      FROM embeddings),
best AS (
  SELECT q.qlabel, q.qid, d.dlabel,
         MAX({_cos_sql('q.qv', 'd.dv')}) AS maxcos
  FROM q JOIN d ON q.qid <> d.did
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT qlabel, dlabel,
         CAST(SUM(CAST(maxcos AS DECIMAL(27,12))) AS DOUBLE) AS s,
         COUNT(*) AS n_query_vecs
  FROM best GROUP BY 1, 2
)
SELECT qlabel, dlabel, n_query_vecs,
       ROUND(s, 6) AS maxsim_score,
       ROW_NUMBER() OVER (PARTITION BY qlabel
                          ORDER BY s DESC, dlabel) AS rank
FROM scored
""")
def llm_maxsim_late_interaction(spark, sf):
    """ColBERT-style MaxSim late interaction between vector SETS:
    treating each label's vectors as one multi-vector document, the
    score of (query set, doc set) is the sum over query vectors of
    each one's best cosine in the doc set -- the late-interaction
    retrieval pattern that beats single-vector pooling.  MAX is
    order-free, the per-pair sum is decimal-exact; the pair space is
    vector x vector bounded (bucket it per the ANN entries at corpus
    scale)."""
    from .operators.similarity import cosine
    emb = read_parallel(spark, sf, "embeddings")
    q = (emb.where(F.col("label") < 3)
         .select(F.col("label").alias("qlabel"),
                 F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    d = emb.select(F.col("label").alias("dlabel"),
                   F.col("vec_id").alias("did"),
                   F.col("embedding").alias("dv"))
    best = (d.crossJoin(F.broadcast(q))
            .where(F.col("qid") != F.col("did"))
            .groupBy("qlabel", "qid", "dlabel")
            .agg(F.max(cosine(F.col("qv"), F.col("dv")))
                 .alias("maxcos")))
    scored = (best.groupBy("qlabel", "dlabel")
              .agg(F.sum(F.col("maxcos").cast("decimal(27,12)"))
                   .cast("double").alias("s"),
                   F.count(F.lit(1)).alias("n_query_vecs")))
    w = Window.partitionBy("qlabel").orderBy(F.desc("s"), F.asc("dlabel"))
    return (scored.select("qlabel", "dlabel", "n_query_vecs",
                          F.round("s", 6).alias("maxsim_score"),
                          F.row_number().over(w).alias("rank")))


_MAXSIM_NBITS = 4


@register("llm_maxsim_bucketed", f"""
WITH q AS (SELECT label AS qlabel, vec_id AS qid, embedding AS qv,
                  {_bucket_sql('embedding', _MAXSIM_NBITS)} AS bucket
           FROM embeddings WHERE label < 3 AND vec_id < 64),
d AS (SELECT label AS dlabel, vec_id AS did, embedding AS dv,
             {_bucket_sql('embedding', _MAXSIM_NBITS)} AS bucket
      FROM embeddings),
best AS (
  SELECT q.qlabel, q.qid, d.dlabel,
         MAX({_cos_sql('q.qv', 'd.dv')}) AS maxcos
  FROM d JOIN q ON d.bucket = q.bucket AND q.qid <> d.did
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT qlabel, dlabel,
         CAST(SUM(CAST(maxcos AS DECIMAL(27,12))) AS DOUBLE) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_matched_query_vecs
  FROM best GROUP BY 1, 2
)
SELECT qlabel, dlabel, n_matched_query_vecs,
       ROUND(s, 6) AS maxsim_score,
       ROW_NUMBER() OVER (PARTITION BY qlabel
                          ORDER BY s DESC, dlabel) AS rank
FROM scored
""")
def llm_maxsim_bucketed(spark, sf):
    """MaxSim late interaction, corpus-scale shape: the same
    ColBERT-style score as ``llm_maxsim_late_interaction`` (sum over
    query vectors of each one's best cosine in the doc set) but the
    candidate doc vectors per query vector come from a deterministic
    sign-LSH bucket equi-join (``sign_signature``, the llm_ann_lsh
    generator) instead of the exact all-pairs cross join -- the
    bucketed variant the exact entry's docstring promises.

    Scale shape: the query side is BOUNDED by construction (<= 64
    sampled vectors of the query labels, the ANN-entry posture) and
    broadcast; the corpus streams once through a broadcast hash join
    on the bucket key -- no all-pairs expansion, no corpus shuffle for
    candidate generation; the per-(query-vec, doc-label) max collapses
    map-side.  Exact MaxSim is quadratic by construction (sf1 measured
    720.7s); this shape is the one that survives sf10.  MAX is
    order-free; the per-pair sum is decimal-exact.  A query vector
    with no bucket collision in a doc label contributes nothing to
    that pair (n_matched_query_vecs records the live terms)."""
    from .operators.similarity import cosine, sign_signature
    emb = read_parallel(spark, sf, "embeddings")
    q = (emb.where((F.col("label") < 3) & (F.col("vec_id") < 64))
         .select(F.col("label").alias("qlabel"),
                 F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"),
                 sign_signature(F.col("embedding"), _MAXSIM_NBITS)
                 .alias("bucket")))
    d = emb.select(F.col("label").alias("dlabel"),
                   F.col("vec_id").alias("did"),
                   F.col("embedding").alias("dv"),
                   sign_signature(F.col("embedding"), _MAXSIM_NBITS)
                   .alias("bucket"))
    best = (d.join(F.broadcast(q), "bucket")
            .where(F.col("qid") != F.col("did"))
            .groupBy("qlabel", "qid", "dlabel")
            .agg(F.max(cosine(F.col("qv"), F.col("dv")))
                 .alias("maxcos")))
    scored = (best.groupBy("qlabel", "dlabel")
              .agg(F.sum(F.col("maxcos").cast("decimal(27,12)"))
                   .cast("double").alias("s"),
                   F.count(F.lit(1)).alias("n_matched_query_vecs")))
    w = Window.partitionBy("qlabel").orderBy(F.desc("s"), F.asc("dlabel"))
    return (scored.select("qlabel", "dlabel", "n_matched_query_vecs",
                          F.round("s", 6).alias("maxsim_score"),
                          F.row_number().over(w).alias("rank")))


@register("llm_contrastive_triplets", f"""
WITH a AS (SELECT vec_id AS anchor_id, embedding AS av,
                  label AS alabel
           FROM embeddings WHERE vec_id < 8),
pos AS (
  SELECT anchor_id, alabel, neighbor_id AS positive_id, cos AS pos_cos
  FROM (SELECT a.anchor_id, a.alabel, c.vec_id AS neighbor_id,
               {_cos_sql('a.av', 'c.embedding')} AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.anchor_id
                                  ORDER BY {_cos_sql('a.av',
                                                     'c.embedding')}
                                           DESC, c.vec_id) AS r
        FROM embeddings c, a
        WHERE c.vec_id <> a.anchor_id AND c.label = a.alabel)
  WHERE r = 1
),
neg AS (
  SELECT anchor_id, neighbor_id AS negative_id, cos AS neg_cos
  FROM (SELECT a.anchor_id, c.vec_id AS neighbor_id,
               {_cos_sql('a.av', 'c.embedding')} AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.anchor_id
                                  ORDER BY {_cos_sql('a.av',
                                                     'c.embedding')}
                                           DESC, c.vec_id) AS r
        FROM embeddings c, a
        WHERE c.vec_id <> a.anchor_id AND c.label <> a.alabel)
  WHERE r = 1
)
SELECT p.anchor_id, p.alabel AS anchor_label,
       p.positive_id, n.negative_id,
       ROUND(p.pos_cos, 6) AS pos_cos, ROUND(n.neg_cos, 6) AS neg_cos,
       ROUND(p.pos_cos - n.neg_cos, 6) AS margin
FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
""")
def llm_contrastive_triplets(spark, sf):
    """Contrastive training triplets: per anchor, the most-similar
    SAME-label vector (positive) and the most-similar DIFFERENT-label
    vector (hard negative), with the margin the triplet loss will see
    -- the data-generation pass for embedding finetuning, composed
    from the same scored kernels as llm_hard_negatives."""
    from .operators.similarity import cosine, topk_per_query
    emb = read_parallel(spark, sf, "embeddings")
    a = (emb.where(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("__av"),
                 F.col("label").alias("alabel")))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("__cv"),
                   F.col("label").alias("nlabel"))
    scored = (c.crossJoin(F.broadcast(a))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "alabel", "neighbor_id", "nlabel",
                      cosine(F.col("__av"), F.col("__cv")).alias("cos"))
              .localCheckpoint())
    pos = (topk_per_query(scored.where(F.col("nlabel")
                                       == F.col("alabel")), 1)
           .select(F.col("query_id").alias("anchor_id"),
                   F.col("alabel").alias("anchor_label"),
                   F.col("neighbor_id").alias("positive_id"),
                   F.col("cos").alias("pos_cos")))
    neg = (topk_per_query(scored.where(F.col("nlabel")
                                       != F.col("alabel")), 1)
           .select(F.col("query_id").alias("anchor_id"),
                   F.col("neighbor_id").alias("negative_id"),
                   F.col("cos").alias("neg_cos")))
    return (pos.join(neg, "anchor_id")
            .select("anchor_id", "anchor_label", "positive_id",
                    "negative_id",
                    F.round("pos_cos", 6).alias("pos_cos"),
                    F.round("neg_cos", 6).alias("neg_cos"),
                    F.round(F.col("pos_cos") - F.col("neg_cos"), 6)
                    .alias("margin")))


@register("llm_chars_per_token", f"""
WITH t AS (
  SELECT lang, n_chars, len({TOKS}) AS n_tok FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(27,4))) AS BIGINT)
         AS total_chars,
       CAST(SUM(CAST(n_tok AS DECIMAL(27,4))) AS BIGINT)
         AS total_tokens,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(27,4))) AS DOUBLE)
             / CAST(SUM(CAST(n_tok AS DECIMAL(27,4))) AS DOUBLE), 8)
         AS chars_per_token
FROM t GROUP BY lang
""")
def llm_chars_per_token(spark, sf):
    """Chars-per-token ratio by language -- the fertility estimator
    behind token-budget planning (CJK text runs ~1 char/token under
    whitespace tokenization; the ratio calibrates corpus-size -> token
    -count conversions per language).  One scan, language-sized
    output."""
    docs = read_parallel(spark, sf, "documents")
    t = docs.select("lang", "n_chars",
                    F.size(tokens(F.col("text"))).alias("n_tok"))
    dc = F.col("n_chars").cast("decimal(27,4)")
    dt = F.col("n_tok").cast("decimal(27,4)")
    return (t.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(dc).cast("long").alias("total_chars"),
                 F.sum(dt).cast("long").alias("total_tokens"),
                 F.round(F.sum(dc).cast("double")
                         / F.sum(dt).cast("double"), 8)
                 .alias("chars_per_token")))


_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("data", "trade", "world", "model")


@register("llm_bm25", f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS w FROM documents
),
dl AS (
  SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY 1
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len AS DECIMAL(27,4))) AS DOUBLE)
         / COUNT(*) AS avglen
  FROM dl
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tok
  WHERE w IN {repr(tuple(_BM25_TERMS))} GROUP BY 1, 2
),
df AS (
  SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(
           ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                    / (d.df + 0.5))
           * (t.tf * ({_BM25_K1!r} + 1.0))
           / (t.tf + {_BM25_K1!r}
              * (1.0 - {_BM25_B!r}
                 + {_BM25_B!r} * l.len / (SELECT avglen FROM stats)))
           AS DECIMAL(27,12))) AS DOUBLE) AS score,
         COUNT(*) AS n_matched_terms
  FROM tf t
  JOIN df d ON d.w = t.w
  JOIN dl l ON l.doc_id = t.doc_id
  GROUP BY t.doc_id
)
SELECT doc_id, n_matched_terms, ROUND(score, 8) AS bm25, rank
FROM (SELECT doc_id, n_matched_terms, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= 20
""")
def llm_bm25(spark, sf):
    """BM25 ranking (k1 = 1.2, b = 0.75) of the corpus against a fixed
    term query -- THE lexical-retrieval baseline every hybrid stack
    pairs with dense ANN (fuse via llm_rank_fusion).  Robertson-Sparck
    Jones idf, length-normalized tf saturation, decimal-exact per-doc
    sums; only query-term postings shuffle."""
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
    tok = tok.localCheckpoint()
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("len").cast("decimal(27,4)")).cast("double")
         / F.count(F.lit(1))).alias("avglen"))
    tf = (tok.where(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    j = (tf.join(F.broadcast(dfreq), "w")
         .join(dl, "doc_id")
         .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    k1, b = _BM25_K1, _BM25_B
    term = (idf * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b
                                   + b * F.col("len")
                                   / F.col("avglen"))))
    scored = (j.groupBy("doc_id")
              .agg(F.sum(term.cast("decimal(27,12)")).cast("double")
                   .alias("score"),
                   F.count(F.lit(1)).alias("n_matched_terms")))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 20)
            .select("doc_id", "n_matched_terms",
                    F.round("score", 8).alias("bm25"), "rank"))


_LC_CHUNK = 64


@register("llm_lang_consistency", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(toks) - 1, 0) + 1, {_LC_CHUNK}))
           AS cs,
         toks AS full_toks
  FROM tk
),
ch AS (
  SELECT doc_id, cs,
         full_toks[cs + 1 : cs + {_LC_CHUNK}] AS toks
  FROM st
),
sc AS (SELECT doc_id, cs, {_LANG_SCORES} FROM ch),
pred AS (SELECT doc_id, cs, {_langid_case()} AS p FROM sc),
cnt AS (
  SELECT doc_id, p, COUNT(*) AS c FROM pred GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chunks,
         COUNT(*) FILTER (WHERE p != 'und') AS n_langs_detected,
         MAX(c) AS top_c
  FROM cnt GROUP BY 1
)
SELECT doc_id, n_chunks, n_langs_detected,
       ROUND(CAST(top_c AS DOUBLE) / n_chunks, 8) AS majority_share,
       n_langs_detected > 1 AS is_mixed
FROM agg
""")
def llm_lang_consistency(spark, sf):
    """Mixed-language detection: language-ID every ``_LC_CHUNK``-token
    chunk of a document and report how many languages appear and how
    dominant the majority is -- code-switched / concatenated-crawl
    docs are the curation hazard document-level langid cannot see.
    Chunking + scoring run inside codegen; only chunk-sized
    predictions aggregate."""
    from .operators.text import lang_id
    docs = read_parallel(spark, sf, "documents")
    toks = tokens(F.col("text"))
    st = (docs.select("doc_id", toks.alias("full_toks"))
          .select("doc_id", "full_toks",
                  F.explode(F.sequence(
                      F.lit(0),
                      F.greatest(F.size("full_toks") - 1, F.lit(0)),
                      F.lit(_LC_CHUNK))).alias("cs")))
    chunk_text = F.array_join(
        F.slice(F.col("full_toks"), F.col("cs") + 1, _LC_CHUNK), " ")
    pred = st.select("doc_id", lang_id(chunk_text).alias("p"))
    cnt = pred.groupBy("doc_id", "p").agg(F.count(F.lit(1)).alias("c"))
    return (cnt.groupBy("doc_id")
            .agg(F.sum("c").cast("long").alias("n_chunks"),
                 F.count(F.when(F.col("p") != "und", 1))
                 .alias("n_langs_detected"),
                 F.max("c").alias("top_c"))
            .select("doc_id", "n_chunks", "n_langs_detected",
                    F.round(F.col("top_c").cast("double")
                            / F.col("n_chunks"), 8)
                    .alias("majority_share"),
                    (F.col("n_langs_detected") > 1).alias("is_mixed")))


@register("ml_classifier_report", f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t),
pred AS (SELECT doc_id, lang AS actual, {_langid_case()} AS p FROM s),
classes AS (SELECT DISTINCT actual AS cls FROM pred),
m AS (
  SELECT c.cls,
         (SELECT COUNT(*) FROM pred
          WHERE p = c.cls AND actual = c.cls) AS tp,
         (SELECT COUNT(*) FROM pred
          WHERE p = c.cls AND actual != c.cls) AS fp,
         (SELECT COUNT(*) FROM pred
          WHERE p != c.cls AND actual = c.cls) AS fn
  FROM classes c
)
SELECT cls, tp, fp, fn,
       ROUND(CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END, 8)
         AS precision,
       ROUND(CASE WHEN tp + fn > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END, 8)
         AS recall,
       ROUND(CASE WHEN 2 * tp + fp + fn > 0
                  THEN 2.0 * tp / (2.0 * tp + fp + fn)
                  ELSE 0.0 END, 8) AS f1
FROM m
""")
def ml_classifier_report(spark, sf):
    """Per-class precision / recall / F1 of the heuristic language
    classifier against ground truth -- the standard classifier report
    completing the eval family (confusion matrix, AUC, kappa).  Exact
    integer confusion counts, single IEEE ratios."""
    from .operators.text import lang_id
    docs = read_parallel(spark, sf, "documents")
    pred = docs.select(F.col("lang").alias("actual"),
                       lang_id(F.col("text")).alias("p"))
    pred = pred.localCheckpoint()
    classes = pred.select(F.col("actual").alias("cls")).distinct()
    agg = (pred.crossJoin(F.broadcast(classes))
           .groupBy("cls")
           .agg(F.count(F.when((F.col("p") == F.col("cls"))
                               & (F.col("actual") == F.col("cls")), 1))
                .alias("tp"),
                F.count(F.when((F.col("p") == F.col("cls"))
                               & (F.col("actual") != F.col("cls")), 1))
                .alias("fp"),
                F.count(F.when((F.col("p") != F.col("cls"))
                               & (F.col("actual") == F.col("cls")), 1))
                .alias("fn")))
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return agg.select(
        "cls", "tp", "fp", "fn",
        F.round(F.when(tp + fp > 0, tp.cast("double") / (tp + fp))
                .otherwise(0.0), 8).alias("precision"),
        F.round(F.when(tp + fn > 0, tp.cast("double") / (tp + fn))
                .otherwise(0.0), 8).alias("recall"),
        F.round(F.when(2 * tp + fp + fn > 0,
                       2.0 * tp / (2.0 * tp + fp + fn))
                .otherwise(0.0), 8).alias("f1"))


@register("ml_cohens_kappa", f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t),
pred AS (SELECT lang AS actual, {_langid_case()} AS p FROM s),
n AS (SELECT COUNT(*) AS n FROM pred),
po AS (SELECT COUNT(*) AS agree FROM pred WHERE actual = p),
marg AS (
  SELECT COALESCE(a.cls, b.cls) AS cls,
         COALESCE(a.ca, 0) AS ca, COALESCE(b.cp, 0) AS cp
  FROM (SELECT actual AS cls, COUNT(*) AS ca FROM pred GROUP BY 1) a
  FULL OUTER JOIN
       (SELECT p AS cls, COUNT(*) AS cp FROM pred GROUP BY 1) b
    ON a.cls = b.cls
),
pe AS (
  SELECT CAST(SUM(CAST(ca * cp AS DECIMAL(27,4))) AS DOUBLE)
         / ((SELECT n FROM n) * CAST((SELECT n FROM n) AS DOUBLE))
           AS pe
  FROM marg
)
SELECT (SELECT n FROM n) AS n_docs,
       ROUND(CAST((SELECT agree FROM po) AS DOUBLE)
             / (SELECT n FROM n), 8) AS p_observed,
       ROUND((SELECT pe FROM pe), 8) AS p_expected,
       ROUND((CAST((SELECT agree FROM po) AS DOUBLE)
              / (SELECT n FROM n) - (SELECT pe FROM pe))
             / (1.0 - (SELECT pe FROM pe)), 8) AS kappa
FROM (SELECT 1)
""")
def ml_cohens_kappa(spark, sf):
    """Cohen's kappa between the heuristic language classifier and the
    ground-truth labels: chance-corrected agreement (accuracy alone
    flatters classifiers on skewed label mixes).  Exact marginal
    products through decimals; one row out."""
    from .operators.text import lang_id
    docs = read_parallel(spark, sf, "documents")
    pred = docs.select(F.col("lang").alias("actual"),
                       lang_id(F.col("text")).alias("p"))
    pred = pred.localCheckpoint()
    n = pred.count()
    agree = pred.where(F.col("actual") == F.col("p")).count()
    a = pred.groupBy(F.col("actual").alias("cls")).agg(
        F.count(F.lit(1)).alias("ca"))
    b = pred.groupBy(F.col("p").alias("cls")).agg(
        F.count(F.lit(1)).alias("cp"))
    marg = (a.join(b, "cls", "full_outer")
            .select(F.coalesce("ca", F.lit(0)).alias("ca"),
                    F.coalesce("cp", F.lit(0)).alias("cp")))
    pe = marg.agg((F.sum((F.col("ca") * F.col("cp"))
                         .cast("decimal(27,4)")).cast("double")
                   / (float(n) * float(n))).alias("pe")).first()["pe"]
    po = agree / n
    kappa = (po - pe) / (1.0 - pe)
    return spark.createDataFrame(
        [(n, round(po, 8), round(pe, 8), round(kappa, 8))],
        "n_docs long, p_observed double, p_expected double, "
        "kappa double")


_SFT_P, _SFT_C, _SFT_MIN = 32, 96, 40


@register("llm_sft_pairs", f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
SELECT doc_id,
       array_to_string(toks[1 : {_SFT_P}], ' ') AS prompt,
       array_to_string(toks[{_SFT_P} + 1 : {_SFT_P} + {_SFT_C}], ' ')
         AS completion,
       CAST(len(toks[1 : {_SFT_P}]) AS INT) AS n_prompt_tokens,
       CAST(len(toks[{_SFT_P} + 1 : {_SFT_P} + {_SFT_C}]) AS INT)
         AS n_completion_tokens,
       len(toks) > {_SFT_P} + {_SFT_C} AS truncated
FROM tk WHERE len(toks) >= {_SFT_MIN}
""")
def llm_sft_pairs(spark, sf):
    """SFT example construction: split each (long-enough) document
    into a ``_SFT_P``-token prompt and ``_SFT_C``-token completion
    with token accounting and a truncation flag -- the
    instruction-tuning data prep that feeds pack_sequences.  Pure
    slice/join codegen, shuffle-free."""
    docs = read_parallel(spark, sf, "documents")
    t = tokens(F.col("text"))
    prompt = F.slice(t, 1, _SFT_P)
    completion = F.slice(t, _SFT_P + 1, _SFT_C)
    return (docs.where(F.size(t) >= _SFT_MIN)
            .select("doc_id",
                    F.array_join(prompt, " ").alias("prompt"),
                    F.array_join(completion, " ").alias("completion"),
                    F.size(prompt).cast("int")
                    .alias("n_prompt_tokens"),
                    F.size(completion).cast("int")
                    .alias("n_completion_tokens"),
                    (F.size(t) > _SFT_P + _SFT_C).alias("truncated")))


_VC_KS = (10, 100, 1000)


@register("llm_vocab_coverage", f"""
WITH tok AS (
  SELECT unnest({TOKS}) AS w FROM documents
),
freq AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY 1
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r,
         CAST(SUM(CAST(c AS DECIMAL(27,4))) OVER () AS DOUBLE) AS tot
  FROM freq
),
ks AS (SELECT unnest({list(_VC_KS)!r}) AS k)
SELECT ks.k AS vocab_size,
       ROUND(CAST(SUM(CAST(r.c AS DECIMAL(27,4))) AS DOUBLE)
             / MAX(r.tot), 8) AS token_coverage
FROM ks JOIN ranked r ON r.r <= ks.k
GROUP BY ks.k
""")
def llm_vocab_coverage(spark, sf):
    """Vocabulary coverage curve: what fraction of all token
    OCCURRENCES the top-10/100/1000 types cover -- the Zipf-mass
    measurement behind vocab-size decisions (a 1k vocab covering 95%
    means subwords only earn their keep on the 5% tail).  One
    token-sized count + a type-sized rank."""
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = (freq.withColumn("r", F.row_number().over(w_rank))
              .withColumn("tot", F.sum(F.col("c").cast("decimal(27,4)"))
                          .over(Window.partitionBy())
                          .cast("double"))
              .localCheckpoint())
    ks = spark.createDataFrame([(k,) for k in _VC_KS], "k int")
    return (F.broadcast(ks).join(ranked, ranked.r <= ks.k)
            .groupBy(F.col("k").alias("vocab_size"))
            .agg(F.round(F.sum(F.col("c").cast("decimal(27,4)"))
                         .cast("double") / F.max("tot"), 8)
                 .alias("token_coverage")))


@register("llm_dedup_savings", f"""
WITH t AS (
  SELECT doc_id, source, {NORM_MD5} AS f, len({TOKS}) AS n_tok
  FROM documents
),
kept AS (
  SELECT source, f, MIN(doc_id) AS keeper,
         CAST(SUM(n_tok) AS BIGINT) AS grp_tokens,
         COUNT(*) AS grp_docs
  FROM t GROUP BY source, f
),
keep_tok AS (
  SELECT k.source, k.f, t.n_tok AS keeper_tokens,
         k.grp_tokens, k.grp_docs
  FROM kept k JOIN t ON t.doc_id = k.keeper
)
SELECT source,
       CAST(SUM(grp_docs) AS BIGINT) AS n_docs,
       CAST(SUM(grp_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(keeper_tokens) AS BIGINT) AS tokens_after,
       ROUND(1.0 - CAST(SUM(keeper_tokens) AS DOUBLE)
             / SUM(grp_tokens), 8) AS token_savings
FROM keep_tok GROUP BY source
""")
def llm_dedup_savings(spark, sf):
    """Dedup impact report: per source, how many TOKENS exact dedup
    removes (duplicate groups keep their min-id survivor) -- the
    compute-savings readout that justifies a dedup pass before paying
    for training tokens.  Fingerprint-keyed aggregates only."""
    from .operators.text import fingerprint, tokens as tokfn
    docs = read_parallel(spark, sf, "documents")
    t = docs.select("doc_id", "source",
                    fingerprint(F.col("text")).alias("f"),
                    F.size(tokfn(F.col("text"))).alias("n_tok"))
    t = t.localCheckpoint()
    kept = (t.groupBy("source", "f")
            .agg(F.min("doc_id").alias("keeper"),
                 F.sum("n_tok").cast("long").alias("grp_tokens"),
                 F.count(F.lit(1)).alias("grp_docs")))
    keep_tok = (kept.join(t.select(F.col("doc_id").alias("keeper"),
                                   F.col("n_tok").alias("keeper_tokens")),
                          "keeper"))
    return (keep_tok.groupBy("source")
            .agg(F.sum("grp_docs").cast("long").alias("n_docs"),
                 F.sum("grp_tokens").cast("long").alias("tokens_before"),
                 F.sum("keeper_tokens").cast("long")
                 .alias("tokens_after"),
                 F.round(F.lit(1.0)
                         - F.sum("keeper_tokens").cast("double")
                         / F.sum("grp_tokens"), 8)
                 .alias("token_savings")))


@register("llm_token_entropy", f"""
WITH tc AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({TOKS}) AS w FROM documents)
  GROUP BY 1, 2
),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1)
SELECT tc.doc_id, MAX(t.n) AS n_tokens,
       COUNT(*) AS n_types,
       ROUND(CAST(SUM(CAST(
         -(CAST(tc.c AS DOUBLE) / t.n)
          * ln(CAST(tc.c AS DOUBLE) / t.n)
         AS DECIMAL(27,12))) AS DOUBLE), 8) AS token_entropy
FROM tc JOIN tot t ON t.doc_id = tc.doc_id
GROUP BY tc.doc_id
""")
def llm_token_entropy(spark, sf):
    """Per-document token entropy: the smooth repetitiveness signal
    (spam/keyword-stuffed docs sit far below ln(n_types); the hard-
    threshold sibling is llm_repetition's top-token fraction).
    Decimal-exact -p ln p sums over exact counts."""
    docs = read_parallel(spark, sf, "documents")
    tc = (docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    tot = tc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (tc.join(tot, "doc_id")
            .groupBy("doc_id")
            .agg(F.max("n").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_types"),
                 F.round(F.sum((-p * F.log(p))
                               .cast("decimal(27,12)")).cast("double"),
                         8).alias("token_entropy")))


_RP_IN, _RP_OUT = 64, 8


def _rp_signs(j: int) -> list:
    """Deterministic +-1 row j of the projection matrix: the sign of
    md5('rp:{j}:{i}') -- reproducible anywhere, no RNG state."""
    import hashlib
    return [1.0 if int(hashlib.md5(f"rp:{j}:{i}".encode())
                       .hexdigest()[0], 16) < 8 else -1.0
            for i in range(_RP_IN)]


def _rp_sql() -> str:
    """Same left-associated fold as the Spark side, UNROLLED into a
    plain + chain (SQL's + is left-associative, so the IEEE addition
    order -- and therefore every bit -- matches).  The earlier
    list_transform/list_reduce form computed identical values but
    DuckDB evaluates list lambdas with per-row list allocations:
    >300s at the 200k-vector sf10 rung vs ~1s unrolled."""
    import math
    cols = []
    for j in range(_RP_OUT):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {v!r}"
            for i, v in enumerate(_rp_signs(j)))
        cols.append(f"ROUND((0.0 + {terms}) / {math.sqrt(_RP_OUT)!r}, 6)"
                    f" AS proj_{j}")
    return ("SELECT vec_id, " + ",\n       ".join(cols)
            + "\nFROM embeddings")


@register("llm_random_projection", _rp_sql())
def llm_random_projection(spark, sf):
    """Johnson-Lindenstrauss sign projection: 64-d embeddings projected
    to ``_RP_OUT`` dimensions through a DETERMINISTIC +-1 matrix
    (md5-signed, scaled 1/sqrt(k)) -- the distance-preserving
    dimensionality reduction that needs no training and no shipped
    matrix (any worker on any engine regenerates the same signs).
    Each output dim is the oracle's left-associated fold UNROLLED
    into a plain arithmetic chain (element_at * sign literals), so it
    stays inside whole-stage codegen -- the earlier zip_with +
    aggregate lambda form computed the same values but higher-order
    functions run INTERPRETED per row (measured ~40x slower at the
    sf1 rung; the round-7 sf10 sweep timed it out).  Fold order is
    identical (((0 + x1) + x2) + ...), so the result is bit-equal to
    the DuckDB twin; zero shuffles either way."""
    import math
    emb = (read_parallel(spark, sf, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>")
                   .alias("_e")))
    cols = []
    for j in range(_RP_OUT):
        acc = F.lit(0.0)
        for i, v in enumerate(_rp_signs(j), start=1):
            acc = acc + F.element_at("_e", i) * F.lit(float(v))
        cols.append(F.round(acc / math.sqrt(_RP_OUT), 6)
                    .alias(f"proj_{j}"))
    return emb.select("vec_id", *cols)


@register("llm_mutual_knn", f"""
WITH scored AS (
  SELECT q.vec_id AS a, c.vec_id AS b,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 64 AND c.vec_id < 64 AND q.vec_id <> c.vec_id
),
knn AS (
  SELECT a, b FROM (
    SELECT a, b,
           ROW_NUMBER() OVER (PARTITION BY a
                              ORDER BY cos DESC, b) AS r
    FROM scored) WHERE r <= 3
)
SELECT k1.a, k1.b
FROM knn k1 JOIN knn k2 ON k2.a = k1.b AND k2.b = k1.a
WHERE k1.a < k1.b
""")
def llm_mutual_knn(spark, sf):
    """Mutual k-NN graph edges (both endpoints rank each other top-3):
    the symmetric backbone density-based clustering and UMAP-family
    methods build on -- mutuality filters the asymmetric hubness that
    plain kNN graphs suffer in high dimensions.  Built from the same
    two-phase top-k kernel; the mutuality check is a candidate-sized
    self-join."""
    from .operators.similarity import brute_force_topk
    emb = read_parallel(spark, sf, "embeddings") \
        .where(F.col("vec_id") < 64)
    knn = (brute_force_topk(emb, emb, k=3)
           .select(F.col("query_id").alias("a"),
                   F.col("neighbor_id").alias("b"))
           .localCheckpoint())
    rev = knn.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return (knn.join(rev, ["a", "b"], "left_semi")
            .where(F.col("a") < F.col("b")))


_BF_BUDGET = 20000


@register("llm_budget_fill", f"""
WITH q AS (
  SELECT doc_id, len({TOKS}) AS n_tok,
         CAST(len(list_filter({TOKS}, x -> x IN ('the', 'a', 'of',
              'and', 'to'))) AS DOUBLE) / greatest(len({TOKS}), 1)
           AS stop_ratio
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tok, stop_ratio,
         SUM(n_tok) OVER (ORDER BY stop_ratio DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q
)
SELECT doc_id, n_tok, ROUND(stop_ratio, 8) AS quality_proxy,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {_BF_BUDGET}
""")
def llm_budget_fill(spark, sf):
    """Greedy token-budget fill: rank documents by a quality proxy
    (stopword density -- higher = more natural prose here) and keep
    the prefix that fits a ``_BF_BUDGET``-token budget -- the
    selection step between scoring and packing when the training
    budget, not the corpus, is the constraint.  One ranking window +
    cumulative-sum cut."""
    from pyspark.sql import Window as W
    docs = read_parallel(spark, sf, "documents")
    t = tokens(F.col("text"))
    stops = F.size(F.filter(t, lambda x: x.isin(
        "the", "a", "of", "and", "to")))
    q = docs.select("doc_id", F.size(t).alias("n_tok"),
                    (stops.cast("double")
                     / F.greatest(F.size(t), F.lit(1)))
                    .alias("stop_ratio"))
    w = (W.orderBy(F.desc("stop_ratio"), F.asc("doc_id"))
         .rowsBetween(W.unboundedPreceding, 0))
    return (q.withColumn("cum_tokens", F.sum("n_tok").over(w))
            .where(F.col("cum_tokens") <= _BF_BUDGET)
            .select("doc_id", "n_tok",
                    F.round("stop_ratio", 8).alias("quality_proxy"),
                    F.col("cum_tokens").cast("long")
                    .alias("cum_tokens")))


@register("llm_lang_mismatch", f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t),
pred AS (SELECT doc_id, lang AS labeled, {_langid_case()} AS detected
         FROM s)
SELECT labeled, detected, COUNT(*) AS n_docs,
       MIN(doc_id) AS example_doc_id
FROM pred
WHERE labeled != detected AND detected != 'und'
GROUP BY labeled, detected
""")
def llm_lang_mismatch(spark, sf):
    """Label-vs-detector language disagreements (excluding abstains):
    the mislabeled-metadata audit run before trusting upstream lang
    tags for mixture decisions -- each (labeled, detected) cell with a
    reproducible example doc.  Confusion-cell-sized output."""
    from .operators.text import lang_id
    docs = read_parallel(spark, sf, "documents")
    pred = docs.select("doc_id", F.col("lang").alias("labeled"),
                       lang_id(F.col("text")).alias("detected"))
    return (pred.where((F.col("labeled") != F.col("detected"))
                       & (F.col("detected") != "und"))
            .groupBy("labeled", "detected")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("example_doc_id")))


@register("llm_source_overlap", f"""
WITH fp AS (
  SELECT DISTINCT source, {NORM_MD5} AS f FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_docs
FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
GROUP BY 1, 2
""")
def llm_source_overlap(spark, sf):
    """Cross-source duplication matrix: how many exact-duplicate
    documents each PAIR of sources shares (normalized-md5
    fingerprints) -- the provenance-overlap audit that catches one
    crawl re-packaged as another before both are counted as
    independent data.  Fingerprint-keyed join, df naturally bounded
    by sources-per-fingerprint."""
    from .operators.text import fingerprint
    docs = read_parallel(spark, sf, "documents")
    fp = (docs.select("source", fingerprint(F.col("text")).alias("f"))
          .distinct().localCheckpoint())
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    return (a.join(b, "f")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared_docs")))


@register("llm_neardup_distance_audit", f"""
WITH blk AS (
  SELECT DISTINCT doc_id,
         md5(substr(text, i * {_BLK} + 1, {_BLK})) AS bh
  FROM documents,
       unnest(range(0, CAST(floor(length(text) / {_BLK}) AS BIGINT)))
         AS u(i)
),
rare AS (
  SELECT b.doc_id, b.bh FROM blk b
  JOIN (SELECT bh FROM blk GROUP BY bh
        HAVING COUNT(*) <= {_BLK_DF}) r ON r.bh = b.bh
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b ON a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BLK_MIN}
)
SELECT p.id_a, p.id_b,
       levenshtein(da.text, db.text) AS edit_distance,
       ROUND(CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / GREATEST(length(da.text), length(db.text)), 8)
         AS normalized_distance
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
""")
def llm_neardup_distance_audit(spark, sf):
    """Near-duplicate DISTANCE audit: for every block-dedup candidate
    pair, the exact edit distance and its length-normalized form --
    quantifies HOW different the 'duplicates' are (drives the keep vs
    merge vs ignore threshold).  Expensive exact distance runs only on
    the candidate-pair set the cheap block hashes produced -- the
    filter-then-verify discipline end to end."""
    from .operators.dedup import block_dedup_pairs
    docs = read_parallel(spark, sf, "documents").localCheckpoint()
    pairs = block_dedup_pairs(docs, block_chars=_BLK,
                              min_shared=_BLK_MIN,
                              max_block_df=_BLK_DF) \
        .select("id_a", "id_b")
    da = docs.select(F.col("doc_id").alias("id_a"),
                     F.col("text").alias("__ta"))
    db = docs.select(F.col("doc_id").alias("id_b"),
                     F.col("text").alias("__tb"))
    lev = F.levenshtein(F.col("__ta"), F.col("__tb"))
    return (pairs.join(da, "id_a").join(db, "id_b")
            .select("id_a", "id_b", lev.alias("edit_distance"),
                    F.round(lev.cast("double")
                            / F.greatest(F.length("__ta"),
                                         F.length("__tb")), 8)
                    .alias("normalized_distance")))


@register("llm_label_balance", """
WITH c AS (
  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot, COUNT(*) AS k,
             MAX(n) AS nmax, MIN(n) AS nmin
      FROM c)
SELECT (SELECT k FROM t) AS n_classes,
       (SELECT CAST(nmax AS BIGINT) FROM t) AS largest_class,
       (SELECT CAST(nmin AS BIGINT) FROM t) AS smallest_class,
       ROUND(CAST((SELECT nmax FROM t) AS DOUBLE)
             / (SELECT nmin FROM t), 8) AS imbalance_ratio,
       ROUND(exp(CAST(SUM(CAST(
         -(n / (SELECT tot FROM t))
          * ln(n / (SELECT tot FROM t)) AS DECIMAL(27,12)))
         AS DOUBLE)), 8) AS effective_n_classes
FROM c
""")
def llm_label_balance(spark, sf):
    """Label-balance report for the embedding training set: class
    counts, max/min imbalance ratio, and the ENTROPY-effective number
    of classes (exp of label entropy -- 10 balanced classes score 10;
    one dominant class collapses toward 1) -- the check before
    trusting accuracy or sampling uniformly.  Class-sized
    aggregates."""
    emb = read_parallel(spark, sf, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")) \
        .localCheckpoint()
    t = c.agg(F.sum("n").cast("double").alias("tot"),
              F.count(F.lit(1)).alias("k"),
              F.max("n").alias("nmax"),
              F.min("n").alias("nmin")).first()
    p = F.col("n") / t["tot"]
    ent = c.agg(F.sum((-p * F.log(p)).cast("decimal(27,12)"))
                .cast("double").alias("h")).first()["h"]
    import math
    return spark.createDataFrame(
        [(t["k"], t["nmax"], t["nmin"],
          round(t["nmax"] / t["nmin"], 8), round(math.exp(ent), 8))],
        "n_classes long, largest_class long, smallest_class long, "
        "imbalance_ratio double, effective_n_classes double")


_QE_FEEDBACK_K, _QE_TERMS = 10, 10


@register("llm_query_expansion", f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS w FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len AS DECIMAL(27,4))) AS DOUBLE)
         / COUNT(*) AS avglen
  FROM dl
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tok
  WHERE w IN {repr(tuple(_BM25_TERMS))} GROUP BY 1, 2
),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(
           ln(1.0 + ((SELECT n_docs FROM stats) - d.df + 0.5)
                    / (d.df + 0.5))
           * (t.tf * ({_BM25_K1!r} + 1.0))
           / (t.tf + {_BM25_K1!r}
              * (1.0 - {_BM25_B!r}
                 + {_BM25_B!r} * l.len / (SELECT avglen FROM stats)))
           AS DECIMAL(27,12))) AS DOUBLE) AS score
  FROM tf t
  JOIN df d ON d.w = t.w
  JOIN dl l ON l.doc_id = t.doc_id
  GROUP BY t.doc_id
),
feedback AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
             AS r
    FROM scored) WHERE r <= {_QE_FEEDBACK_K}
),
cand AS (
  SELECT t.w, COUNT(*) AS fb_tf,
         COUNT(DISTINCT t.doc_id) AS fb_df
  FROM tok t JOIN feedback f ON f.doc_id = t.doc_id
  WHERE t.w NOT IN {repr(tuple(_BM25_TERMS))}
    AND length(t.w) >= 4
  GROUP BY t.w
),
gdf AS (
  SELECT w, COUNT(DISTINCT doc_id) AS g FROM tok GROUP BY 1
)
SELECT c.w AS expansion_term, c.fb_tf, c.fb_df,
       ROUND(c.fb_tf * ln(CAST((SELECT n_docs FROM stats) AS DOUBLE)
                          / g.g), 8) AS rm_weight,
       ROW_NUMBER() OVER (
         ORDER BY c.fb_tf * ln(CAST((SELECT n_docs FROM stats)
                                    AS DOUBLE) / g.g) DESC, c.w)
         AS term_rank
FROM cand c JOIN gdf g ON g.w = c.w
QUALIFY term_rank <= {_QE_TERMS}
""")
def llm_query_expansion(spark, sf):
    """Pseudo-relevance-feedback query expansion (RM3-lite): take the
    BM25 top-``_QE_FEEDBACK_K`` documents for the seed query, rank
    their terms by feedback-frequency x corpus idf, and emit the top
    expansion candidates -- the zero-training recall booster classic
    IR stacks run before a second retrieval pass.  Composes the
    verified BM25 scorer with token-sized counting; only query-term
    postings and feedback-doc tokens shuffle."""
    from pyspark.sql import Window as W
    import math
    docs = read_parallel(spark, sf, "documents")
    tok = docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
    tok = tok.localCheckpoint()
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("len").cast("decimal(27,4)")).cast("double")
         / F.count(F.lit(1))).alias("avglen"))
    tf = (tok.where(F.col("w").isin(*_BM25_TERMS))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    j = (tf.join(F.broadcast(dfreq), "w").join(dl, "doc_id")
         .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    term = (idf * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("len")
                                   / F.col("avglen"))))
    scored = (j.groupBy("doc_id")
              .agg(F.sum(term.cast("decimal(27,12)")).cast("double")
                   .alias("score")))
    wfb = W.orderBy(F.desc("score"), F.asc("doc_id"))
    feedback = (scored.withColumn("__r", F.row_number().over(wfb))
                .where(F.col("__r") <= _QE_FEEDBACK_K)
                .select("doc_id"))
    cand = (tok.join(feedback, "doc_id")
            .where(~F.col("w").isin(*_BM25_TERMS)
                   & (F.length("w") >= 4))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("fb_tf"),
                 F.countDistinct("doc_id").alias("fb_df")))
    gdf = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("g"))
    n_docs = dl.count()
    weight = (F.col("fb_tf")
              * F.log(F.lit(float(n_docs)) / F.col("g")))
    return (cand.join(gdf, "w")
            .withColumn("rm_weight", F.round(weight, 8))
            .withColumn("term_rank", F.row_number().over(
                W.orderBy(F.desc(weight), F.asc("w"))))
            .where(F.col("term_rank") <= _QE_TERMS)
            .select(F.col("w").alias("expansion_term"), "fb_tf",
                    "fb_df", "rm_weight", "term_rank"))


_BURST_TOP, _BURST_OUT = 100, 20


@register("llm_term_burstiness", f"""
WITH tc AS (
  SELECT doc_id, w, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({TOKS}) AS w FROM documents)
  GROUP BY 1, 2
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tc),
top AS (
  SELECT w, CAST(SUM(tf) AS BIGINT) AS total_tf,
         COUNT(*) AS n_docs_with,
         CAST(SUM(tf * tf) AS BIGINT) AS sum_sq
  FROM tc GROUP BY w
  ORDER BY SUM(tf) DESC, w LIMIT {_BURST_TOP}
),
vmr AS (
  SELECT w, total_tf, n_docs_with,
         (CAST(sum_sq AS DOUBLE)
          - CAST(total_tf AS DOUBLE) * total_tf / (SELECT n FROM nd))
         / ((SELECT n FROM nd) - 1)
         / (CAST(total_tf AS DOUBLE) / (SELECT n FROM nd)) AS v
  FROM top
)
SELECT w AS term, total_tf, n_docs_with,
       ROUND(v, 8) AS burstiness_vmr, burst_rank
FROM (SELECT w, total_tf, n_docs_with, v,
             ROW_NUMBER() OVER (ORDER BY v DESC, w) AS burst_rank
      FROM vmr)
WHERE burst_rank <= {_BURST_OUT}
""")
def llm_term_burstiness(spark, sf):
    """Term burstiness (variance-to-mean ratio over per-doc counts,
    zeros included): content words CLUMP (high VMR -- a doc about a
    topic repeats its terms) while function words spread evenly
    (VMR ~ 1, Poisson) -- the dispersion statistic behind stopword
    discovery and keyword weighting beyond raw idf.  Exact integer
    tf moments over the top-100 frequent terms."""
    docs = read_parallel(spark, sf, "documents")
    tc = (docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint())
    n = tc.select("doc_id").distinct().count()
    from pyspark.sql import Window as W
    top = (tc.groupBy("w")
           .agg(F.sum("tf").cast("long").alias("total_tf"),
                F.count(F.lit(1)).alias("n_docs_with"),
                F.sum(F.col("tf") * F.col("tf")).cast("long")
                .alias("sum_sq"))
           .orderBy(F.desc("total_tf"), F.asc("w")).limit(_BURST_TOP))
    mean = F.col("total_tf").cast("double") / n
    var = ((F.col("sum_sq").cast("double")
            - F.col("total_tf").cast("double") * F.col("total_tf") / n)
           / (n - 1))
    vmr = var / mean
    return (top.withColumn("v", vmr)
            .withColumn("burst_rank", F.row_number().over(
                W.orderBy(F.desc("v"), F.asc("w"))))
            .where(F.col("burst_rank") <= _BURST_OUT)
            .select(F.col("w").alias("term"), "total_tf",
                    "n_docs_with",
                    F.round("v", 8).alias("burstiness_vmr"),
                    "burst_rank"))


_SWEEP_THRESHOLDS = (0.5, 0.7, 0.9)


@register("llm_dedup_threshold_sweep", f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL},
{_JACCARD_CTES.lstrip()},
ths AS (SELECT unnest({list(_SWEEP_THRESHOLDS)!r}) AS th)
SELECT ths.th AS threshold,
       COUNT(CASE WHEN j.jaccard >= ths.th THEN 1 END) AS n_pairs,
       COUNT(DISTINCT CASE WHEN j.jaccard >= ths.th
                           THEN j.id_b END) AS n_docs_removed
FROM ths LEFT JOIN jac j ON j.jaccard >= ths.th
GROUP BY ths.th
""")
def llm_dedup_threshold_sweep(spark, sf):
    """Dedup threshold-tuning sweep: pair and removed-doc counts at
    jaccard >= 0.5 / 0.7 / 0.9 from ONE scoring pass over the LSH
    candidate set -- the aggressiveness curve a curation team reads
    before fixing the production threshold (score once, aggregate per
    threshold; never re-run the pipeline per setting)."""
    from .operators.dedup import ngram_jaccard_dedup
    docs = read_parallel(spark, sf, "documents")
    scored = (minhash_lsh_dedup(docs, num_hashes=_NUM_HASHES,
                                bands=_BANDS, threshold=0.0,
                                max_bucket_size=_LSH_BUCKET_CAP)
              .select("id_a", "id_b", "jaccard").localCheckpoint())
    ths = spark.createDataFrame([(t,) for t in _SWEEP_THRESHOLDS],
                                "th double")
    return (F.broadcast(ths)
            .join(scored, scored.jaccard >= ths.th, "left")
            .groupBy(F.col("th").alias("threshold"))
            .agg(F.count(F.when(F.col("jaccard") >= F.col("th"), 1))
                 .alias("n_pairs"),
                 F.countDistinct(F.when(F.col("jaccard")
                                        >= F.col("th"),
                                        F.col("id_b")))
                 .alias("n_docs_removed")))


# ---------------------------------------------------------------------------
# round 4: data-loader & curriculum surface
# ---------------------------------------------------------------------------

_SHUF_EPOCHS, _SHUF_SHARDS = 3, 8


@register("llm_epoch_shuffle", f"""
WITH e AS (SELECT unnest(range(0, {_SHUF_EPOCHS})) AS epoch)
SELECT d.doc_id, CAST(e.epoch AS INT) AS epoch,
       CAST(d.doc_id % {_SHUF_SHARDS} AS INT) AS shard,
       ROW_NUMBER() OVER (
         PARTITION BY e.epoch, d.doc_id % {_SHUF_SHARDS}
         ORDER BY md5(CAST(e.epoch AS VARCHAR) || '|'
                      || CAST(d.doc_id AS VARCHAR)), d.doc_id)
         AS position
FROM documents d CROSS JOIN e
""")
def llm_epoch_shuffle(spark, sf):
    """Deterministic per-epoch training-data shuffle: every epoch
    re-orders each loader shard by a replayable md5 coin keyed on
    (epoch, doc_id) -- the coordination-free epoch shuffle a
    distributed data loader needs (any worker recomputes its own
    order; no shared RNG state, no shuffle service).  Shard
    assignment stays fixed (doc_id mod world size) and only the
    WITHIN-shard order changes per epoch, exactly like a
    DistributedSampler with set_epoch.

    Scale shape: one explode (x epochs) + one window per (epoch,
    shard) partition -- no global sort; shards are the
    parallelism unit, so the plan is a single hash shuffle on keys
    that are uniform by construction."""
    epochs = F.array(*[F.lit(e) for e in range(_SHUF_EPOCHS)])
    coin = F.md5(F.concat(F.col("epoch").cast("string"), F.lit("|"),
                          F.col("doc_id").cast("string")))
    w = (Window.partitionBy("epoch", "shard")
         .orderBy(coin.asc(), F.col("doc_id").asc()))
    return (read_parallel(spark, sf, "documents")
            .select("doc_id", F.explode(epochs).alias("epoch"))
            .withColumn("epoch", F.col("epoch").cast("int"))
            .withColumn("shard",
                        F.pmod(F.col("doc_id"), F.lit(_SHUF_SHARDS))
                        .cast("int"))
            .withColumn("position", F.row_number().over(w).cast("long")))


_CURR_PHASES = 4


@register("llm_curriculum_order", f"""
WITH tk AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
h AS (
  SELECT n_tokens, COUNT(*) AS cnt FROM tk GROUP BY 1
),
c AS (
  SELECT n_tokens,
         SUM(cnt) OVER (ORDER BY n_tokens
                        ROWS UNBOUNDED PRECEDING) - cnt AS c_lt
  FROM h
),
n AS (SELECT COUNT(*) AS total FROM tk)
SELECT tk.doc_id, tk.n_tokens,
       CAST((c.c_lt
             + ROW_NUMBER() OVER (PARTITION BY tk.n_tokens
                                  ORDER BY tk.doc_id) - 1)
            AS BIGINT) AS curriculum_rank,
       CAST(({_CURR_PHASES} * (c.c_lt
             + ROW_NUMBER() OVER (PARTITION BY tk.n_tokens
                                  ORDER BY tk.doc_id) - 1))
            // n.total AS INT) AS phase
FROM tk JOIN c ON c.n_tokens = tk.n_tokens CROSS JOIN n
""")
def llm_curriculum_order(spark, sf):
    """Curriculum construction: rank documents easiest-first by a
    difficulty proxy (token count -- short docs first, the standard
    length curriculum) and cut the corpus into ``_CURR_PHASES``
    training phases.  The global rank is NOT a global sort: the
    difficulty key is discrete, so rank = (docs with smaller key,
    from a key-sized cumulative histogram broadcast back) + (position
    among equal-key docs, a partitioned window).  Phase = integer
    rank*phases DIV N.  That is the histogram-quantile pattern that
    scales to 100 TB where NTILE's single-ordered-window cannot.
    All integer arithmetic -- engine-exact."""
    from .operators.text import token_count
    tk = (read_parallel(spark, sf, "documents")
          .select("doc_id", token_count(F.col("text")).cast("long")
                  .alias("n_tokens")))
    h = tk.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (Window.orderBy("n_tokens")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = h.select("n_tokens",
                 (F.sum("cnt").over(wcum) - F.col("cnt")).alias("c_lt"))
    n = tk.agg(F.count(F.lit(1)).alias("total"))
    wtie = Window.partitionBy("n_tokens").orderBy("doc_id")
    ranked = (tk.join(F.broadcast(c), "n_tokens")
              .withColumn("_rn", F.row_number().over(wtie) - 1)
              .withColumn("curriculum_rank",
                          (F.col("c_lt") + F.col("_rn")).cast("long")))
    return (ranked.crossJoin(F.broadcast(n))
            .select("doc_id", "n_tokens", "curriculum_rank",
                    F.expr(f"({_CURR_PHASES} * curriculum_rank) "
                           "DIV total").cast("int").alias("phase")))


@register("llm_char_ppl", """
WITH t AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS txt
  FROM documents
),
bg AS (
  SELECT doc_id, substr(txt, CAST(i AS INT), 2) AS bigram,
         substr(txt, CAST(i AS INT), 1) AS c1
  FROM t, unnest(range(1, length(txt))) AS u(i)
  WHERE length(txt) >= 2
),
bc AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY 1),
uc AS (SELECT c1, SUM(cnt) AS total
       FROM (SELECT substr(bigram, 1, 1) AS c1, cnt FROM bc)
       GROUP BY 1),
v AS (SELECT COUNT(DISTINCT substr(bigram, 2, 1)) AS vsize FROM bc)
SELECT g.doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
         -ln((bc.cnt + 1.0) / (uc.total + v.vsize))
         AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 8) AS avg_nll
FROM bg g
JOIN bc ON bc.bigram = g.bigram
JOIN uc ON uc.c1 = g.c1
CROSS JOIN v
GROUP BY g.doc_id
""")
def llm_char_ppl(spark, sf):
    """Perplexity-proxy quality scoring (the CCNet-style filter): a
    character-bigram language model TRAINED ON THE CORPUS scores every
    document's average negative log-likelihood -- unusual character
    statistics (boilerplate, encoding damage, non-prose) surface as
    high avg_nll without any external model.  Add-one smoothing over
    the observed charset.

    Scale shape: the char explode is linear in bytes (the one
    unavoidable pass); the bigram and context-count tables collapse to
    charset^2 rows -- broadcast-sized at ANY corpus size -- so scoring
    is two broadcast joins + one per-doc decimal-exact aggregate.  No
    token-vocabulary table, no external LM shipped."""
    t = (read_parallel(spark, sf, "documents")
         .select("doc_id",
                 F.lower(F.regexp_replace(F.trim(F.col("text")),
                                          r"\s+", " ")).alias("txt"))
         .where(F.length("txt") >= 2))
    bg = (t.select("doc_id",
                   F.explode(F.sequence(
                       F.lit(1), F.length("txt") - 1)).alias("i"),
                   F.col("txt"))
          .select("doc_id",
                  F.expr("substring(txt, i, 2)").alias("bigram"),
                  F.expr("substring(txt, i, 1)").alias("c1")))
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    uc = (bc.select(F.substring("bigram", 1, 1).alias("c1"), "cnt")
          .groupBy("c1").agg(F.sum("cnt").alias("total")))
    v = bc.agg(F.countDistinct(F.substring("bigram", 2, 1))
               .alias("vsize"))
    nll = -F.log((F.col("cnt") + F.lit(1.0))
                 / (F.col("total") + F.col("vsize")))
    return (bg.join(F.broadcast(bc), "bigram")
            .join(F.broadcast(uc), "c1")
            .crossJoin(F.broadcast(v))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(nll.cast("decimal(27,12)"))
                         .cast("double") / F.count(F.lit(1)), 8)
                 .alias("avg_nll")))


# ---------------------------------------------------------------------------
# round 4 batch 2: retrieval evaluation, incremental dedup, audits,
# shard manifests
# ---------------------------------------------------------------------------

_RE_K, _RE_NQ = 10, 32

#: 1/log2(rank+1) discounts and their prefix sums, as 12-decimal
#: literals shared VERBATIM by the Spark expression and the oracle so
#: the decimal sums are bit-identical on both engines
_RE_DISCOUNTS = [
    "1.0", "0.630929753571", "0.5", "0.430676558073", "0.386852807235",
    "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318"]
_RE_IDCG = [
    "1.0", "1.630929753571", "2.130929753571", "2.561606311644",
    "2.948459118879", "3.304666305987", "3.637999639320",
    "3.953464516106", "4.254494511770", "4.543559338088"]

_DCG_CASE = ("CAST(CASE rank "
             + " ".join(f"WHEN {i + 1} THEN {d}"
                        for i, d in enumerate(_RE_DISCOUNTS))
             + " END AS DECIMAL(20,12))")


def _idcg_case(operand: str) -> str:
    return ("CAST(CASE LEAST(" + operand + f", {_RE_K}) "
            + " ".join(f"WHEN {i + 1} THEN {v}"
                       for i, v in enumerate(_RE_IDCG))
            + " END AS DECIMAL(20,12))")


@register("llm_retrieval_eval", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
           FROM embeddings WHERE vec_id < {_RE_NQ}),
lc AS (SELECT label, COUNT(*) AS n_lab FROM embeddings GROUP BY 1),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
         c.label AS nlabel,
         {_cos_sql('q.qv', 'c.embedding')} AS cos
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, qlabel,
         CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
),
per AS (
  SELECT query_id, qlabel,
         SUM(rel) AS hits,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         COALESCE(SUM(CASE WHEN rel = 1 THEN {_DCG_CASE} END),
                  CAST(0 AS DECIMAL(20,12))) AS dcg
  FROM ranked WHERE rank <= {_RE_K}
  GROUP BY 1, 2
)
SELECT p.query_id,
       CAST(l.n_lab - 1 AS BIGINT) AS n_rel,
       CAST(p.hits AS BIGINT) AS hits_at_k,
       CAST(p.hits AS DOUBLE) / {_RE_K} AS precision_at_k,
       CAST(p.hits AS DOUBLE) / (l.n_lab - 1) AS recall_at_k,
       COALESCE(1.0 / p.first_rel, 0.0) AS mrr_at_k,
       ROUND(CAST(p.dcg AS DOUBLE)
             / CAST({_idcg_case('l.n_lab - 1')} AS DOUBLE), 8)
         AS ndcg_at_k
FROM per p JOIN lc l ON l.label = p.qlabel
""")
def llm_retrieval_eval(spark, sf):
    """Retrieval-quality evaluation over exact cosine top-10: per
    query (32 held-out vectors, relevance = same ``label``), emit
    hits@k, precision@k, recall@k, MRR@k, and nDCG@k -- the metric
    suite a training-data pipeline runs to validate its retrieval
    index before using it for dedup or curation.

    Engine-exactness: the log2 discounts and their prefix sums (IDCG)
    are shared 12-decimal literals summed as DECIMAL, never computed
    via transcendentals at query time; every ratio is an exact
    int/int -> double division.

    Scale shape: the scoring is the llm_ann_brute broadcast plan (at
    100 TB, swap in the IVF/LSH candidate path -- metrics are
    downstream of ANY ranked list); metrics are one partial-agg
    groupBy over Q * k rows, and the label-count table is
    dimension-sized and broadcast."""
    from .operators.similarity import cosine, topk_per_query
    emb = read_parallel(spark, sf, "embeddings")
    q = (emb.where(F.col("vec_id") < _RE_NQ)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("__qv"),
                 F.col("label").alias("qlabel")))
    lc = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    scored = (emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("__cv"),
                         F.col("label").alias("nlabel"))
              .crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "qlabel", "neighbor_id", "nlabel",
                      cosine(F.col("__qv"), F.col("__cv")).alias("cos")))
    ranked = (topk_per_query(scored, _RE_K)
              .select("query_id", "qlabel", "rank",
                      F.when(F.col("nlabel") == F.col("qlabel"), 1)
                      .otherwise(0).alias("rel")))
    per = (ranked.groupBy("query_id", "qlabel")
           .agg(F.sum("rel").alias("hits"),
                F.min(F.when(F.col("rel") == 1, F.col("rank")))
                .alias("first_rel"),
                F.coalesce(
                    F.sum(F.when(F.col("rel") == 1, F.expr(_DCG_CASE))),
                    F.lit(0).cast("decimal(20,12)")).alias("dcg")))
    return (per.join(F.broadcast(lc.withColumnRenamed("label", "qlabel")),
                     "qlabel")
            .select(
                "query_id",
                (F.col("n_lab") - 1).cast("long").alias("n_rel"),
                F.col("hits").cast("long").alias("hits_at_k"),
                (F.col("hits").cast("double") / _RE_K)
                .alias("precision_at_k"),
                (F.col("hits").cast("double") / (F.col("n_lab") - 1))
                .alias("recall_at_k"),
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0))
                .alias("mrr_at_k"),
                F.round(F.col("dcg").cast("double")
                        / F.expr(_idcg_case("n_lab - 1"))
                        .cast("double"), 8).alias("ndcg_at_k")))


@register("llm_incremental_dedup", f"""
WITH f AS (
  SELECT doc_id, {NORM_MD5} AS fingerprint,
         doc_id % 2 = 0 AS in_index
  FROM documents
),
idx AS (SELECT DISTINCT fingerprint FROM f WHERE in_index),
inc AS (SELECT doc_id, fingerprint FROM f WHERE NOT in_index),
fb AS (SELECT fingerprint, MIN(doc_id) AS first_id
       FROM inc GROUP BY 1)
SELECT i.doc_id, i.fingerprint,
       CASE WHEN x.fingerprint IS NOT NULL THEN 'dup_of_index'
            WHEN i.doc_id > b.first_id THEN 'dup_in_batch'
            ELSE 'admitted' END AS status
FROM inc i
LEFT JOIN idx x ON x.fingerprint = i.fingerprint
JOIN fb b ON b.fingerprint = i.fingerprint
""")
def llm_incremental_dedup(spark, sf):
    """Incremental (two-batch) dedup: admit a new crawl batch against
    an EXISTING corpus index without re-deduplicating the corpus --
    the steady-state shape of a production pipeline, where each
    incoming batch is checked against the fingerprints of everything
    already admitted.  Index = even doc_ids, batch = odd; each
    incoming doc is classified ``dup_of_index`` (fingerprint already
    admitted), ``dup_in_batch`` (an earlier doc in the same batch has
    it), or ``admitted``.

    Scale shape: only 32-byte fingerprints move -- ONE scan and ONE
    fingerprint-partitioned shuffle compute both signals as window
    aggregates (index membership = any in-index row in the
    partition, in-batch first = min incoming id), instead of a
    distinct + semi-join + groupBy + join-back that reads the corpus
    three times.  At 100 TB the fingerprint shuffle is the same
    exchange the dedup family already pays."""
    from .operators.text import fingerprint
    f = (read_parallel(spark, sf, "documents")
         .select("doc_id", fingerprint(F.col("text")).alias("fingerprint"),
                 (F.col("doc_id") % 2 == 0).alias("in_index")))
    w = Window.partitionBy("fingerprint")
    g = f.select(
        "doc_id", "fingerprint", "in_index",
        (F.max(F.col("in_index").cast("int")).over(w) == 1).alias("__hit"),
        F.min(F.when(~F.col("in_index"), F.col("doc_id"))).over(w)
        .alias("__first"))
    return (g.where(~F.col("in_index"))
            .select("doc_id", "fingerprint",
                    F.when(F.col("__hit"), "dup_of_index")
                    .when(F.col("doc_id") > F.col("__first"),
                          "dup_in_batch")
                    .otherwise("admitted").alias("status")))


_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
    for i in range(_NUM_HASHES))


@register("llm_minhash_estimate_audit", f"""
WITH {SHINGLE_CTE},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL},
est AS (
  SELECT c.id_a, c.id_b,
         CAST({_EST_MATCH_SQL} AS DOUBLE) / {_NUM_HASHES}
           AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
),
{_JACCARD_CTES.lstrip()}
SELECT e.id_a, e.id_b, e.est_jaccard,
       COALESCE(j.jaccard, 0.0) AS exact_jaccard,
       ROUND(ABS(e.est_jaccard - COALESCE(j.jaccard, 0.0)), 8)
         AS abs_err
FROM est e
LEFT JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b
""")
def llm_minhash_estimate_audit(spark, sf):
    """MinHash estimator audit: for every LSH candidate pair, compare
    the signature-estimated Jaccard (matching components / 12) with
    the exact shingle Jaccard -- the calibration report that tells
    you whether the signature width is adequate BEFORE trusting the
    estimate to drive deletion at scale.

    Scale shape: candidates come from the capped banded buckets (the
    production path), the estimate is a 12-term integer comparison on
    two broadcast-joined signature rows, and the exact Jaccard runs
    only over candidate docs (pair_jaccard's semi-join prune) --
    never the corpus."""
    from .operators.dedup import (lsh_bands, lsh_candidate_pairs,
                                  minhash_signatures, pair_jaccard,
                                  shingle_sets)
    docs = read_parallel(spark, sf, "documents")
    sh = shingle_sets(docs, "doc_id", "text", k=3)
    sig = minhash_signatures(sh, "doc_id", num_hashes=_NUM_HASHES)
    bands = lsh_bands(sig, "doc_id", _BANDS, _ROWS_PER_BAND)
    cand = lsh_candidate_pairs(bands, "doc_id",
                               max_bucket_size=_LSH_BUCKET_CAP)
    est = (cand
           .join(sig.select(F.col("doc_id").alias("id_a"),
                            *[F.col(f"h{i}").alias(f"a{i}")
                              for i in range(_NUM_HASHES)]), "id_a")
           .join(sig.select(F.col("doc_id").alias("id_b"),
                            *[F.col(f"h{i}").alias(f"b{i}")
                              for i in range(_NUM_HASHES)]), "id_b")
           .select("id_a", "id_b",
                   (sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                        for i in range(_NUM_HASHES)).cast("double")
                    / _NUM_HASHES).alias("est_jaccard")))
    exact = pair_jaccard(cand, sh, "doc_id")
    return (est.join(exact, ["id_a", "id_b"], "left")
            .select("id_a", "id_b", "est_jaccard",
                    F.coalesce(F.col("jaccard"), F.lit(0.0))
                    .alias("exact_jaccard"),
                    F.round(F.abs(F.col("est_jaccard")
                                  - F.coalesce(F.col("jaccard"),
                                               F.lit(0.0))), 8)
                    .alias("abs_err")))


_MAN_SHARDS = 16

#: 24-bit integer from the first 6 hex chars of an md5 -- built from
#: position() folds so the identical text works on both engines (no
#: hex-parse builtin shared by Spark SQL and DuckDB)
_HEX24_SQL = " + ".join(
    f"(POSITION(SUBSTR(fp, {j + 1}, 1) IN '0123456789abcdef') - 1)"
    f" * {16 ** (5 - j)}" for j in range(6))


@register("llm_shard_manifest", f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % {_MAN_SHARDS} AS INT) AS shard,
         CAST(len({TOKS}) AS BIGINT) AS n_tokens, n_chars,
         {NORM_MD5} AS fp
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       CAST(SUM({_HEX24_SQL}) AS BIGINT) AS checksum
FROM d GROUP BY shard
""")
def llm_shard_manifest(spark, sf):
    """Output-shard manifest (the WebDataset/tar-shard bookkeeping a
    training job consumes): assign every document to one of
    ``_MAN_SHARDS`` output shards and emit per-shard row counts,
    token/byte totals, id ranges, and an ORDER-INSENSITIVE content
    checksum (sum of 24-bit fingerprint prefixes -- a commutative
    integer fold, so the manifest is identical no matter how the
    shard's rows were partitioned when written).

    Scale shape: one partial-agg groupBy on the shard key; nothing
    but per-doc integers shuffle.  The commutative checksum is the
    point -- an order-sensitive digest (md5 of concatenated rows)
    would force a per-shard global sort."""
    from .operators.text import fingerprint, token_count
    d = (read_parallel(spark, sf, "documents")
         .select("doc_id",
                 F.pmod(F.col("doc_id"), F.lit(_MAN_SHARDS)).cast("int")
                 .alias("shard"),
                 token_count(F.col("text")).cast("long")
                 .alias("n_tokens"),
                 "n_chars",
                 fingerprint(F.col("text")).alias("fp")))
    return (d.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id"),
                 F.sum(F.expr(_HEX24_SQL)).cast("long")
                 .alias("checksum")))


_RESUME_STEP = 137  # global steps already consumed at the checkpoint

@register("llm_resume_skip", f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % {_SHUF_SHARDS} AS INT) AS shard
  FROM documents
),
sz AS (SELECT shard, COUNT(*) AS n FROM d GROUP BY 1),
st AS (
  SELECT shard, n,
         CAST({_RESUME_STEP} // n AS INT) AS epoch,
         CAST({_RESUME_STEP} % n AS BIGINT) AS pos
  FROM sz
),
ord AS (
  SELECT d.doc_id, d.shard, s.epoch,
         ROW_NUMBER() OVER (
           PARTITION BY d.shard
           ORDER BY md5(CAST(s.epoch AS VARCHAR) || '|'
                        || CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS position
  FROM d JOIN st s ON s.shard = d.shard
)
SELECT o.shard, CAST(s.n AS BIGINT) AS shard_size, s.epoch,
       CAST(s.pos + 1 AS BIGINT) AS next_position,
       o.doc_id AS next_doc_id
FROM ord o
JOIN st s ON s.shard = o.shard AND o.position = s.pos + 1
""")
def llm_resume_skip(spark, sf):
    """Checkpoint-resume for the deterministic data loader: after
    ``_RESUME_STEP`` global steps (one doc per shard per step),
    compute -- WITHOUT replaying the stream -- which epoch each
    loader shard is in, the offset inside that epoch, and the exact
    next document it will emit.  Works because the epoch order is a
    replayable md5(epoch, id) coin (llm_epoch_shuffle), so resume
    state is one integer divmod per shard plus one windowed lookup.

    Scale shape: shard sizes are a dimension-sized aggregate; the
    next-doc lookup is one per-shard window over the current epoch's
    coin order -- O(shard) work and O(1) checkpoint state, versus the
    naive resume that re-streams S batches."""
    shard = F.pmod(F.col("doc_id"), F.lit(_SHUF_SHARDS)).cast("int")
    d = (read_parallel(spark, sf, "documents")
         .select("doc_id", shard.alias("shard")))
    sz = d.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    st = sz.select(
        "shard", "n",
        F.expr(f"{_RESUME_STEP} DIV n").cast("int").alias("epoch"),
        F.pmod(F.lit(_RESUME_STEP), F.col("n")).cast("long").alias("pos"))
    coin = F.md5(F.concat(F.col("epoch").cast("string"), F.lit("|"),
                          F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy(coin.asc(),
                                            F.col("doc_id").asc())
    ordd = (d.join(F.broadcast(st), "shard")
            .withColumn("position", F.row_number().over(w)))
    return (ordd.where(F.col("position") == F.col("pos") + 1)
            .select("shard", F.col("n").cast("long").alias("shard_size"),
                    "epoch",
                    (F.col("pos") + 1).cast("long").alias("next_position"),
                    F.col("doc_id").alias("next_doc_id")))


#: per-language mixture strides: stride = LCM(weights)/weight, so the
#: k-th doc of language L is scheduled at integer virtual time
#: (k+1)*stride -- classic stride scheduling, exactly proportional to
#: the weights over any long prefix
_MIX_STRIDES = {"en": 1, "zh": 2, "es": 3, "de": 3, "fr": 6}
_MIX_TAKE = 200

_MIX_STRIDE_CASE = ("CASE lang "
                    + " ".join(f"WHEN '{l}' THEN {s}"
                               for l, s in sorted(_MIX_STRIDES.items()))
                    + " ELSE 12 END")


@register("llm_interleave_mixture", f"""
WITH k AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS k,
         {_MIX_STRIDE_CASE} AS stride
  FROM documents
),
p AS (
  SELECT doc_id, lang, k, CAST(k * stride AS BIGINT) AS vtime
  FROM k
),
top AS (
  SELECT doc_id, lang, k, vtime,
         ROW_NUMBER() OVER (ORDER BY vtime, lang, k) AS position
  FROM p
)
SELECT CAST(position AS BIGINT) AS position, doc_id, lang,
       CAST(k AS BIGINT) AS k, vtime
FROM top WHERE position <= {_MIX_TAKE}
""")
def llm_interleave_mixture(spark, sf):
    """Deterministic weighted dataset interleaving (stride
    scheduling): each language is a sub-dataset with a target mixture
    weight; the k-th doc of language L is scheduled at integer
    virtual time k * (LCM/weight), and the merged stream reads docs
    in virtual-time order -- over any prefix the language proportions
    converge to the weights, with no RNG and no coordination (any
    worker can compute its own slice).  Emits the next
    ``_MIX_TAKE``-doc schedule from the front of the stream.

    Scale shape: per-language ranks are partitioned windows; the
    global merge order is taken as a bounded top-k
    (TakeOrderedAndProject -- never a full sort), because a loader
    only ever materializes the next batch window, and all virtual
    times are exact integers."""
    stride = F.expr(_MIX_STRIDE_CASE)
    wk = Window.partitionBy("lang").orderBy("doc_id")
    p = (read_parallel(spark, sf, "documents")
         .select("doc_id", "lang")
         .withColumn("k", F.row_number().over(wk))
         .withColumn("vtime", (F.col("k") * stride).cast("long")))
    top = (p.orderBy("vtime", "lang", "k").limit(_MIX_TAKE))
    w = Window.orderBy("vtime", "lang", "k")  # bounded: _MIX_TAKE rows
    return (top.withColumn("position",
                           F.row_number().over(w).cast("long"))
            .select("position", "doc_id", "lang",
                    F.col("k").cast("long").alias("k"), "vtime"))


@register("llm_packing_efficiency", f"""
WITH t AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len({TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT shard, n_tokens,
         CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_first,
         CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS seq_last
  FROM c
)
SELECT CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(seq_last) + 1 AS BIGINT) AS n_seqs,
       CAST((MAX(seq_last) + 1) * {_PACK_BUDGET} - SUM(n_tokens)
            AS BIGINT) AS pad_tokens,
       CAST((MAX(seq_last) + 1) * {_PACK_BUDGET} - SUM(n_tokens)
            AS DOUBLE)
         / CAST((MAX(seq_last) + 1) * {_PACK_BUDGET} AS DOUBLE)
         AS pad_frac,
       CAST(SUM(CASE WHEN seq_first <> seq_last THEN 1 ELSE 0 END)
            AS BIGINT) AS n_straddling
FROM p GROUP BY shard
""")
def llm_packing_efficiency(spark, sf):
    """Packing-efficiency report over the concat-and-chunk packer:
    per shard, sequences produced, padding tokens (only the final
    partial chunk pads -- the whole point of concat-and-chunk),
    padding fraction, and how many documents straddle a sequence
    boundary (the cross-attention-contamination count that decides
    whether you need attention masking between packed docs).

    Scale shape: one partial-agg groupBy over the packer's output --
    integer arithmetic end to end, same window as the packer
    itself."""
    from .operators.sampling import pack_sequences
    from .operators.text import token_count
    docs = (read_parallel(spark, sf, "documents")
            .select("doc_id",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens")))
    p = pack_sequences(docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)
    b = F.lit(_PACK_BUDGET)
    n_seqs = F.max("seq_last") + 1
    return (p.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 n_seqs.cast("long").alias("n_seqs"),
                 (n_seqs * b - F.sum("n_tokens")).cast("long")
                 .alias("pad_tokens"),
                 ((n_seqs * b - F.sum("n_tokens")).cast("double")
                  / (n_seqs * b).cast("double")).alias("pad_frac"),
                 F.sum(F.when(F.col("seq_first") != F.col("seq_last"), 1)
                       .otherwise(0)).cast("long").alias("n_straddling")))


_CUR_MIN_TOKENS, _CUR_MIN_QUALITY = 15, 0.45


@register("llm_curation_pipeline", f"""
WITH fp AS (
  SELECT doc_id, {NORM_MD5} AS fingerprint FROM documents
),
firsts AS (
  SELECT fingerprint, MIN(doc_id) AS first_id FROM fp GROUP BY 1
),{_QUALITY_M_CTE.format(toks=TOKS, stop=_STOP_EN)}
SELECT f.doc_id,
       CASE WHEN f.doc_id > fs.first_id THEN 'exact_dup'
            WHEN mm.n_tok < {_CUR_MIN_TOKENS} THEN 'too_short'
            WHEN qq.quality_score < {_CUR_MIN_QUALITY}
              THEN 'low_quality'
            ELSE 'kept' END AS status
FROM fp f
JOIN firsts fs ON fs.fingerprint = f.fingerprint
JOIN m mm ON mm.doc_id = f.doc_id
JOIN q qq ON qq.doc_id = f.doc_id
""")
def llm_curation_pipeline(spark, sf):
    """End-to-end curation verdict per document -- the composed
    pipeline a corpus actually runs, with the FIRST failing stage as
    the recorded reject reason (the standard curation-report shape:
    reasons must partition the corpus, so stage order is part of the
    contract): exact-dup -> too-short -> low-quality -> kept.

    Composes the already-verified stages (fingerprint dedup,
    token-count gate, blended quality score) into one plan: Catalyst
    fuses the three per-doc stages into the scan's codegen stage, and
    the only shuffle is the 32-byte fingerprint groupBy -- adding
    pipeline stages costs nothing at 100 TB until a stage needs its
    own shuffle.

    Reference parity: this is the Spark re-expression of the
    reference's load-then-validate flow (preprocess_upload_neo4j.py
    validates rows before upload); the stages themselves are the
    LLM-era equivalents.

    Plan shape (pinned by test_plans): ONE scan of the corpus and ONE
    hash shuffle -- all per-doc features come from a single
    projection, and the first-occurrence id is a window over the
    fingerprint partition instead of a groupBy + join-back (which
    would scan the corpus again and broadcast the dedup table)."""
    from .operators.text import fingerprint, quality_metrics
    docs = read_parallel(spark, sf, "documents")
    feats = quality_metrics(
        docs, extra_cols=[fingerprint(F.col("text")).alias("fingerprint")])
    first_id = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    return feats.select(
        "doc_id",
        F.when(F.col("doc_id") > first_id, "exact_dup")
        .when(F.col("n_tokens") < _CUR_MIN_TOKENS, "too_short")
        .when(F.col("quality_score") < _CUR_MIN_QUALITY, "low_quality")
        .otherwise("kept").alias("status"))


_TILE = 16  # ViT-style square patch edge, pixels

@register("mm_tile_manifest", f"""
SELECT doc_id AS media_id,
       CAST(doc_id % 640 + 1 AS BIGINT) AS width,
       CAST(doc_id % 480 + 1 AS BIGINT) AS height,
       CAST((doc_id % 640 + 1 + {_TILE - 1}) // {_TILE} AS BIGINT)
         AS n_tiles_x,
       CAST((doc_id % 480 + 1 + {_TILE - 1}) // {_TILE} AS BIGINT)
         AS n_tiles_y,
       CAST(((doc_id % 640 + 1 + {_TILE - 1}) // {_TILE})
            * ((doc_id % 480 + 1 + {_TILE - 1}) // {_TILE}) AS BIGINT)
         AS n_tiles,
       CAST(((doc_id % 640 + 1 + {_TILE - 1}) // {_TILE}) * {_TILE}
            - (doc_id % 640 + 1) AS BIGINT) AS pad_x,
       CAST(((doc_id % 480 + 1 + {_TILE - 1}) // {_TILE}) * {_TILE}
            - (doc_id % 480 + 1) AS BIGINT) AS pad_y
FROM documents
""")
def mm_tile_manifest(spark, sf):
    """ViT-style patch-grid manifest: for every image, the number of
    16x16 tiles along each axis (ceil division), the total
    patch count (= the vision-transformer sequence length), and the
    per-axis padding the tiler must add.  The dimensions come from
    the PNG HEADER decode (mm_png_meta's pure-Catalyst hex parse) --
    composing the decode with downstream planning WITHOUT touching
    pixel data, which is the whole economics of preprocessing a
    100-TB image corpus.

    Scale shape: zero shuffles -- header parse + integer ceil-div all
    fuse into the scan's codegen stage."""
    from .operators.multimodal import media_table, png_metadata
    docs = read_parallel(spark, sf, "documents")
    payload = F.unhex(F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        F.format_string("%08x", F.col("doc_id") % 640 + 1),
        F.format_string("%08x", F.col("doc_id") % 480 + 1),
        F.lit("08"),
        F.when(F.col("doc_id") % 3 == 0, "02")
        .when(F.col("doc_id") % 3 == 1, "06").otherwise("00")))
    meta = png_metadata(media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "p"))
    w, h = F.col("width"), F.col("height")
    tx = F.expr(f"(width + {_TILE - 1}) DIV {_TILE}")
    ty = F.expr(f"(height + {_TILE - 1}) DIV {_TILE}")
    return meta.select(
        "media_id",
        w.cast("long").alias("width"), h.cast("long").alias("height"),
        tx.cast("long").alias("n_tiles_x"),
        ty.cast("long").alias("n_tiles_y"),
        (tx * ty).cast("long").alias("n_tiles"),
        (tx * _TILE - w).cast("long").alias("pad_x"),
        (ty * _TILE - h).cast("long").alias("pad_y"))


_ABL_SALT = "abl1"
_ABL_TIERS = (10, 25, 50)  # percent sizes of the nested subsets


def _abl_thresholds() -> list:
    from .operators.sampling import fraction_to_hex_threshold
    return [fraction_to_hex_threshold(t / 100.0) for t in _ABL_TIERS]


@register("llm_ablation_subsets", f"""
WITH c AS (
  SELECT doc_id,
         substr(md5('{_ABL_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
           AS coin
  FROM documents
)
SELECT doc_id,
       CASE {" ".join(
           f"WHEN coin < '{th}' THEN {tier}"
           for tier, th in zip((10, 25, 50), (
               format(int(0.10 * 16**8), '08x'),
               format(int(0.25 * 16**8), '08x'),
               format(int(0.50 * 16**8), '08x'))))}
            ELSE 100 END AS tier
FROM c
""")
def llm_ablation_subsets(spark, sf):
    """Nested ablation subsets for scaling-law runs: one keyed md5
    coin assigns every document its SMALLEST containing subset tier
    (10% c 25% c 50% c 100%) -- nesting is by construction (one coin,
    increasing thresholds), so the 10% corpus is literally a subset
    of the 25% corpus, which is what makes ablation curves
    comparable.  Reproducible across engines, reruns, and cluster
    sizes; never rand().

    Scale shape: zero shuffles -- the coin and the CASE chain run
    inside the scan's codegen stage; materializing any tier is a
    pushed-down filter on this column."""
    from .operators.sampling import sample_hash_coin
    th = _abl_thresholds()
    coin = sample_hash_coin(F.col("doc_id"), _ABL_SALT)
    tier = None
    for t, h in zip(_ABL_TIERS, th):
        cond = coin < h
        tier = F.when(cond, t) if tier is None else tier.when(cond, t)
    return (read_parallel(spark, sf, "documents")
            .select("doc_id", tier.otherwise(100).alias("tier")))


_BT_SRC_LANG, _BT_TGT_LANG = "de", "en"


@register("llm_bitext_mining", f"""
WITH src AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv,
         {_dot_sql_unrolled('e.embedding', 'e.embedding')} AS qn
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = '{_BT_SRC_LANG}'
),
tgt AS (
  SELECT e.vec_id AS cand_id, e.embedding AS cv,
         {_dot_sql_unrolled('e.embedding', 'e.embedding')} AS cn
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = '{_BT_TGT_LANG}'
),
scored AS (
  SELECT s.query_id, t.cand_id,
         {_dot_sql_unrolled('s.qv', 't.cv')} / sqrt(s.qn * t.cn) AS cos
  FROM src s, tgt t
),
ranked AS (
  SELECT query_id, cand_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id) AS rn
  FROM scored
)
SELECT a.query_id, a.cand_id AS match_id,
       ROUND(a.cos, 6) AS cos_top1,
       ROUND(a.cos - b.cos, 6) AS margin
FROM ranked a JOIN ranked b
  ON b.query_id = a.query_id AND a.rn = 1 AND b.rn = 2
""")
def llm_bitext_mining(spark, sf):
    """Bitext mining (parallel-corpus candidate extraction): for each
    source-language document, the nearest target-language neighbor in
    embedding space plus the top1-top2 MARGIN -- the standard
    mine-then-threshold signal (a high margin means the match is
    uniquely good, not just in a dense region; margin-based filtering
    is how web-scale MT corpora are built).

    Scale shape: language partitions shrink both sides before any
    scoring.  This is the ONE brute-force entry with an UNBOUNDED
    query side (every de doc scores every en doc -- 2.3B pairs at the
    sf10 rung), so scoring runs through
    ``similarity.brute_topk_arrow``: the query matrix broadcasts
    (the same memory posture as the BNLJ plan's ``F.broadcast``), the
    corpus streams once through a vectorized Arrow kernel, and only
    Q * partitions * 2 candidate rows shuffle.  The kernel's
    per-dimension float64 accumulation reproduces the Catalyst/DuckDB
    sequential fold bit-for-bit -- sf0.01/sf0.1 canonical hashes are
    unchanged across the swap (cfa646261480 / 6a8d4609c8cd).

    Construction is EAGER (the kernel collects the query side and
    creates its broadcast when this entry is BUILT); the build's
    scope releases the broadcast.  Past ~1e9 queries the blocked kernel
    (``similarity.brute_topk_arrow_blocked``, bit-identical, bounded
    driver memory) replaces the single collect."""
    from .operators.similarity import brute_topk_arrow
    emb = read_parallel(spark, sf, "embeddings")
    docs = read_parallel(spark, sf, "documents").select("doc_id", "lang")
    j = emb.join(docs, emb["vec_id"] == docs["doc_id"])
    src = j.where(F.col("lang") == _BT_SRC_LANG) \
        .select("vec_id", "embedding")
    tgt = j.where(F.col("lang") == _BT_TGT_LANG) \
        .select("vec_id", "embedding")
    top2 = brute_topk_arrow(tgt, src, k=2, dim=_EMBED_DIM)
    a = top2.where(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("match_id"),
        F.col("cos").alias("c1"))
    b = top2.where(F.col("rank") == 2).select(
        "query_id", F.col("cos").alias("c2"))
    return (a.join(b, "query_id")
            .select("query_id", "match_id",
                    F.round(F.col("c1"), 6).alias("cos_top1"),
                    F.round(F.col("c1") - F.col("c2"), 6)
                    .alias("margin")))


@register("llm_template_cluster", f"""
WITH n AS (
  SELECT doc_id,
         md5(regexp_replace(
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
               '[0-9]+', '#', 'g')) AS template_fp,
         md5(text) AS exact_fp
  FROM documents
)
SELECT template_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS example_id,
       CAST(COUNT(DISTINCT exact_fp) AS BIGINT) AS n_variants
FROM n GROUP BY 1 HAVING COUNT(*) > 1
""")
def llm_template_cluster(spark, sf):
    """Templated-boilerplate detection: documents identical up to
    NUMBERS (timestamps, ids, prices -- "Order #123 shipped") cluster
    under one digit-normalized fingerprint; clusters with >1 doc are
    template families, and ``n_variants`` counts how many exact texts
    the template stamps out.  Exact dedup misses these entirely; this
    is the cheap first pass before shingle-based near-dedup.

    Scale shape: identical to exact dedup -- only 32-byte
    fingerprints shuffle, one hash groupBy, normalization fused into
    the scan's codegen.  (0 clusters on a template-free corpus is the
    correct answer; the operator's clustering behavior is pinned by a
    synthetic-template unit test.)"""
    from .operators.text import template_fingerprint
    n = (read_parallel(spark, sf, "documents")
         .select("doc_id",
                 template_fingerprint(F.col("text")).alias("template_fp"),
                 F.md5(F.col("text")).alias("exact_fp")))
    return (n.groupBy("template_fp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("doc_id").alias("example_id"),
                 F.countDistinct("exact_fp").cast("long")
                 .alias("n_variants"))
            .where(F.col("n_docs") > 1))


@register("llm_source_drift_tvd", f"""
WITH tok AS (
  SELECT d.source, unnest({TOKS}) AS tok
  FROM documents d
),
corpus AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT SUM(c) AS n FROM corpus),
sc AS (SELECT source, tok, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
stot AS (SELECT source, SUM(cs) AS ns FROM sc GROUP BY 1)
SELECT s.source,
       CAST(st.ns AS BIGINT) AS n_tokens_src,
       CAST(COUNT(*) AS BIGINT) AS n_shared_vocab,
       ROUND(0.5 * (
         CAST(SUM(CAST(ABS(CAST(s.cs AS DOUBLE) / st.ns
                           - CAST(c.c AS DOUBLE) / t.n)
                       AS DECIMAL(27,12))) AS DOUBLE)
         + (1.0 - CAST(SUM(CAST(CAST(c.c AS DOUBLE) / t.n
                               AS DECIMAL(27,12))) AS DOUBLE))), 8)
         AS tvd
FROM sc s
JOIN corpus c ON c.tok = s.tok
JOIN stot st ON st.source = s.source
CROSS JOIN tot t
GROUP BY s.source, st.ns
""")
def llm_source_drift_tvd(spark, sf):
    """Per-source distribution drift as exact TOTAL-VARIATION distance
    between the source's token distribution and the corpus: TVD =
    0.5 * sum_t |p_t - q_t|, folded so tokens ABSENT from the source
    never materialize (their contribution is 1 - sum of corpus mass
    over PRESENT tokens) -- no source x vocabulary grid.  Flags the
    outlier domain whose language shifted (spam influx, encoding
    break) before it poisons a mixture.  No transcendentals anywhere
    -- exact integer ratios, IEEE subtract/abs, decimal-exact sums --
    so the statistic is bit-identical on every engine (unlike KL/JSD,
    whose ln() is libm-dependent).

    Scale shape: two token-keyed partial-agg groupBys (corpus counts,
    source counts) + one join on token -- shuffles carry (token,
    count) pairs, never documents; the per-source fold is one
    groupBy."""
    tok = (read_parallel(spark, sf, "documents")
           .select("source",
                   F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                   .alias("tok")))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = corpus.agg(F.sum("c").alias("n"))
    sc = (tok.groupBy("source", "tok")
          .agg(F.count(F.lit(1)).alias("cs")))
    stot = sc.groupBy("source").agg(F.sum("cs").alias("ns"))
    p = F.col("cs").cast("double") / F.col("ns")
    q = F.col("c").cast("double") / F.col("n")
    return (sc.join(corpus, "tok")
            .join(F.broadcast(stot), "source")
            .crossJoin(F.broadcast(tot))
            .groupBy("source", "ns")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_vocab"),
                 F.round(0.5 * (
                     F.sum(F.abs(p - q).cast("decimal(27,12)"))
                     .cast("double")
                     + (F.lit(1.0)
                        - F.sum(q.cast("decimal(27,12)"))
                        .cast("double"))), 8).alias("tvd"))
            .select("source", F.col("ns").cast("long")
                    .alias("n_tokens_src"), "n_shared_vocab", "tvd"))


_CAP_MIN_DIM, _CAP_MIN_TOK, _CAP_MAX_TOK = 64, 5, 80


@register("llm_caption_pairs", f"""
WITH meta AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 640 + 1 AS BIGINT) AS width,
         CAST(doc_id % 480 + 1 AS BIGINT) AS height
  FROM documents
),
cap AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT c.doc_id AS pair_id, m.width, m.height, c.n_tokens,
       CASE WHEN m.width * 10 >= m.height * 12 THEN 'wide'
            WHEN m.height * 10 >= m.width * 12 THEN 'tall'
            ELSE 'square' END AS aspect_bucket
FROM cap c JOIN meta m ON m.media_id = c.doc_id
WHERE m.width >= {_CAP_MIN_DIM} AND m.height >= {_CAP_MIN_DIM}
  AND c.n_tokens BETWEEN {_CAP_MIN_TOK} AND {_CAP_MAX_TOK}
""")
def llm_caption_pairs(spark, sf):
    """Image-text pair curation (the LAION-style manifest): join each
    caption to its image's HEADER-decoded dimensions, keep pairs
    whose image is large enough and whose caption's token count is in
    range, and bucket by aspect ratio (wide/tall/square via integer
    cross-multiplication -- no float division) for resolution-bucketed
    batching.

    Scale shape: a keyed 1:1 join of two scan-side projections --
    both filters are pushed to their scans, the aspect CASE is
    integer codegen, and no pixel data moves; at 100 TB the media
    side reads only parquet headers/metadata columns.  The dims here
    come from the same synthetic PNG headers as mm_png_meta
    (deterministic doc_id arithmetic), so the oracle can recompute
    them exactly."""
    from .operators.multimodal import media_table, png_metadata
    from .operators.text import token_count
    docs = read_parallel(spark, sf, "documents")
    payload = F.unhex(F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        F.format_string("%08x", F.col("doc_id") % 640 + 1),
        F.format_string("%08x", F.col("doc_id") % 480 + 1),
        F.lit("08"),
        F.when(F.col("doc_id") % 3 == 0, "02")
        .when(F.col("doc_id") % 3 == 1, "06").otherwise("00")))
    meta = png_metadata(media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "p"))
    cap = docs.select("doc_id",
                      token_count(F.col("text")).cast("long")
                      .alias("n_tokens"))
    w, h = F.col("width").cast("long"), F.col("height").cast("long")
    aspect = (F.when(w * 10 >= h * 12, "wide")
              .when(h * 10 >= w * 12, "tall")
              .otherwise("square"))
    return (cap.join(meta, cap["doc_id"] == meta["media_id"])
            .where((w >= _CAP_MIN_DIM) & (h >= _CAP_MIN_DIM)
                   & F.col("n_tokens").between(_CAP_MIN_TOK,
                                               _CAP_MAX_TOK))
            .select(F.col("doc_id").alias("pair_id"),
                    w.alias("width"), h.alias("height"), "n_tokens",
                    aspect.alias("aspect_bucket")))


@register("llm_cluster_cards", _ivf_sql(_IVF_LLOYD, mode="cards"))
def llm_cluster_cards(spark, sf):
    """Corpus cluster cards: the inspect-before-you-act report for
    every clustering-driven curation step (semantic dedup, topic
    pruning, per-cluster sampling) -- per Lloyd-refined cluster, the
    member count, lowest-id exemplar, mean member-to-centroid cosine
    (cohesion), and dominant label.  Same deterministic quantizer as
    llm_ann_ivf / llm_semantic_dedup, so the cards describe exactly
    the clusters those operators act on.

    Scale shape: one broadcast assignment pass over the corpus + two
    centroid-keyed aggregates; the card table is centroid-sized."""
    from .operators.similarity import cluster_cards
    return cluster_cards(read_parallel(spark, sf, "embeddings"),
                         n_centroids=_IVF_K, lloyd_iters=_IVF_LLOYD)


@register("llm_ivf_recall_audit", _ivf_sql(_IVF_LLOYD, mode="recall"))
def llm_ivf_recall_audit(spark, sf):
    """ANN index-quality monitoring: per query, how much of the exact
    brute-force top-3 the IVF index recovers (recall@k against ground
    truth) -- the audit that decides nprobe/n_centroids BEFORE
    trusting approximate search to drive dedup or retrieval at scale.
    Same quantizer and probe parameters as llm_ann_ivf, so this
    measures exactly the index the other entries use.

    Scale shape: the brute side runs only over the AUDIT SAMPLE of
    queries (ground truth for a sample is how recall is monitored in
    production -- never brute-force the full query load); the IVF
    side is the production probe plan; the comparison is a Q*k-row
    join."""
    from .operators.similarity import brute_force_topk, ivf_topk
    emb = read_parallel(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    ivf = ivf_topk(emb, q, k=3, n_centroids=_IVF_K,
                   nprobe=_IVF_NPROBE, lloyd_iters=_IVF_LLOYD) \
        .select("query_id", "neighbor_id")
    brute = brute_force_topk(emb, q, k=3) \
        .select("query_id", "neighbor_id")
    hit = ivf.withColumn("__hit", F.lit(1))
    return (brute.join(hit, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                 .cast("long").alias("n_hits"),
                 (F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                  .cast("double") / 3).alias("recall_at_k")))


_FUNNEL_STAGES = ("ingested", "after_exact_dedup", "after_length_gate",
                  "after_quality_gate")


@register("llm_pipeline_funnel", f"""
WITH fp AS (
  SELECT doc_id, {NORM_MD5} AS fingerprint FROM documents
),
firsts AS (
  SELECT fingerprint, MIN(doc_id) AS first_id FROM fp GROUP BY 1
),{_QUALITY_M_CTE.format(toks=TOKS, stop=_STOP_EN)},
st AS (
  SELECT f.doc_id, CAST(mm.n_tok AS BIGINT) AS n_tokens,
         f.doc_id = fs.first_id AS s1,
         f.doc_id = fs.first_id AND mm.n_tok >= {_CUR_MIN_TOKENS} AS s2,
         f.doc_id = fs.first_id AND mm.n_tok >= {_CUR_MIN_TOKENS}
           AND qq.quality_score >= {_CUR_MIN_QUALITY} AS s3
  FROM fp f
  JOIN firsts fs ON fs.fingerprint = f.fingerprint
  JOIN m mm ON mm.doc_id = f.doc_id
  JOIN q qq ON qq.doc_id = f.doc_id
)
SELECT stage, n_docs, n_tokens FROM (
  SELECT 'ingested' AS stage, 0 AS ord,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM st
  UNION ALL
  SELECT 'after_exact_dedup', 1, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM st WHERE s1
  UNION ALL
  SELECT 'after_length_gate', 2, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM st WHERE s2
  UNION ALL
  SELECT 'after_quality_gate', 3, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM st WHERE s3
)
""")
def llm_pipeline_funnel(spark, sf):
    """Curation funnel: documents and tokens surviving after each
    pipeline stage (ingest -> exact dedup -> length gate -> quality
    gate) -- the headline numbers of every dataset paper's "we
    started with X TB and kept Y".  Same stage definitions as
    llm_curation_pipeline, so the funnel and the per-doc verdicts
    can never disagree.

    Scale shape: one scan computes all per-doc features, one
    fingerprint-partitioned window marks first occurrences (no
    groupBy + join-back, no second scan), four tiny conditional
    sums."""
    from .operators.text import fingerprint, quality_metrics
    docs = read_parallel(spark, sf, "documents")
    feats = quality_metrics(
        docs, extra_cols=[fingerprint(F.col("text")).alias("fingerprint")])
    first = (F.col("doc_id")
             == F.min("doc_id").over(Window.partitionBy("fingerprint")))
    st = feats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_toks"),
        first.alias("s1"),
        (first & (F.col("n_tokens") >= _CUR_MIN_TOKENS)).alias("s2"),
        (first & (F.col("n_tokens") >= _CUR_MIN_TOKENS)
         & (F.col("quality_score") >= _CUR_MIN_QUALITY)).alias("s3"))
    agg = st.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_toks").cast("long").alias("t0"),
        F.sum(F.when(F.col("s1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("s1"), F.col("n_toks")).otherwise(0))
        .cast("long").alias("t1"),
        F.sum(F.when(F.col("s2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("s2"), F.col("n_toks")).otherwise(0))
        .cast("long").alias("t2"),
        F.sum(F.when(F.col("s3"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("s3"), F.col("n_toks")).otherwise(0))
        .cast("long").alias("t3"))
    r = agg.first()
    return spark.createDataFrame(
        [(s, r[f"n{i}"], r[f"t{i}"])
         for i, s in enumerate(_FUNNEL_STAGES)],
        "stage string, n_docs long, n_tokens long")


_AW_WIN_MS, _AW_HOP_MS = 25, 10


@register("mm_audio_windows", f"""
WITH params AS (
  SELECT doc_id,
         doc_id % 2 + 1 AS ch,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         ELSE 44100 END AS rate,
         (doc_id % 2 + 1) * 2 AS block,
         (doc_id % 500 + 1) * ((doc_id % 2 + 1) * 2) AS dsize
  FROM documents WHERE doc_id % 7 <> 0
),
w AS (
  SELECT doc_id AS media_id, rate,
         dsize // block AS n_samples,
         rate * {_AW_WIN_MS} // 1000 AS win,
         rate * {_AW_HOP_MS} // 1000 AS hop
  FROM params
)
SELECT media_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_samples * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(win AS BIGINT) AS win_samples,
       CAST(hop AS BIGINT) AS hop_samples,
       CAST(CASE WHEN n_samples >= win
                 THEN (n_samples - win) // hop + 1
                 ELSE 0 END AS BIGINT) AS n_windows
FROM w
""")
def mm_audio_windows(spark, sf):
    """Audio frame-window manifest (the ASR/audio-LM preprocessing
    plan): from the WAV HEADER alone -- channels, bit depth, sample
    rate, data size parsed by the pure-Catalyst little-endian decode
    -- compute each clip's sample count, duration, and how many
    25ms/10ms-hop analysis windows the featurizer will emit.  The
    audio twin of mm_tile_manifest: all integer DIV arithmetic, and
    the window budget is known for the whole corpus before decoding a
    single sample (how a 100-TB audio pipeline plans its compute).
    Non-WAV payloads (every 7th is garbage) are excluded by the
    header check, not by trusting the catalog."""
    from .operators.multimodal import media_table, wav_metadata
    docs = read_parallel(spark, sf, "documents")
    ch = F.col("doc_id") % 2 + 1
    rate = (F.when(F.col("doc_id") % 3 == 0, 8000)
            .when(F.col("doc_id") % 3 == 1, 16000).otherwise(44100))
    block = ch * 2
    dsize = (F.col("doc_id") % 500 + 1) * block

    def le2(v):
        return F.format_string("%02x%02x", (v % 256).cast("int"),
                               ((v / 256).cast("long") % 256).cast("int"))

    def le4(v):
        return F.format_string(
            "%02x%02x%02x%02x", (v % 256).cast("int"),
            ((v / 256).cast("long") % 256).cast("int"),
            ((v / 65536).cast("long") % 256).cast("int"),
            ((v / 16777216).cast("long") % 256).cast("int"))

    wav_hex = F.concat(
        F.lit("52494646"), le4(dsize + 36),
        F.lit("57415645" + "666d7420" + "10000000" + "0100"),
        le2(ch), le4(rate), le4(rate * block), le2(block),
        F.lit("1000" + "64617461"), le4(dsize))
    payload = F.when(F.col("doc_id") % 7 == 0,
                     F.lit("not a riff payload").cast("binary")) \
        .otherwise(F.unhex(wav_hex))
    meta = wav_metadata(media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "p"))
    blk = (F.col("n_channels").cast("long")
           * F.expr("bits_per_sample DIV 8"))
    n_samples = F.expr("data_bytes").cast("long") / blk
    meta = (meta.where(F.col("is_wav"))
            .select("media_id",
                    F.col("sample_rate").cast("long").alias("sample_rate"),
                    F.expr("CAST(data_bytes DIV (n_channels * "
                           "(bits_per_sample DIV 8)) AS BIGINT)")
                    .alias("n_samples"),
                    F.expr(f"CAST(sample_rate * {_AW_WIN_MS} DIV 1000 "
                           "AS BIGINT)").alias("win"),
                    F.expr(f"CAST(sample_rate * {_AW_HOP_MS} DIV 1000 "
                           "AS BIGINT)").alias("hop")))
    return meta.select(
        "media_id", "sample_rate", "n_samples",
        F.expr("CAST(n_samples * 1000 DIV sample_rate AS BIGINT)")
        .alias("duration_ms"),
        F.col("win").alias("win_samples"),
        F.col("hop").alias("hop_samples"),
        F.when(F.col("n_samples") >= F.col("win"),
               F.expr("(n_samples - win) DIV hop + 1"))
        .otherwise(0).cast("long").alias("n_windows"))
