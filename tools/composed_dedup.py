"""Composed dedup pipeline measurement (VERDICT round 5 item 3).

SCALE.md argues exact-dedup-FIRST as the primary mitigation for LSH
candidate growth (mega-buckets are overwhelmingly exact duplicates;
collapsing them before shingling removes the quadratic bucket tail at
its source).  This script MEASURES that claim at any rung:

  1. exact_dedup -> one canonical survivor per fingerprint
  2. MinHash-LSH near-dedup over the SURVIVORS only
  3. candidate-pair count + verified-pair count + wall time, vs the
     uncomposed LSH run on the full corpus
  4. the composed output is hash-checked against a DuckDB oracle of
     the same composition (survivors CTE -> same LSH chain)

Also reports the SHARP operating point's (b=8, r=4, 32 hashes)
candidate volume on the same corpus for the SCALE.md comparison
(VERDICT item 4).

Usage: python tools/composed_dedup.py [sf_dir] [--skip-oracle]
       [--skip-sharp] [--skip-uncomposed]
       (default sf_dir: /root/repo/scratch/sf10)

The oracle's verify stage is linear-in-candidates (per-candidate-doc
shingle LISTS + ``list_intersect`` per pair) -- the DuckDB mirror of
the round-5 Spark-side rewrite.  The registry oracles' co-shingle
self-join is fine at gate scale but spills >70 GB of DuckDB temp at
500k docs (measured: filled the disk); this shape verifies the same
pairs in-memory.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf10"
    skip_oracle = "--skip-oracle" in sys.argv
    skip_sharp = "--skip-sharp" in sys.argv
    skip_uncomposed = "--skip-uncomposed" in sys.argv

    from pyspark.sql import functions as F

    from graphdb_cia_factbook_spark.operators.dedup import (
        exact_dedup,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        pair_jaccard,
        shingle_sets,
    )
    from graphdb_cia_factbook_spark.operators.text import fingerprint
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    from graphdb_cia_factbook_spark.sources import read_parallel

    spark = get_spark("composed-dedup")
    docs = read_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()
    print(f"corpus: {n_docs} docs at {sf_dir}")

    def lsh_stages(corpus, num_hashes, bands, rows):
        """shingle -> sig -> bands -> candidates -> verified pairs,
        returning (n_candidates, n_pairs, wall)."""
        t0 = time.perf_counter()
        sh = shingle_sets(corpus, "doc_id", "text").localCheckpoint()
        cand = lsh_candidate_pairs(
            lsh_bands(minhash_signatures(sh, "doc_id", num_hashes),
                      "doc_id", bands, rows),
            "doc_id").localCheckpoint()
        n_cand = cand.count()
        pairs = (pair_jaccard(cand, sh, "doc_id")
                 .where(F.col("jaccard") >= 0.5))
        n_pairs = pairs.count()
        wall = time.perf_counter() - t0
        return n_cand, n_pairs, round(wall, 2), pairs

    # --- uncomposed baseline (the SCALE.md 96.99s-at-sf10 shape) ---
    n_cand0 = None
    if not skip_uncomposed:
        clear_scratch(spark)
        n_cand0, n_pairs0, wall0, _ = lsh_stages(docs, 12, 4, 3)
        print(f"uncomposed  (b=4,r=3): candidates={n_cand0} "
              f"pairs={n_pairs0} wall={wall0}s")

    # --- composed: exact-dedup first, LSH over survivors ---
    clear_scratch(spark)
    t0 = time.perf_counter()
    survivors = (exact_dedup(docs)
                 .select(F.col("canonical_id").alias("doc_id"))
                 .join(docs, "doc_id", "inner")
                 .localCheckpoint())
    n_surv = survivors.count()
    exact_wall = round(time.perf_counter() - t0, 2)
    n_cand1, n_pairs1, wall1, pairs1 = lsh_stages(survivors, 12, 4, 3)
    print(f"exact-first: survivors={n_surv} ({exact_wall}s), then "
          f"candidates={n_cand1} pairs={n_pairs1} wall={wall1}s "
          f"(total {round(exact_wall + wall1, 2)}s)")
    if n_cand0 is not None:
        print(f"candidate reduction: {n_cand0} -> {n_cand1} "
              f"({n_cand0 / max(n_cand1, 1):.1f}x)")
    # materialize NOW: the next clear_scratch drops the checkpoint
    # blocks this plan reads
    got = None
    if not skip_oracle:
        got = {(r.id_a, r.id_b, round(r.jaccard, 9))
               for r in pairs1.collect()}

    # --- sharp operating point on the full corpus ---
    if not skip_sharp:
        clear_scratch(spark)
        n_cand2, n_pairs2, wall2, _ = lsh_stages(docs, 32, 8, 4)
        vs = (f"  (vs wide candidates={n_cand0}: "
              f"{n_cand0 / max(n_cand2, 1):.1f}x fewer)"
              if n_cand0 is not None else "")
        print(f"sharp (b=8,r=4): candidates={n_cand2} pairs={n_pairs2} "
              f"wall={wall2}s{vs}")

    # --- oracle check of the composed output ---
    if not skip_oracle:
        from graphdb_cia_factbook_spark.queries_llm import (
            _BAND_SELECTS,
            _LSH_CAND_SQL,
            _SIG_COLS,
            NORM_MD5,
            SHINGLE_LIST,
            TOKS,
        )
        # STAGED temp-table oracle + preserve_insertion_order=false:
        # as one megaquery, DuckDB re-evaluates the sh CTE per
        # consumer and preserves insertion order across the pipeline,
        # which at 500k docs spilled >90 GB of temp and filled the
        # disk TWICE; staged (each stage materialized once, no
        # ordering contract), the whole thing runs in ~55s with zero
        # spill.  The verify stage is linear-in-candidates
        # (list_intersect per pair) -- the DuckDB mirror of
        # operators.dedup.pair_jaccard.
        con = duckdb.connect()
        con.execute("SET preserve_insertion_order=false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')")
        t0 = time.perf_counter()
        con.execute(f"""CREATE TEMP TABLE sdocs AS
WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents
              GROUP BY {NORM_MD5})
SELECT d.doc_id, d.text FROM documents d JOIN surv s USING (doc_id)""")
        con.execute(f"""CREATE TEMP TABLE sh AS
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM sdocs)
SELECT DISTINCT doc_id, unnest({SHINGLE_LIST}) AS shingle FROM tk""")
        con.execute(f"CREATE TEMP TABLE sig AS "
                    f"SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id")
        con.execute(f"""CREATE TEMP TABLE cand AS
WITH bands AS (
  {_BAND_SELECTS}
),
{_LSH_CAND_SQL.replace('cand AS (', 'candq AS (')}
SELECT * FROM candq""")
        con.execute("""CREATE TEMP TABLE docsets AS
SELECT sh.doc_id, list(shingle) AS shs FROM sh
JOIN (SELECT id_a AS doc_id FROM cand
      UNION SELECT id_b FROM cand) c USING (doc_id)
GROUP BY sh.doc_id""")
        want = {(r[0], r[1], round(r[2], 9))
                for r in con.execute("""
WITH scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.shs, b.shs)) AS n_inter,
         len(a.shs) AS sza, len(b.shs) AS szb
  FROM cand c
  JOIN docsets a ON a.doc_id = c.id_a
  JOIN docsets b ON b.doc_id = c.id_b
)
SELECT id_a, id_b,
       n_inter / CAST(sza + szb - n_inter AS DOUBLE) AS jaccard
FROM scored
WHERE n_inter / CAST(sza + szb - n_inter AS DOUBLE) >= 0.5
""").fetchall()}
        print(f"oracle: {len(want)} pairs "
              f"[{time.perf_counter() - t0:.1f}s duckdb]")
        if got == want:
            print(f"ORACLE MATCH: {len(got)} composed pairs identical")
        else:
            print(f"ORACLE MISMATCH: spark={len(got)} duck={len(want)} "
                  f"only-spark={list(got - want)[:3]} "
                  f"only-duck={list(want - got)[:3]}")
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
