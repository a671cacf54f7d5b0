"""Sources & sinks (reference S1-S7, SURVEY.md §2.1).

The reference reads typed CSVs (`pd.read_csv(..., dtype=di_types)`,
preprocess_upload_neo4j.py:98-112) and writes CSVs (`df.to_csv`,
scrape_cia.py:86-87); its graph sink is a per-row Cypher ``MERGE`` loop
(preprocess_upload_neo4j.py:219-395) -- the known bottleneck
(:212-215).  Spark-first re-expression:

- S1 from_records: driver-collected records -> DataFrame with explicit
  schema (the scrape stage's list-of-dicts -> frame boundary).
- S2 typed scans: parquet (testdata) / CSV with declared StructType;
  schemas never inferred by a Spark job.  A parquet file's schema is
  read from its footer on the driver (:func:`parquet_schema`) and
  handed to the reader, so a scan plans with no job at all.  Parquet
  scans get predicate pushdown and column pruning from Catalyst for
  free -- at 100 TB this is the difference between reading 2 columns
  and reading 40.
- S3/S5 sinks: bulk ``DataFrameWriter`` overwrite (idempotent
  insert-overwrite replaces MERGE upsert: dedup-by-key *before* the
  write, see :func:`merge_upsert_by_key`).
- S6 constraint check: Spark has no constraints; key uniqueness is a
  build-time assertion (``groupBy(key).count > 1`` must be empty).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA


def _footer_schema(path: str) -> T.StructType:
    """Convert a parquet footer the way Spark's inference does (see
    :func:`parquet_schema`); TypeError for a type with no mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    pf = pq.ParquetFile(path)
    int96 = {pf.schema.column(i).path for i in range(len(pf.schema))
             if pf.schema.column(i).physical_type == "INT96"}
    fields = []
    for f in pf.schema_arrow:
        if f.name in int96:
            dt = T.TimestampType()
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            dt = T.LongType()
        else:
            dt = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, dt))  # nullable, as Spark reads
    return T.StructType(fields)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark infers for the parquet at ``path``.

    Spark's own inference runs one job per scan to read a footer.  For a
    single local file we read that footer on the driver instead
    (microseconds, no engine) and convert it the way Spark does:
    ``TIMESTAMP`` without UTC adjustment is ``TIMESTAMP_NTZ``, INT96 is
    ``TIMESTAMP``, and INT64 ``TIMESTAMP(NANOS)`` -- which Spark cannot
    read as a timestamp -- is ``LongType`` holding the raw nanos
    (what ``legacy.parquet.nanosAsLong`` would infer; with the type
    declared, Spark reads the nanos with that flag off).  A directory,
    a remote URI or a type with no Arrow mapping falls back to Spark's
    inference."""
    if os.path.isfile(path):
        try:
            return _footer_schema(path)
        except TypeError:
            pass
    return spark.read.parquet(path).schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S2: schema-checked parquet scan of a driver testdata table.

    The schema comes from :func:`parquet_schema` (the footer, no Spark
    job) and must name the columns ``TESTDATA`` declares.  ``events.ts``
    stored as TIMESTAMP(NANOS) reads as raw nanos and is truncated to
    microseconds with integer DIV (double division would lose
    precision above 2^53); DuckDB oracles match via
    ``CAST(ts AS TIMESTAMP)`` (ns->us floor)."""
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(spark, path)
    expected = TESTDATA.get(name)
    if expected is not None:
        got, want = set(schema.fieldNames()), set(expected.fieldNames())
        if got != want:
            raise ValueError(f"{name}: schema drift, got {got}, want {want}")
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def read_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S2 variant for compute-heavy consumers (explodes, Pandas UDFs,
    per-row hashing): ensure the scan feeds every core.

    Small testdata tables arrive as ONE parquet row group = one input
    split, which would run the whole downstream chain on 1 of 32 cores;
    a real 100-TB table has thousands of splits and skips this path.
    The round-robin repartition costs one tiny shuffle and only fires
    when the scan is narrower than the cluster."""
    df = read_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True) -> DataFrame:
    """S2: typed CSV scan -- explicit schema, no inference (mirrors
    ``pd.read_csv(f, dtype=di_types)``, preprocess_upload_neo4j.py:98-112)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def from_records(spark: SparkSession, records: Iterable[Mapping],
                 schema: T.StructType) -> DataFrame:
    """S1: list-of-dicts -> DataFrame (the scrape stage's record build,
    scrape_cia.py:47-64).  At 100 TB the fetch itself becomes
    ``spark.read.text`` over a crawl dump + a parse stage; this boundary
    function is where that swap happens."""
    rows = [{f.name: r.get(f.name) for f in schema.fields} for r in records]
    return spark.createDataFrame(rows, schema=schema)


def write_parquet(df: DataFrame, path: str,
                  partition_by: Sequence[str] = ()) -> None:
    """S3/S5: bulk overwrite sink (columnar parquet replaces CSV-at-rest).
    ``partition_by`` gives partition pruning on re-read at scale."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S3: CSV sink parity (`df.to_csv(path, index=False)`,
    scrape_cia.py:86-87)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def assert_unique_key(df: DataFrame, *key: str) -> None:
    """S6: node-key constraint (`CREATE CONSTRAINT ... IS NODE KEY`,
    preprocess_upload_neo4j.py:45-54) as a build-time assertion.
    Distributed: a single shuffled count, no collect of data rows."""
    dupes = (df.groupBy(*key).count().where(F.col("count") > 1)
             .limit(5).collect())
    if dupes:
        raise AssertionError(f"key {key} not unique; sample dupes: {dupes}")


def merge_upsert_by_key(df: DataFrame, key: Sequence[str],
                        order_by: Sequence = ()) -> DataFrame:
    """S4: Cypher ``MERGE`` upsert semantics -> deterministic
    dedup-by-key before an insert-overwrite write.  ``order_by`` picks
    the winner (the reference's latest-year-wins rule); defaults to an
    arbitrary-but-deterministic total order over all columns."""
    order = list(order_by) if order_by else [F.col(c) for c in df.columns]
    w = Window.partitionBy(*key).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def merge_into(target: DataFrame, source: DataFrame, key: str,
               update_cols: Sequence[str]) -> DataFrame:
    """S4 generalized: the MERGE INTO statement as a DataFrame op --
    WHEN MATCHED update ``update_cols`` from the source, WHEN NOT
    MATCHED insert the source row, target-only rows pass through.
    Each output row carries its ``merge_action``
    ('update'/'insert'/'keep') for sink-side audit.

    This is the column-level sibling of :func:`merge_upsert_by_key`
    (which realizes the reference's whole-row latest-wins MERGE,
    preprocess_upload_neo4j.py:237-255): ONE full-outer equi-join on
    the key -- a single shuffle of both sides; at 100 TB the target
    side prunes to touched partitions first (partition-predicate
    pushdown), which is exactly how lakehouse MERGE executes."""
    t = target.alias("t")
    s = source.alias("s")
    tk, sk = F.col(f"t.{key}"), F.col(f"s.{key}")
    matched = tk.isNotNull() & sk.isNotNull()
    cols = [F.coalesce(tk, sk).alias(key)]
    for c in target.columns:
        if c == key:
            continue
        tc, sc = F.col(f"t.{c}"), F.col(f"s.{c}")
        if c in update_cols:
            cols.append(F.when(sk.isNotNull(), sc).otherwise(tc).alias(c))
        else:
            cols.append(F.coalesce(tc, sc).alias(c))
    action = (F.when(matched, "update")
              .when(sk.isNotNull(), "insert").otherwise("keep"))
    return (t.join(s, tk == sk, "full_outer")
            .select(*cols, action.alias("merge_action")))


def compact_files(spark: SparkSession, path: str,
                  target_rows_per_file: int = 1_000_000) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_rows_per_file`` rows and return the new file count.

    The operational fix for the classic long-running-pipeline failure
    mode: thousands of tiny files (per-micro-batch appends, over-wide
    shuffles) turn every downstream scan into a scheduling storm and
    blow NameNode/listing budgets.  One pass: count, choose
    ``ceil(rows/target)`` output files, round-robin repartition (even
    sizes, no key skew), rewrite atomically via a temp dir + rename.

    At cluster scale the same op runs per partition directory of a
    date-partitioned table (compact only closed partitions); the
    single-dataset form here keeps the demonstration engine-local."""
    import math
    import shutil
    import tempfile
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    parent = os.path.dirname(os.path.abspath(path))
    tmp = tempfile.mkdtemp(dir=parent, prefix="__compact_")
    try:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return n_files


def write_clustered(df: DataFrame, path: str, cluster_by: Sequence[str],
                    n_files: int | None = None) -> None:
    """Cluster-by write: range-partition on ``cluster_by`` then sort
    rows within each file so parquet footer min/max statistics become
    selective -- the poor man's Z-order for one key family.

    A filter on the cluster key then skips whole files (disjoint
    ranges across files) and whole row groups within a file (sorted
    within), without any index structure.  This is the at-rest layout
    a 100-TB fact table wants for its dominant predicate column
    (e.g. ship date): scan cost becomes proportional to the selected
    range, not the table.  ``repartitionByRange`` samples the key
    distribution, so skewed keys still yield balanced files."""
    cols = [F.col(c) for c in cluster_by]
    part = (df.repartitionByRange(n_files, *cols) if n_files
            else df.repartitionByRange(*cols))
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def register_views(spark: SparkSession, sf_dir: str,
                   graph: bool = False) -> list[str]:
    """Register every testdata table as a temp view so users run
    plain ``spark.sql`` -- the switch-and-keep-your-SQL path from the
    reference (its README explores the graph ad hoc; here the same
    exploration is ANSI SQL over the projected tables).  With
    ``graph=True`` also registers ``trade_edges``, the projected
    trade-edge view the Cypher queries walked.

    Views are lazy (no data is read at registration) and carry the
    declared schemas, so downstream SQL gets the same pushdown and
    pruning as the DataFrame API.  Returns the registered names."""
    names = []
    for name in TESTDATA:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
        names.append(name)
    if graph:
        from ..operators.graph import build_trade_graph
        g = build_trade_graph(spark, sf_dir)
        g.edges.createOrReplaceTempView("trade_edges")
        names.append("trade_edges")
    return names


def observed_write(df: DataFrame, path: str, *metrics,
                   name: str = "audit"):
    """Write with SINGLE-PASS audit metrics: attach ``df.observe``
    aggregates (row counts, sums, null counts ...) that Spark
    collects DURING the write action itself -- production pipeline
    telemetry with zero extra scans, unlike a separate ``count()``
    (which re-reads the input) or an accumulator (which double-counts
    under task retries; observe metrics are exactly-once per
    completed action).

    Returns the collected metrics Row.  Example::

        row = observed_write(df, path,
                             F.count(F.lit(1)).alias("rows"),
                             F.sum("n_tokens").alias("tokens"))
    """
    from pyspark.sql import Observation
    obs = Observation(name)
    df.observe(obs, *metrics).write.mode("overwrite").parquet(path)
    return obs.get
