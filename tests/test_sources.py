"""Sink round-trips (S3/S5), upsert semantics (S4), constraint checks
(S6), and the plan-inspection utilities (§4/G4)."""

import pytest
from pyspark.sql import functions as F

from graphdb_cia_factbook_spark.plans import (
    estimate_size_bytes,
    explain_str,
    plan_audit,
)
from graphdb_cia_factbook_spark.schemas import TESTDATA
from graphdb_cia_factbook_spark.sources import (
    assert_unique_key,
    merge_upsert_by_key,
    read_csv,
    read_table,
    write_csv,
    write_parquet,
)

SF = "/root/testdata/sf0.001"


def test_parquet_roundtrip_with_partition_pruning(spark, tmp_path):
    nation = read_table(spark, SF, "nation")
    path = str(tmp_path / "nation_pq")
    write_parquet(nation, path, partition_by=["n_regionkey"])
    back = spark.read.parquet(path)
    assert back.count() == nation.count()
    # partition pruning: the filter must land in PartitionFilters, and
    # the pruned scan reads a subset of the partition directories
    pruned = back.where(F.col("n_regionkey") == 1)
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan and "n_regionkey" in plan
    assert pruned.count() == nation.where("n_regionkey = 1").count()


def test_csv_roundtrip_schema_enforced(spark, tmp_path):
    region = read_table(spark, SF, "region")
    path = str(tmp_path / "region_csv")
    write_csv(region, path)
    back = read_csv(spark, path, TESTDATA["region"])
    assert sorted(r.r_name for r in back.collect()) == \
        sorted(r.r_name for r in region.collect())
    assert back.schema == TESTDATA["region"]


def test_merge_upsert_latest_wins(spark):
    df = spark.createDataFrame(
        [("FR", 2019, 1.0), ("FR", 2021, 3.0), ("FR", 2020, 2.0),
         ("DE", 2021, 9.0)],
        "country string, year int, amount double")
    out = merge_upsert_by_key(df, ["country"], [F.desc("year")])
    got = {r.country: (r.year, r.amount) for r in out.collect()}
    assert got == {"FR": (2021, 3.0), "DE": (2021, 9.0)}


def test_unique_key_assertion(spark):
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert_unique_key(ok, "id")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id int, v string")
    with pytest.raises(AssertionError):
        assert_unique_key(dup, "id")


def test_estimate_and_audit(spark):
    li = read_table(spark, SF, "lineitem")
    nation = read_table(spark, SF, "nation")
    assert estimate_size_bytes(li) > estimate_size_bytes(nation) > 0

    supp = read_table(spark, SF, "supplier")
    q = (li.where(F.col("l_quantity") > 30)
         .join(F.broadcast(supp.select(
             F.col("s_suppkey").alias("l_suppkey"), "s_name")),
             "l_suppkey")
         .select("l_orderkey", "s_name"))
    audit = plan_audit(q)
    assert audit.pushed_filters and audit.has_broadcast
    assert audit.jvm_only and not audit.has_sort_merge


def test_schema_drift_rejected(spark, tmp_path):
    """read_table must refuse a table whose columns drifted from the
    declared registry schema (schemas are declared, never inferred)."""
    bad = spark.createDataFrame([(1, "x")], "r_regionkey int, wrong string")
    path = str(tmp_path / "drift")
    bad.write.mode("overwrite").parquet(path)
    import shutil

    sf_dir = tmp_path / "sfdrift"
    sf_dir.mkdir()
    shutil.copytree(path, sf_dir / "region.parquet")
    with pytest.raises(ValueError, match="schema drift"):
        read_table(spark, str(sf_dir), "region")


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing parity: two tables bucketed on the join key co-locate
    matching rows at WRITE time, so the join plan has NO Exchange on
    either side -- the pre-paid-shuffle strategy for repeated 100-TB
    fact-fact joins."""
    import uuid

    from graphdb_cia_factbook_spark.plans import explain_str
    suffix = uuid.uuid4().hex[:8]
    orders = read_table(spark, SF, "orders")
    li = read_table(spark, SF, "lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable(f"orders_b_{suffix}"))
    (li.withColumnRenamed("l_orderkey", "o_orderkey")
     .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable(f"lineitem_b_{suffix}"))

    ob = spark.table(f"orders_b_{suffix}")
    lb = spark.table(f"lineitem_b_{suffix}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, "o_orderkey").select(
            "o_orderkey", "o_totalprice", "l_quantity")
        plan = explain_str(joined, "simple")
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql(f"DROP TABLE IF EXISTS orders_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS lineitem_b_{suffix}")


def test_merge_into_actions(spark):
    from graphdb_cia_factbook_spark.sources import merge_into
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, v double")
    source = spark.createDataFrame(
        [(2, "b2", 99.0), (3, "c", 30.0)], "k long, name string, v double")
    got = {r.k: r for r in
           merge_into(target, source, "k", ["v"]).collect()}
    assert got[1].merge_action == "keep" and got[1].v == 10.0
    assert got[2].merge_action == "update" and got[2].v == 99.0
    assert got[2].name == "b"            # non-update col keeps target
    assert got[3].merge_action == "insert" and got[3].name == "c"


def test_compact_files_collapses_small_files(spark, tmp_path):
    from graphdb_cia_factbook_spark.sources import compact_files, read_table
    import os
    path = str(tmp_path / "frag")
    orders = read_table(spark, SF, "orders")
    want = orders.count()
    orders.repartition(64).write.parquet(path)  # the small-files mess
    n_small = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_small >= 32
    n_files = compact_files(spark, path, target_rows_per_file=want)
    n_big = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files == 1 and n_big == 1
    after = spark.read.parquet(path)
    assert after.count() == want
    # content identical, not just counts
    assert after.exceptAll(orders).isEmpty()


def test_write_clustered_gives_prunable_file_ranges(spark, tmp_path):
    from graphdb_cia_factbook_spark.sources import read_table, write_clustered
    import os
    import pyarrow.parquet as pq
    path = str(tmp_path / "clustered")
    li = read_table(spark, SF, "lineitem")
    write_clustered(li, path, ["l_shipdate"], n_files=4)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(files) == 4
    # footer min/max ranges on the cluster key must be disjoint across
    # files (range partitioning) -- that is what makes a date predicate
    # skip whole files without any index
    ranges = []
    for f in files:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = next(i for i in range(md.num_columns)
                   if md.row_group(0).column(i).path_in_schema
                   == "l_shipdate")
        mins = [md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo
    # and the clustered copy still answers queries identically
    pred = "l_shipdate >= TIMESTAMP '1996-01-01' AND " \
           "l_shipdate < TIMESTAMP '1996-02-01'"
    got = spark.read.parquet(path).where(pred).count()
    assert got == li.where(pred).count()


def test_dynamic_partition_pruning(spark, tmp_path):
    """A join against a filtered dim must inject a dynamic-pruning
    predicate into the partitioned fact scan (runtime partition
    elimination -- the star-join scan killer at 100 TB), and the
    pruned result must equal the statically-filtered one."""
    import contextlib
    import io
    from graphdb_cia_factbook_spark.sources import read_table
    from pyspark.sql import functions as F
    path = str(tmp_path / "dpp_fact")
    li = read_table(spark, SF, "lineitem")
    li.write.partitionBy("l_returnflag").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("R", "returned"), ("N", "kept"), ("A", "accepted")],
        "flag string, label string")
    j = fact.join(dim.where("label = 'returned'"),
                  fact.l_returnflag == F.col("flag"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan.lower()
    assert j.count() == li.where("l_returnflag = 'R'").count()


def test_permissive_csv_quarantines_corrupt_rows(spark, tmp_path):
    """PERMISSIVE read with a _corrupt_record column: malformed rows
    land in quarantine instead of failing the 100-TB job; clean rows
    parse normally."""
    p = tmp_path / "dirty.csv"
    p.write_text("1,alpha,10.5\n"
                 "2,beta,not_a_number\n"
                 "3,gamma,7.25\n")
    schema = ("id INT, name STRING, v DOUBLE, "
              "_corrupt_record STRING")
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(str(p)))
    rows = df.collect()
    ok = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in ok} == {1, 3}
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


def test_register_views_sql_surface(spark):
    """register_views exposes every table (and the trade-edge
    projection) to plain spark.sql with pushdown intact."""
    from graphdb_cia_factbook_spark.sources import register_views
    names = register_views(spark, "/root/testdata/sf0.001", graph=True)
    assert "lineitem" in names and "trade_edges" in names
    n = spark.sql(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 25").first()[0]
    assert n > 0
    e = spark.sql("SELECT COUNT(*) FROM trade_edges").first()[0]
    assert e > 0
    plan = spark.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 25") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan or "Filter" in plan


def test_observed_write_single_pass_metrics(spark, tmp_path):
    """observe() metrics are collected during the write itself and
    match a recount of the written data."""
    from graphdb_cia_factbook_spark.sources import (observed_write,
                                                    read_table)
    df = read_table(spark, "/root/testdata/sf0.001", "orders") \
        .where(F.col("o_orderstatus") == "F")
    out = str(tmp_path / "obs")
    got = observed_write(
        df, out,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
        .cast("double").alias("total"))
    back = spark.read.parquet(out)
    assert got["rows"] == back.count()
    recount = back.agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
        .cast("double")).first()[0]
    assert abs(got["total"] - recount) < 1e-6


def test_footer_schema_is_what_spark_infers(spark, tmp_path):
    """For every testdata table the driver-side footer schema equals
    Spark's own inference and the declared registry schema (``events.ts``
    may be stored as micros TIMESTAMP_NTZ or as nanos read as long).  A
    legacy INT96 timestamp file reads as TIMESTAMP, as Spark infers."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from graphdb_cia_factbook_spark.sources import parquet_schema
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pq.read_table(f"{SF}/orders.parquet"), int96,
                   use_deprecated_int96_timestamps=True)
    assert parquet_schema(spark, int96) == spark.read.parquet(int96).schema
    assert parquet_schema(spark, int96)["o_orderdate"].dataType == \
        T.TimestampType()
    names = sorted(f[:-len(".parquet")] for f in os.listdir(SF)
                   if f.endswith(".parquet"))
    assert set(TESTDATA) <= set(names)
    for name in names:
        path = f"{SF}/{name}.parquet"
        got = parquet_schema(spark, path)
        assert got == spark.read.parquet(path).schema, name
        want = TESTDATA[name]
        if name == "events" and isinstance(got["ts"].dataType, T.LongType):
            want = T.StructType([
                T.StructField(f.name, T.LongType()) if f.name == "ts" else f
                for f in want.fields])
        assert got == want, name


def test_read_table_runs_no_spark_job(spark):
    """A single-file table plans from its footer: building the scan
    runs no schema-inference job."""
    sc = spark.sparkContext
    group = "test_read_table_runs_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        for name in TESTDATA:
            read_table(spark, SF, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_nanos_events_read_as_truncated_micros(spark, tmp_path):
    """An ``events`` file written as parquet TIMESTAMP(NANOS) reads to
    the micro-truncated timestamps (integer DIV of the raw nanos), with
    ``legacy.parquet.nanosAsLong`` left unset in the session."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(f"{SF}/events.parquet")
    micros = pc.cast(t["ts"], pa.int64())
    nanos = pc.add(pc.multiply(micros, 1000),
                   pa.array([i % 1000 for i in range(t.num_rows)],
                            pa.int64()))
    t = t.set_column(t.schema.get_field_index("ts"), "ts",
                     pc.cast(nanos, pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"))
    assert pq.ParquetFile(str(tmp_path / "events.parquet")) \
        .schema.column(t.schema.get_field_index("ts")) \
        .logical_type.to_json().count("nanoseconds") == 1

    def micros_by_id(sf_dir):
        df = read_table(spark, sf_dir, "events")
        ts = F.unix_micros(F.col("ts").cast("timestamp"))
        return dict(df.select("event_id", ts).collect())

    got = micros_by_id(str(tmp_path))
    assert got == micros_by_id(SF)
    assert got == dict(zip(t["event_id"].to_pylist(), micros.to_pylist()))
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_spark_written_directory_still_reads(spark, tmp_path):
    """A table stored as a Spark-written (partitioned) parquet directory
    is not a single file: it keeps Spark's own schema inference."""
    nation = read_table(spark, SF, "nation")
    nation.write.partitionBy("n_regionkey").parquet(
        str(tmp_path / "nation.parquet"))
    back = read_table(spark, str(tmp_path), "nation")
    assert sorted(back.select(*nation.columns).collect()) == \
        sorted(nation.collect())
