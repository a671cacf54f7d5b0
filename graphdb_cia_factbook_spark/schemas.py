"""Central schema registry.

The reference declares one dtype map covering every column in the system
(``di_types``, /root/reference/preprocess_upload_neo4j.py:83-97) and
passes it to every read -- schemas are *fixed and explicit*, never
inferred.  We mirror that: every table the engine touches has a
StructType here, and all scans go through :mod:`..sources`, which
reads each file's schema from its parquet footer (no Spark inference
job) and checks its column names against this registry.

Two families:

- ``FACTBOOK_*``: the reference's CSV contract (indicator / partners /
  goods / grouping / population tables) used by the pipeline-parity
  tests.  ``year`` stays DoubleType for parity (the reference keeps it
  float because of NaNs, preprocess_upload_neo4j.py:87).
- ``TESTDATA``: the driver's synthetic TPC-H-ish tables.  Their dates
  are stored as parquet TIMESTAMP without UTC adjustment, which Spark
  reads as ``TIMESTAMP_NTZ`` (an older ``events`` flavor stored
  TIMESTAMP(NANOS); ``sources.read_table`` normalizes it).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Factbook-shaped schemas (reference CSV contract)
# ---------------------------------------------------------------------------

#: exports.csv / imports.csv / gdp.csv / real_gdp.csv / real_gdp_per_capita.csv
#: (written at scrape_cia.py:86-87; dtypes preprocess_upload_neo4j.py:83-97)
FACTBOOK_INDICATOR = T.StructType([
    T.StructField("link", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("amount", T.DoubleType()),
    T.StructField("note", T.StringType()),
    T.StructField("year", T.DoubleType()),
    T.StructField("retrieved", T.StringType()),
])

#: exports_partners.csv / imports_partners.csv (scrape_cia.py:142-143)
FACTBOOK_PARTNERS = T.StructType([
    T.StructField("link", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("year", T.DoubleType()),
    T.StructField("trade_country", T.StringType()),
    T.StructField("percentage", T.DoubleType()),
    T.StructField("trade_type", T.StringType()),
    T.StructField("retrieved", T.StringType()),
])

#: exports_goods.csv / imports_goods.csv (scrape_cia.py:234-235)
FACTBOOK_GOODS = T.StructType([
    T.StructField("goods", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("link", T.StringType()),
    T.StructField("year", T.DoubleType()),
    T.StructField("rank", T.IntegerType()),
    T.StructField("trade_type", T.StringType()),
    T.StructField("retrieved", T.StringType()),
])

#: goods_grouping.csv (manually curated map, reference README.md:53)
FACTBOOK_GOODS_GROUPING = T.StructType([
    T.StructField("goods", T.StringType()),
    T.StructField("mapped_good", T.StringType()),
])

#: population.csv (scrape_cia.py:293-294; read all-str at
#: preprocess_upload_neo4j.py:110-111 then digit-parsed)
FACTBOOK_POPULATION = T.StructType([
    T.StructField("link", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("population", T.DoubleType()),
    T.StructField("year", T.DoubleType()),
    T.StructField("retrieved", T.StringType()),
])

#: regions.csv (scrape_cia.py:185-186)
FACTBOOK_REGIONS = T.StructType([
    T.StructField("link", T.StringType()),
    T.StructField("country", T.StringType()),
    T.StructField("regions", T.StringType()),
    T.StructField("rank", T.IntegerType()),
    T.StructField("retrieved", T.StringType()),
])

# ---------------------------------------------------------------------------
# Driver testdata schemas (/root/testdata/sf*/ parquet)
# ---------------------------------------------------------------------------

TESTDATA = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

TABLE_NAMES = tuple(TESTDATA)
