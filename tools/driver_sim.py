"""Simulate the driver: vanilla SparkSession -> entry() smoke +
queries()/oracle_sql() contract checks (schema stability, ≥0 rows)."""
import os
import sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[*]")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as m

t0 = time.time()
df = m.entry(spark)
rows = df.collect()
print(f"entry(): rows={len(rows)} schema={[f.name for f in df.schema.fields]} "
      f"in {time.time()-t0:.1f}s")
print("sample:", rows[0])

qs, os_ = m.queries(), m.oracle_sql()
print(f"queries={len(qs)} oracles={len(os_)} "
      f"missing_oracle={sorted(set(qs) - set(os_))}")

# one query at each sf through the driver-style session
for sfd in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
    t0 = time.time()
    n = qs["p1_filter_in_skip"](spark, sfd).count()
    print(f"p1_filter_in_skip@{sfd}: rows={n} in {time.time()-t0:.1f}s")
