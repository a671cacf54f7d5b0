"""Dev smoke: run the flagship query at sf0.001."""
import os
import sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphdb_cia_factbook_spark.session import get_spark
from graphdb_cia_factbook_spark.flagship import flagship

t0 = time.time()
spark = get_spark()
df = flagship(spark, "/root/testdata/sf0.001")
rows = df.collect()
print(f"rows={len(rows)} in {time.time()-t0:.1f}s")
for r in rows[:5]:
    print(r)
