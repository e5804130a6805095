"""Drive __spark_entry__ exactly as the driver does: fresh plain SparkSession
(driver defaults, NOT our tuned session), entry() smoke, then every
queries()/oracle_sql() pair compared against DuckDB at sf0.01."""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the package too (Arrow UDFs pickle package
# functions by reference), and they inherit this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

df = e.entry(spark)
rows = df.collect()
print(f"entry: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

skip = set((sys.argv[2] if len(sys.argv) > 2 else "").split(",")) - {""}
qs, oracles = e.queries(), e.oracle_sql()
import time

for name, fn in qs.items():
    if name in skip:
        print(f"{name}: SKIPPED")
        continue
    t0 = time.time()
    sdf = fn(spark, sf)
    srows = sorted(tuple(str(x) for x in r) for r in sdf.collect())
    elapsed = time.time() - t0
    if name in oracles:
        drel = con.sql(oracles[name])
        drows = sorted(tuple(str(x) for x in r) for r in drel.fetchall())
        status = "MATCH" if srows == drows else "MISMATCH"
        print(f"{name}: spark={len(srows)} duckdb={len(drows)} "
              f"[{elapsed:.1f}s] -> {status}")
        if status == "MISMATCH":
            for a, b in zip(srows, drows):
                if a != b:
                    print("  spark :", a)
                    print("  duckdb:", b)
                    break
            sys.exit(1)
    else:
        print(f"{name}: rows-only, {len(srows)} rows")
print("ALL OK")
