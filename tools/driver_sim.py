"""Simulate the external driver: vanilla session, import contract, smoke + t2."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

# deliberately vanilla: no nanosAsLong, no UTC tz — the driver's session, not ours
spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from tests.harness import canonical_rows, duck_con

df = E.entry(spark)
rows = df.collect()
print("SMOKE entry(): rows =", len(rows), "schema =", [f.name for f in df.schema.fields])
assert len(rows) > 0

SF = "/root/testdata/sf0.01"
con = duck_con(SF)

Q, O = E.queries(), E.oracle_sql()
ok = fail = 0
for k in sorted(Q):
    if k not in O:
        n = Q[k](spark, SF).count()
        print(f"  rows-only {k}: {n} rows"); ok += 1; continue
    sp = Q[k](spark, SF).toPandas()
    du = con.execute(O[k]).df()
    same = sorted(sp.columns) == sorted(du.columns) and canonical_rows(sp) == canonical_rows(du)
    status = "MATCH" if same else "MISMATCH"
    if status=="MATCH": ok+=1
    else: fail+=1
    print(f"  {status} {k}: {len(sp)} rows")
print(f"t2 sim: {ok} ok, {fail} mismatched")
sys.exit(1 if fail else 0)
