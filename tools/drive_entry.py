"""Simulate the driver: import __spark_entry__, smoke entry(), then run
every queries() entry at sf0.01 vs oracle_sql() in DuckDB.

Optional argv: substring filters — only queries whose name contains any
given substring are driven (the full suite runs when no args are given,
which is what the real driver does)."""
import os, sys, math, time
from pathlib import Path
ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# the Python workers import the package too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
import duckdb
import __spark_entry__ as ent
from pyspark.sql import SparkSession

# as many task slots and shuffle partitions as the host has CPUs
N = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
spark = (SparkSession.builder.master(f"local[{N}]")
         .appName("driver-sim")
         .config("spark.sql.shuffle.partitions", str(N))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# 1. smoke: entry()
df = ent.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.columns}")
assert len(rows) > 0

# 2. correctness at sf0.01
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    def cell(v):
        if v is None: return "~"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6f}"
        return str(v)
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)

qs, oracles = ent.queries(), ent.oracle_sql()
if len(sys.argv) > 1:
    pats = sys.argv[1:]
    qs = {n: f for n, f in qs.items() if any(p in n for p in pats)}
    print(f"(filtered to {len(qs)} queries matching {pats})")
ok = bad = 0
for name, fn in qs.items():
    t0 = time.time()
    try:
        sdf = fn(spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001 — a crash is a red row, not a dead run
        bad += 1
        print(f"  {name}: *** ERROR *** {e}")
        continue
    if name not in oracles:
        print(f"  {name}: rows-only, {len(srows)} rows [{time.time()-t0:.1f}s]")
        continue
    rel = con.execute(oracles[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    match = (sorted(sdf.columns) == sorted(dcols) and len(srows) == len(drows)
             and canon(srows, sdf.columns) == canon(drows, dcols))
    ok += match; bad += (not match)
    print(f"  {name}: {'MATCH' if match else '*** MISMATCH ***'} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
print(f"\n{ok} match, {bad} mismatch of {len(qs)} queries")

sys.exit(1 if bad else 0)
