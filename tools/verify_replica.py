"""Driver replica: smoke entry() + full queries()/oracle_sql() parity at sf0.01.

The /verify recipe (.claude/skills/verify/SKILL.md) as a standalone
script: loads __spark_entry__.py by path, runs every registry query and
its DuckDB oracle side-by-side, compares sorted string frames with
normalized null spellings, and prints one line per entry with the Spark
seconds (query to pandas), the oracle seconds (DuckDB fetch), timed
separately, and `compiled N`: the generated classes Janino compiled
during the Spark call (CodegenMetrics delta), i.e. the entry's cold
compile cost less any classes earlier entries left in the cache.
Exit 0 = every query matches.

VERIFY_ONLY=q1,q2,... checks only the named entries; a name that is not
registered is printed and the script exits 2 before Spark starts.
"""
import importlib.util, sys, time
import duckdb, pandas as pd

spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

queries = mod.queries()
oracles = mod.oracle_sql()
only = __import__("os").environ.get("VERIFY_ONLY", "")
if only:
    names = [s.strip() for s in only.split(",") if s.strip()]
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"VERIFY_ONLY: unknown query name(s): {', '.join(unknown)}")
        sys.exit(2)
    queries = {k: v for k, v in queries.items() if k in names}

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from pos_pipeline_core_etl_spark.session import codegen_compile_count

t0 = time.time()
smoke = mod.entry(spark)
n = smoke.count()
print(f"SMOKE entry(): {n} rows, schema ok in {time.time()-t0:.1f}s")
assert n >= 0

SF = __import__("os").environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

fails = []
results = {}
for name, fn in queries.items():
    try:
        t1, c1 = time.time(), codegen_compile_count(spark)
        sdf = fn(spark, SF).toPandas()
        spark_s = time.time() - t1
        compiled = codegen_compile_count(spark) - c1
        if name not in oracles:
            print(f"  {name}: rows-only, {len(sdf)} rows, spark {spark_s:.2f}s compiled {compiled}")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        t1 = time.time()
        odf = con.execute(oracles[name]).fetchdf()
        oracle_s = time.time() - t1
        print(f"  {name}: spark {spark_s:.2f}s oracle {oracle_s:.2f}s compiled {compiled}", flush=True)
        if len(sdf) != len(odf):
            fails.append((name, f"rows {len(sdf)} vs {len(odf)}")); continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            fails.append((name, f"schema {scols} vs {ocols}")); continue
        a = sdf[scols].copy(); b = odf[scols].copy()
        for c in scols:
            a[c] = a[c].astype(str).replace({"nan": "NULL", "None": "NULL", "NaT": "NULL", "<NA>": "NULL"})
            b[c] = b[c].astype(str).replace({"nan": "NULL", "None": "NULL", "NaT": "NULL", "<NA>": "NULL"})
        a = a.sort_values(scols).reset_index(drop=True)
        b = b.sort_values(scols).reset_index(drop=True)
        if not a.equals(b) and len(a) > 0:
            diff = (a != b).any(axis=1)
            fails.append((name, f"values differ in {int(diff.sum())} rows"))
        else:
            results[name] = {"status": "green", "rows": len(sdf)}
    except Exception as e:
        fails.append((name, f"ERR {type(e).__name__}: {e}"))
for n_, m in fails:
    results[n_] = {"status": "fail", "detail": m[:300]}
print(f"checked {len(queries)} queries")

# Committed per-round artifact (VERDICT r7 #5): REPLICA_OUT=<path> writes
# {sf_key: {query: {status, rows}}}, merging across invocations so one
# file carries both the sf0.01 and sf0.1 sweeps of the same round.
out_path = __import__("os").environ.get("REPLICA_OUT", "")
if out_path:
    import json, os
    sf_key = os.path.basename(SF.rstrip("/"))
    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
    doc.setdefault(sf_key, {}).update(results)
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(f"wrote {out_path} [{sf_key}]: {len(results)} results")

if fails:
    for n_, m in fails: print("FAIL", n_, m[:300])
    sys.exit(1)
print("ALL GREEN")
