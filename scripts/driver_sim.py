"""Simulate the verification driver: plain SparkSession (none of the
engine's configs), call the __spark_entry__ contract exactly as the
driver would, and hash-compare queries() vs oracle_sql() via DuckDB.

Usage: python scripts/driver_sim.py [output.json]
With an output path, writes a machine-readable per-query result file
(the DRIVER_SIM_r{N}.json artifact VERDICT r01 item 6 asks for).
Set DRIVER_SIM_ONLY=slug1,slug2 to check a subset while iterating."""
import json, os, sys, hashlib, datetime, decimal, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

SF = "/root/testdata/sf0.01"
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())

import __spark_entry__ as entrymod

# t1 smoke
df = entrymod.entry(spark)
rows = df.collect()
assert len(rows) > 0, "entry returned 0 rows"
print(f"t1 SMOKE OK: entry() -> {len(rows)} rows, schema={df.schema.simpleString()}")

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if v is None: return "NULL"
    if isinstance(v, decimal.Decimal): return repr(float(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)): return v.isoformat()
    if hasattr(v, "isoformat"): return v.isoformat()
    return repr(v)

def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines: h.update(ln.encode()); h.update(b"\n")
    return h.hexdigest()

# The canonicalization gate lives in the library package (one
# definition; tests re-export it), so the gate the tests pin is the
# literal function this script runs (VERDICT r03 item #2) and this
# script imports nothing from the tests tree.
from nomad_event_streamer_spark.harness import driver_canonicalize  # noqa: E402

qs, oracles = entrymod.queries(), entrymod.oracle_sql()
_only = {s for s in os.environ.get("DRIVER_SIM_ONLY", "").split(",") if s}
if _only:
    qs = {k: v for k, v in qs.items() if k in _only}
n_pass = n_fail = n_rows_only = 0
results = {}
for name in sorted(qs):
    sdf = qs[name](spark, SF)
    # cache before the two actions (collect for the hash rows, toPandas
    # for the driver-canonicalization gate) so each query's DAG executes
    # once, not twice — halves the Spark-side cost of the 239-query sim
    sdf = sdf.persist()
    try:
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        # The real driver canonicalizes EVERY query's output through
        # pandas — rows-only ones included — so gate unconditionally
        # before comparing.
        try:
            driver_canonicalize(sdf.toPandas())
        except Exception as exc:  # the driver would record a hard FAIL
            n_fail += 1
            results[name] = {"status": "fail", "rows": len(srows),
                             "canonicalize_error": f"{type(exc).__name__}: {exc}"}
            print(f"  {name}: FAIL canonicalize ({type(exc).__name__}: {exc})")
            continue
    finally:
        sdf.unpersist()
    if name not in oracles:
        status = "ROWS_ONLY" if len(srows) >= 0 else "??"
        n_rows_only += 1
        results[name] = {"status": "rows_only", "rows": len(srows)}
        print(f"  {name}: {status} rows={len(srows)}")
        continue
    # Arrow fetch mirrors the real driver: HUGEINT -> decimal128 -> Decimal,
    # so int64/HUGEINT oracle drift fails here instead of only in the driver.
    tbl = con.execute(oracles[name]).fetch_arrow_table()
    dcols = tbl.column_names
    drows = list(zip(*[c.to_pylist() for c in tbl.columns])) if dcols else []
    try:
        driver_canonicalize(tbl.to_pandas())
    except Exception as exc:
        n_fail += 1
        results[name] = {"status": "fail", "rows": len(srows),
                         "canonicalize_error": f"oracle side: {type(exc).__name__}: {exc}"}
        print(f"  {name}: FAIL oracle canonicalize ({type(exc).__name__}: {exc})")
        continue
    ok_schema = sorted(scols) == sorted(dcols)
    ok_count = len(srows) == len(drows)
    ok_hash = value_hash(scols, srows) == value_hash(dcols, drows)
    results[name] = {
        "status": "match" if (ok_schema and ok_count and ok_hash) else "fail",
        "rows": len(srows), "schema_match": ok_schema,
        "count_match": ok_count, "hash_match": ok_hash,
    }
    if ok_schema and ok_count and ok_hash:
        n_pass += 1; print(f"  {name}: MATCH rows={len(srows)}")
    else:
        n_fail += 1; print(f"  {name}: FAIL schema={ok_schema} count={ok_count} ({len(srows)} vs {len(drows)}) hash={ok_hash}")
print(f"t2 CORRECTNESS: {n_pass} match, {n_fail} fail, {n_rows_only} rows-only")
if len(sys.argv) > 1:
    with open(sys.argv[1], "w", encoding="utf-8") as fh:
        json.dump({"sf_dir": SF, "n_match": n_pass, "n_fail": n_fail,
                   "n_rows_only": n_rows_only, "queries": results}, fh, indent=1)
sys.exit(1 if n_fail else 0)
