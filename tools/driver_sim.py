"""Simulate the driver's t1 smoke + t2 correctness pass at sf0.01."""
import hashlib
import os
import sys

# grade the checkout this script sits in, whichever directory that is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as e
from pyspark.sql import SparkSession

SF = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")

# VANILLA session on purpose: the driver builds its own SparkSession with
# none of the engine's builder confs (session.py), so replaying the gate
# through get_session() would hide any conf the engine forgot to set at
# runtime (this exact bug cost 19 rows in round 1 — nanosAsLong lived only
# in the builder).  Do not "fix" this back to get_session().
# SIM_CONF="k=v,k=v" overlays extra session confs for cluster-shape smokes
# (e.g. spark.sql.shuffle.partitions=200) — default stays vanilla EXCEPT
# driver memory: a 1g-heap sim session OOMs ~query 127 of a full-registry
# sf0.1 replay (r6 evidence needed manual chunking); the engine's own
# sessions already default to 8g (session.py), and driver memory is a
# harness knob, not a correctness conf the engine could forget to set.
# SIM_CONF can still override it.
_builder = (
    SparkSession.builder.master("local[32]")
    .appName("driver-sim")
    .config("spark.driver.memory", "8g")
)
for _kv in filter(None, os.environ.get("SIM_CONF", "").split(",")):
    _k, _, _v = _kv.partition("=")
    _builder = _builder.config(_k.strip(), _v.strip())
spark = _builder.getOrCreate()

# t1 smoke
df = e.entry(spark)
rows = df.collect()
print(f"t1 entry: {len(rows)} rows, schema={df.columns}", flush=True)
# the real driver's t1 gate is rows > 0; a >= 0 check here once made a
# 0-row entry() regression invisible to the sim
assert len(rows) > 0, "entry() returned no rows — the driver's t1 gate reds"

# t2 oracle comparison
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(repr(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()

q = e.queries()
o = e.oracle_sql()
fails = []
# iterate in registry order (the driver's order), not sorted: a positional
# evaluation window means the FIRST 50 entries are what gets graded
from sql_query_optimizer_cpp_spark.operators.cache import release_cached

from pyspark.sql.types import ArrayType, MapType, StructType

# SIM_ONLY=name1,name2 restricts the replay (targeted stress runs at
# bigger SFs, where the full 187-query sweep would take hours)
only = os.environ.get("SIM_ONLY")
if only:
    wanted = {n.strip() for n in only.split(",") if n.strip()}
    missing = wanted - set(q)
    if missing:
        raise SystemExit(f"SIM_ONLY names not in registry: {sorted(missing)}")
    q = {n: fn for n, fn in q.items() if n in wanted}

for name in q:
    sdf = q[name](spark, SF)
    # The real driver hash-compares through a pandas DataFrame whose
    # factorize() dies on list/dict cells (TypeError: unhashable type) —
    # the r04 agg_array_collect / text_minhash_signature reds.  The sim's
    # repr()-based hasher happily hashed them, so the gap was invisible
    # locally.  Fail ANY graded query with a nested top-level column so
    # this class of red reproduces before the driver sees it.
    if name in o:
        nested = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            fails.append((name, "nested-top-level-columns", nested))
            print(
                f"  {name}: FAIL nested top-level columns {nested} — the "
                "driver's pandas hasher cannot grade these; serialize the "
                "projection (array_join / to_json)"
            )
            # still drop tracked persists: skipping the release here would
            # leak this query's caches into the rest of the marathon
            release_cached()
            continue
    srows = [tuple(r) for r in sdf.collect()]
    # drop tracked persists (shingle/edge frames) now that the query is
    # collected: across a 150+-query marathon in one 1g vanilla session
    # they otherwise accumulate and OOM the heap around query ~140 — the
    # real driver's 50-query window never gets there, but the sim must
    release_cached()
    if name not in o:
        print(f"  {name}: rows-only check, {len(srows)} rows")
        continue
    rel = con.sql(o[name])
    # fetch via Arrow, not fetchall(): the driver does, and the two differ
    # on wide types — e.g. DuckDB window SUM(BIGINT) yields HUGEINT, which
    # fetchall() silently narrows to int but Arrow surfaces as
    # decimal128(38,0) -> Decimal -> (driver norm) float -> repr mismatch
    # against Spark's int.  This exact gap hid the pack_sequences r03 red.
    tbl = rel.fetch_arrow_table()
    # build tuples POSITIONALLY from the Arrow columns, not via to_pylist()
    # dicts: an oracle emitting duplicate column names would silently
    # collapse to one value per name and shift every tuple
    drows = list(zip(*(col.to_pylist() for col in tbl.columns))) if tbl.num_columns else []
    if tbl.num_rows and not drows:
        drows = [()] * tbl.num_rows
    scols = [c.lower() for c in sdf.columns]
    dcols = [c.lower() for c in rel.columns]
    ok_schema = sorted(scols) == sorted(dcols)
    ok_count = len(srows) == len(drows)
    # normalize: Decimal->float, datetime->iso
    import datetime
    from decimal import Decimal
    def norm(v):
        if isinstance(v, Decimal): return float(v)
        if isinstance(v, datetime.datetime): return v.replace(tzinfo=None).isoformat()
        return v
    sh = value_hash(scols, [[norm(x) for x in r] for r in srows])
    dh = value_hash(dcols, [[norm(x) for x in r] for r in drows])
    ok_hash = sh == dh
    status = "OK" if (ok_schema and ok_count and ok_hash) else "FAIL"
    if status == "FAIL":
        fails.append((name, ok_schema, ok_count, ok_hash))
    print(f"  {name}: {status} rows={len(srows)}/{len(drows)} schema={ok_schema} hash={ok_hash}")

print(f"\n{len(q)} queries, {len(o)} with oracles, {len(fails)} FAIL")
if fails:
    print("FAILURES:", fails)
    sys.exit(1)
print("ALL MATCH")
spark.stop()
