import duckdb, json, sys, glob, math, datetime
import pandas as pd
import pyarrow.parquet as pq

# Local mirror of the driver's oracle compare.
#
# r5 POSTMORTEM (VERDICT r5, "What's wrong" #2): the previous version of
# this tool read the SPARK parquet back through DuckDB `read_parquet`,
# which converts Spark's exact parquet DECIMAL/int64 columns through the
# same computed-decimal -> float64 path as the oracle side — masking
# exactly the type-representation mismatches the driver DOES see (the
# driver reads Spark output with pandas/pyarrow, so a computed DuckDB
# DECIMAL/HUGEINT materializing as float64 hashes differently from
# Spark's exact Decimal objects / int64).  This version reads the Spark
# parquet with pyarrow directly (Decimal objects and all) and uses a
# TYPE-TAGGED normalization, so a float64-vs-Decimal or float64-vs-int64
# divergence fails HERE the way it fails at the driver.  Verified: run
# against the unfixed r5 outputs it reproduces the six r5 hash failures
# (q181/q186/q192/q194/q195/q198); after the r6 Spark-side casts it
# reports 0 fails.

# usage: compare_oracle.py [sfdir] [outdir] [name,name,...]
# The optional third argument compares only the listed queries (exact
# names as in oracle_sql.json); without it every query is compared.
sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.001'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_sf0001'
only = [n for n in sys.argv[3].split(',') if n] if len(sys.argv) > 3 else None

con = duckdb.connect()
for tbl in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sfdir}/{tbl}.parquet'")

oracle = json.load(open(f'{outdir}/oracle_sql.json'))
if only is not None:
    unknown = sorted(set(only) - set(oracle))
    if unknown:
        sys.exit(f'unknown query names: {unknown}')
    oracle = {n: oracle[n] for n in only}

def norm(v):
    # type-tagged: floats never compare equal to exact (int/Decimal)
    # values, mirroring the driver's pandas-level hashing; int width and
    # int-vs-Decimal do not matter (both str to the same digits).
    if isinstance(v, float):
        if math.isnan(v): return 'f:nan'
        return f'f:{v:.9g}'
    if isinstance(v, pd.Timestamp):
        # Spark parquet timestamps come back tz-aware (UTC-adjusted),
        # DuckDB's come back naive — same instant, one canonical form
        if v.tzinfo is not None:
            v = v.tz_convert('UTC').tz_localize(None)
        return f'v:{v}'
    if isinstance(v, (list, tuple)) or type(v).__name__ == 'ndarray':
        return 'v:[' + ','.join(norm(x) for x in v) + ']'
    return f'v:{v}'

fails = 0
for name, sql in sorted(oracle.items()):
    files = sorted(glob.glob(f'{outdir}/{name}/*.parquet'))
    if not files:
        print(f'{name}: NO SPARK OUTPUT'); fails += 1; continue
    # the driver reads Spark output with pandas/pyarrow: decimals stay
    # exact Decimal objects, longs stay int64 — do the same
    sp = pq.ParquetDataset(files).read().to_pandas()
    spark_df = list(sp.itertuples(index=False, name=None))
    spark_cols = list(sp.columns)
    try:
        duck = con.sql(sql).df()
        duck_cols = list(duck.columns)
        duck_rows = list(duck.itertuples(index=False, name=None))
    except Exception as e:
        print(f'{name}: ORACLE SQL ERROR: {e}'); fails += 1; continue
    if sorted(spark_cols) != sorted(duck_cols):
        print(f'{name}: SCHEMA MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}'); fails += 1; continue
    # sort columns by name, rows by value
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s = sorted(tuple(norm(r[i]) for i in sidx) for r in spark_df)
    d = sorted(tuple(norm(r[i]) for i in didx) for r in duck_rows)
    if s == d:
        print(f'{name}: OK ({len(s)} rows)')
    else:
        fails += 1
        print(f'{name}: MISMATCH spark={len(s)} duck={len(d)} rows')
        so, do = set(s), set(d)
        for x in list(so - do)[:3]: print('  spark-only:', x)
        for x in list(do - so)[:3]: print('  duck-only :', x)
print('FAILS:', fails)
