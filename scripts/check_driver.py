"""Local replica of the driver's correctness check: run every
queries() entry at sf0.01 (or $1), run the oracle_sql() twin in
DuckDB over the same parquet views, compare row-count + column names
+ order-insensitive value hash. Exit nonzero on any mismatch.
"""

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from miekki.session import build_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# oracles that embed a fit from the parquet (quality_clf) must fit at
# the sf this check runs at, not the driver's default sf0.01
os.environ["MIEKKI_ORACLE_SF_DIR"] = SF_DIR
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, round floats, sort rows
    by stringified tuple, sha256."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    rows = sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = build_spark(master="local[16]", shuffle_partitions=16)
    qs, osql = entrymod.queries(), entrymod.oracle_sql()

    print(f"== entry() smoke ==", flush=True)
    t0 = time.time()
    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"entry: {n} rows, schema={[f.name for f in edf.schema]}"
          f" ({time.time()-t0:.0f}s)", flush=True)
    assert n >= 0

    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa
            failures.append((name, f"SPARK ERROR {exc}"))
            print(f"{name:18s} SPARK ERROR: {str(exc)[:200]}", flush=True)
            continue
        if name not in osql:
            failures.append((name, "NO ORACLE"))
            print(f"{name:18s} NO ORACLE: {len(sdf):7d} rows"
                  f" ({time.time()-t0:.0f}s)", flush=True)
            continue
        try:
            odf = con.sql(osql[name]).df()
        except Exception as exc:  # noqa
            failures.append((name, f"DUCKDB ERROR {exc}"))
            print(f"{name:18s} DUCKDB ERROR: {str(exc)[:200]}", flush=True)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
        status = "OK " if not problems else "FAIL " + "; ".join(problems)
        print(f"{name:18s} {len(sdf):7d} rows  {status} ({time.time()-t0:.0f}s)",
              flush=True)
        if problems:
            failures.append((name, problems))
            print("  spark:", sdf.head(3).to_dict("records"))
            print("  duck :", odf.head(3).to_dict("records"))
    spark.stop()
    print(f"\n{len(failures)} failures / {len(qs)} queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
