"""Drive the __spark_entry__ contract end-to-end, like the driver does:
(the verification harness — run `python scripts/drive_contract.py` for the
full sweep or pass query names for a targeted re-drive)
every queries() entry through Spark AND its oracle_sql() through DuckDB,
compared on row count, sorted column names, and an order-insensitive
value hash."""
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import rclabsapi_spark.session as session
from __spark_entry__ import entry, oracle_sql, queries

# override for spot-checks at other scales (the driver pins sf0.01)
SF_DIR = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    only = set(sys.argv[1:])
    spark = session.get_spark("drive")
    df = entry(spark)
    n = len(df.collect())
    print(f"entry(): {n} rows, schema {df.columns}", flush=True)

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    failing, rows_only = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failing.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}", flush=True)
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows-only {name}: {len(srows)} rows ({time.time()-t0:.1f}s)",
                  flush=True)
            continue
        try:
            rel = duck.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            failing.append((name, f"oracle error: {e}"))
            print(f"FAIL {name}: oracle error: {e}", flush=True)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        elif value_hash(scols, srows) != value_hash(ocols, orows):
            problems.append("value hash mismatch")
        if problems:
            failing.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}", flush=True)
        else:
            print(f"ok {name} ({time.time()-t0:.1f}s)", flush=True)

    print(f"\n{len(failing)} failing, {len(rows_only)} rows-only, "
          f"{len(qs) if not only else len(only)} total")
    for name, why in failing:
        print(f"  FAIL {name}: {why}")
    sys.exit(1 if failing else 0)


if __name__ == "__main__":
    main()
