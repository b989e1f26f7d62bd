"""Local stand-in for the driver's correctness gate.

Runs every queries()[name] on Spark and (where present) oracle_sql()[name] on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash (values normalized: floats rounded,
timestamps stringified, rows sorted).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from hdx_metadata_crawler_spark.session import C2_JIT_CONF, get_spark
from hdx_metadata_crawler_spark.sources.tables import TABLE_NAMES


def normalize_rows(cols, rows):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 4)
                if v == -0.0:
                    v = 0.0
                v = f"{v:.4f}"
            elif isinstance(v, bool):
                v = str(v).lower()
            elif v is None:
                v = "\0NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append("\x01".join(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark(
        "verify-local", master="local[8]", shuffle_partitions=8, extra_conf=C2_JIT_CONF
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [no oracle]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = [dict(zip(ocols, r)) for r in rel.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if sorted(scols) != sorted(ocols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if ok:
            sn = normalize_rows(scols, srows)
            on = normalize_rows(ocols, orows)
            if sn != on:
                ok = False
                diff = [(x, y) for x, y in zip(sn, on) if x != y][:3]
                msgs.append(f"valuehash mismatch; first diffs: {diff}")
        if ok:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {'; '.join(msgs)}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
