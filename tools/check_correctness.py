"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given sf dir, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

Unknown query names are listed and exit 2 before a Spark session starts.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meshtastic_airsensor_database_spark.io_utils import table_path
from meshtastic_airsensor_database_spark.schemas import TESTDATA_TABLES
from meshtastic_airsensor_database_spark.session import get_spark

import __spark_entry__ as entrymod


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:  # NaN
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qmap = entrymod.queries()
    unknown = sorted(only - qmap.keys())
    if unknown:
        print(f"unknown queries {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    omap = entrymod.oracle_sql()
    failures = 0
    for name, builder in qmap.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures += 1
            continue
        if name not in omap:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ores = con.sql(omap[name])
            orows = [tuple(r) for r in ores.fetchall()]
            ocols = list(ores.columns)
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        elif value_hash(scols, srows) != value_hash(ocols, orows):
            problems.append("value hash mismatch")
            sset = {tuple(_norm_cell(v) for v in r) for r in srows}
            oset = {tuple(_norm_cell(v) for v in r) for r in orows}
            s_only = list(sset - oset)[:3]
            o_only = list(oset - sset)[:3]
            if s_only:
                problems.append(f"spark-only sample: {s_only}")
            if o_only:
                problems.append(f"duckdb-only sample: {o_only}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
