"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle SQL on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys

# import the package from the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from nexus_forge_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str] | None = None, tz: str | None = None,
         json_path: str | None = None, ansi: str | None = None) -> int:
    spark = get_spark("oracle-check", shuffle_partitions=16)
    if ansi is not None:
        # Env-matrix axis: the driver's Spark session may run with ANSI SQL
        # mode either way (Spark 4 flipped the default to on); every
        # contract query must produce identical values under both.
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    if tz:
        # Simulate a DRIVER session that does not run in UTC: queries must
        # still hash-match the (timezone-free) DuckDB oracle because
        # sources.load_table pins spark.sql.session.timeZone=UTC on the
        # session it is handed — the round-2 cube_revenue red cell was a
        # non-UTC driver session shifting month(l_shipdate) boundaries.
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    results: dict[str, dict] = {}
    for name in sorted(set(only or ()) - set(qs)):
        print(f"FAIL {name}: no such contract query")
        failures += 1
        results[name] = {"err": "unknown query name"}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failures += 1
            results[name] = {"err": f"spark: {str(e)[:200]}"}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            results[name] = {"rows_only": True, "spark_rows": len(srows), "err": None}
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            results[name] = {"err": f"duckdb: {str(e)[:200]}"}
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = frame_hash(scols, srows) == frame_hash(dcols, drows) if ok_cols else False
        status = "OK  " if (ok_count and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        results[name] = {
            "rows_match": ok_count,
            "schema_match": ok_cols,
            "hash_match": ok_hash,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        print(
            f"{status} {name}: rows spark={len(srows)} duck={len(drows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} hash={'=' if ok_hash else 'MISMATCH'}"
        )
        if not ok_hash and ok_cols and srows and drows:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_set = {"|".join(norm_cell(r[i]) for i in order) for r in srows}
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            d_set = {"|".join(norm_cell(r[i]) for i in dorder) for r in drows}
            for ln in list(s_set - d_set)[:3]:
                print(f"   spark-only: {ln[:160]}")
            for ln in list(d_set - s_set)[:3]:
                print(f"   duck-only : {ln[:160]}")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_path:
        import datetime
        import json

        payload = {
            "_meta": {
                "sf_dir": SF_DIR,
                "session_timezone": tz or "UTC (get_spark default)",
                "n_queries": len(results),
                "n_failures": failures,
                "date": datetime.date.today().isoformat(),
            },
            **results,
        }
        with open(json_path, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    _tz, _json, _ansi, _names = None, None, None, []
    for a in sys.argv[1:]:
        if a.startswith("--tz="):
            _tz = a[5:]
        elif a.startswith("--json="):
            _json = a[7:]
        elif a.startswith("--ansi="):
            _ansi = a[7:]
        else:
            _names.append(a)
    sys.exit(main(_names or None, tz=_tz, json_path=_json, ansi=_ansi))
