"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every queries() entry at a given sf_dir and compares against its
oracle_sql() twin: row count, sorted-column schema names, and an
order-insensitive value hash (per-cell stringification with float
normalization). Prints one line per query.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, also writes one machine-readable record per query
({status: ok|rows_only|fail, rows, detail}) plus a summary header —
the committable evidence artifact for full-registry sweeps.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from kafka_streams_homework_spark.session import get_spark  # noqa: E402
from kafka_streams_homework_spark.sources.batch import TABLES  # noqa: E402


def norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def table_digest(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    import hashlib

    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    # Accept --json anywhere before positional parsing; reject any other
    # flag-looking token so a misplaced option can never be silently
    # consumed as a query name (which once produced a false-green
    # "0 queries, 0 failures" sweep artifact).
    positional: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--json":
            if i + 1 >= len(argv):
                print("error: --json requires an output path", file=sys.stderr)
                return 2
            json_out = argv[i + 1]
            i += 2
        elif a.startswith("--"):
            print(f"error: unknown option {a!r}", file=sys.stderr)
            return 2
        else:
            positional.append(a)
            i += 1
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"
    only = set(positional[1:])
    records: dict[str, dict] = {}

    import __spark_entry__ as E

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            records[name] = {"status": "fail", "detail": f"spark error: {ex}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            records[name] = {"status": "rows_only", "rows": len(srows)}
            continue
        try:
            rel = con.sql(oracles[name])
            orows = rel.fetchall()
            ocols = [d[0] for d in rel.description]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            records[name] = {"status": "fail", "detail": f"duckdb error: {ex}"}
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            sh = table_digest([r[::1] for r in srows], scols)
            oh = table_digest(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            records[name] = {
                "status": "fail",
                "rows": len(srows),
                "detail": "; ".join(problems),
            }
            failures += 1
            # show a sample diff
            sset = {
                tuple(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                for r in srows
            }
            oset = {
                tuple(norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i]))
                for r in orows
            }
            for x in list(sset - oset)[:3]:
                print(f"      spark-only: {x}")
            for x in list(oset - sset)[:3]:
                print(f"      duckdb-only: {x}")
        else:
            print(f"OK    {name}: {len(srows)} rows")
            records[name] = {"status": "ok", "rows": len(srows)}
        # drop per-query persists right away: a 149-query sweep must not
        # let one query's cached shingle table squat on executor storage
        # (or heap) while the next hundred run
        from kafka_streams_homework_spark.caching import release_caches

        release_caches()
    print(f"\n{failures} failures")
    if json_out:
        import json

        n_ok = sum(1 for r in records.values() if r["status"] == "ok")
        n_rows = sum(1 for r in records.values() if r["status"] == "rows_only")
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(records),
                    "ok": n_ok,
                    "rows_only": n_rows,
                    "failures": failures,
                    "queries": records,
                },
                fh,
                indent=1,
            )
            fh.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
