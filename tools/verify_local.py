"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf directory, then compares row count, column names,
and order-insensitive values. Usage:

    python tools/verify_local.py [sf_dir] [query ...]

Full-catalog runs (no explicit query args) also write a JSON artifact to
``bench_runs/verify_full_latest.json`` — one entry per query with status/
rows/seconds. Like bench.py's ``latest.json`` it is git-ignored, so a run
never dirties the tree; copy it to ``bench_runs/verify_full_r{N}.json`` to
commit a durable record of out-of-window health next to the driver's
50-query CORRECTNESS window.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from mapreduce_system_spark.session import get_spark  # noqa: E402
from mapreduce_system_spark.sources.tables import TABLES  # noqa: E402


def normalize(df):
    """pandas frame → sorted-by-all-columns, columns sorted by name."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


    from mapreduce_system_spark import caches
    from mapreduce_system_spark.registry import SF_BOUND_ORACLES

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # a typo would otherwise filter out EVERY query and exit 0 — a
        # false-green gate
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    if Path(sf_dir).name != "sf0.01":
        # these oracles read a side table the Spark query exports under an
        # sf-suffixed path; their SQL is static and names the sf0.01 export
        # (the driver's gate scale), so at any other sf they would compare
        # against the wrong corpus — fall back to rows-only with a note.
        for name in SF_BOUND_ORACLES & set(oracles):
            print(f"note {name}: oracle is sf0.01-bound; rows-only at {sf_dir}")
            del oracles[name]
    failures = []
    record: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            record[name] = {"status": "FAIL", "err": f"spark: {e}"[:300]}
            continue
        finally:
            caches.release()  # operator caches must not span queries
        took = round(time.time() - t0, 1)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {took:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows")
            record[name] = {"status": "rows-only", "rows": len(sdf), "sec": took}
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            record[name] = {"status": "FAIL", "err": f"duckdb: {e}"[:300]}
            continue
        s, o = normalize(sdf), normalize(odf)
        if len(s) != len(o):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(s)} duckdb={len(o)}")
            record[name] = {"status": "FAIL", "err": f"rows {len(s)} vs {len(o)}"}
            continue
        if list(s.columns) != list(o.columns):
            failures.append(name)
            print(f"FAIL {name}: cols spark={list(s.columns)} duckdb={list(o.columns)}")
            record[name] = {"status": "FAIL", "err": "column mismatch"}
            continue
        mismatch = None
        for c in s.columns:
            sv, ov = s[c].astype(str).values, o[c].astype(str).values
            bad = (sv != ov).nonzero()[0]
            if len(bad):
                i = int(bad[0])
                mismatch = f"col {c} row {i}: spark={sv[i]!r} duckdb={ov[i]!r} ({len(bad)} diffs)"
                break
        if mismatch:
            failures.append(name)
            print(f"FAIL {name}: {mismatch}")
            record[name] = {"status": "FAIL", "err": mismatch[:300]}
        else:
            print(f"PASS {name} ({len(s)} rows, {took:.1f}s)")
            record[name] = {"status": "PASS", "rows": len(s), "sec": took}

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if not only:  # full-catalog runs leave a durable committable artifact
        import json

        out = REPO / "bench_runs" / "verify_full_latest.json"
        try:
            out.write_text(
                json.dumps(
                    {
                        "sf_dir": sf_dir,
                        "n_queries": len(record),
                        "n_pass": sum(
                            1 for r in record.values() if r["status"] == "PASS"
                        ),
                        "failures": failures,
                        "queries": record,
                    },
                    indent=1,
                    sort_keys=True,
                )
                + "\n"
            )
            print(f"wrote {out}")
        except OSError as e:
            print(f"artifact persist skipped: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
