"""Local replica of the driver's per-query correctness sweep.

Runs every ``plans.suites.FULL_QUERIES`` entry (the ≤50-entry scored
registry plus each fine-grained query the suites subsume) at a given sf
dir, compares each against its oracle SQL via DuckDB over the same
parquet tables (row-count + schema + order-insensitive canonical value
comparison), and prints one status line per query.  Queries with no
oracle get a rows-only check (the canonicalizer must still not crash —
that is what broke x21 in round 1).  The full-run output is committed
per round as ``SWEEP_r{N}.txt``.

Usage:
    python tools/local_sweep.py [sf_dir] [query ...]
    # default sf_dir=/root/testdata/sf0.01, default = all queries
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    import duckdb

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import suites
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import get_spark
    from oracle_compare import _canon, compare

    raw = sys.argv[1:]
    argv, confs, i = [], {}, 0
    while i < len(raw):
        if raw[i] == "--ansi-off":
            confs["spark.sql.ansi.enabled"] = "false"
        elif raw[i] == "--conf" and i + 1 < len(raw):
            k, _, v = raw[i + 1].partition("=")
            confs[k] = v
            i += 1
        else:
            argv.append(raw[i])
        i += 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    # FULL registry: the ≤50 scored entries plus every fine-grained query
    # the suites subsume — the committed sweep covers all of them.
    queries = suites.FULL_QUERIES
    oracles = suites.FULL_ORACLE
    wanted = argv[1:] or list(queries)

    # Differential-mode confs: --ansi-off proves a legacy-mode user gets
    # the same hashes (the contracts were built under Spark 4 ANSI mode,
    # try_cast/try_to_date everywhere a cast can fail); --conf k=v runs
    # the sweep under any engine knob (e.g. AQE off).
    spark = get_spark(extra_conf=confs or None)
    for k in confs:
        print(f"# {k}={spark.conf.get(k)}")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = 0
    for name in wanted:
        fn = queries[name]
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                try:
                    n_rows = compare(df, con.sql(oracles[name]))
                    status, detail = "PASS", f" rows={n_rows}"
                except AssertionError as exc:
                    failures += 1
                    status, detail = "FAIL", f" {exc}"
            else:
                # rows-only canonicalization must not crash (x21's r1 bug)
                canon = [tuple(_canon(v) for v in row) for row in df.collect()]
                status, detail = "ROWS_ONLY", f" rows={len(canon)}"
            print(f"{status:9s} {name}{detail}  ({time.time() - t0:.1f}s)", flush=True)
        except Exception:
            failures += 1
            print(f"ERROR     {name}  ({time.time() - t0:.1f}s)", flush=True)
            traceback.print_exc()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
