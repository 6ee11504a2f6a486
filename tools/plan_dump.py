"""Dump `.explain("formatted")` for named queries to
plans/<out-subdir>/<query>_<tag>.txt — the before/after plan evidence
an optimization commits next to its claim.

Usage: python tools/plan_dump.py <out-subdir> <tag> query [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    subdir, tag, *names = sys.argv[1:]
    out_dir = os.path.join(REPO, "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import (
        extensions,
        suites,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
        get_spark,
        scratch_dir,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        DEFAULT_SF_DIR as sf_dir,
    )

    # the persisted-index registry entries localCheckpoint their
    # result, which hides the scoring plan behind Scan ExistingRDD;
    # build each index at a root this tool owns and explain the live
    # serving frame instead
    spark = get_spark(app_name=f"plan-dump-{subdir}-{tag}")
    for name in names:
        with scratch_dir(f"{name}_plan_") as root:
            if name in extensions.SERVING_FRAMES:
                df = extensions.SERVING_FRAMES[name](spark, sf_dir, root)
            else:
                df = suites.FULL_QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
