"""Capture .explain('formatted') output for named queries into
plans/<round>/<query>_<tag>.txt -- an optimization round's before/after
plan evidence, checked against the plan claims made for that round.

Usage: python tools/capture_plans.py <round> <before|after> [query ...]
e.g. ``python tools/capture_plans.py r19 after m22_cow_change_feed``.
Defaults to the bench HEADLINE set when no query names are given.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    import __spark_entry__ as ent
    from bench import HEADLINE
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture_plans", master="local[4]",
                      shuffle_partitions=4)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = ent.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = spark._jsparkSession.sessionState().executePlan(
            df._jdf.queryExecution().logical(),
            spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL(),
        ).explainString(mode)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
