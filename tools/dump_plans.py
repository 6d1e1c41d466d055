"""Dump .explain('formatted') for named queries to plans/<round>/<query>_<suffix>.txt.

Usage: [SPARK_GRAFT_PLAN_ROUND=rNN] python tools/dump_plans.py <suffix> qNN_name [qNN_name ...]
Writes plans/<round>/<query>_<suffix>.txt, where <round> is
SPARK_GRAFT_PLAN_ROUND (default r11); plan claims are checked there.
Tables come from SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from apache_arrow_spark.queries import QUERIES
    from apache_arrow_spark.session import get_spark

    spark = get_spark(app_name=f"aas-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
