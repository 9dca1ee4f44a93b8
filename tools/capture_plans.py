#!/usr/bin/env python3
"""Capture .explain("formatted") for named queries into
plans/$PLANS_ROUND/<q>_<tag>.txt (PLANS_ROUND defaults to r13).

Usage: python tools/capture_plans.py <tag> [query ...]
With no query names, captures every bench.HEADLINE query.
Planning only — nothing is executed, so this is cheap and safe to run
alongside other work. Uses the same staged layout as bench.py so the
plans match what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pixels_spark import config
from pixels_spark.queries import load_all_modules
from pixels_spark.session import local_session


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    registry = load_all_modules()
    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    staged_dir, *_ = bench.prepare(spark, config.DEFAULT_SF_DIR)
    if not names:
        names = list(bench.HEADLINE)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r13"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, staged_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
