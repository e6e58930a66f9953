#!/usr/bin/env python
"""Dump .explain("formatted") for named corpus queries into plans/<round>/.

Usage: python scripts/dump_plans.py <round> <suffix> q1,q2,...
Writes plans/<round>/<query>_<suffix>.txt (round = r14, r15, …;
suffix = before|after).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.operators import cache
from us_weather_energy_analysis_pipeline_spark.session import get_spark


def main() -> None:
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark("dump-plans", master=os.environ.get("PLANS_MASTER", "local[4]"))
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        df = q.spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        cache.release_all()
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
