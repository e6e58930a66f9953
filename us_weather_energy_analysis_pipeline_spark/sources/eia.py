"""EIA hourly-demand source (reference S3, `data_fetcher.py:57-125`).

Same landing pattern as NOAA: raw paginated JSON pages land verbatim;
schema-on-read explodes ``response.data``. The server-side pagination /
sort (`data_fetcher.py:94-119`) is ingestion plumbing — ordering is
re-imposed in-engine, never assumed from the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.schemas import EIA_RAW_SCHEMA
from us_weather_energy_analysis_pipeline_spark.session import checkpointed_columns_df


def read_eia_landing(spark: SparkSession, path: str, city: str | None = None) -> DataFrame:
    """Read landed EIA JSON page(s) → (city?, period_str, value_str)."""
    raw = spark.read.schema(EIA_RAW_SCHEMA).json(path)
    return flatten_eia(raw, city)


def flatten_eia(raw: DataFrame, city: str | None = None) -> DataFrame:
    """Explode {"response": {"data": [...]}} → one row per hourly reading
    (reference `data_processor.py:66-76`). ``value`` stays a string here;
    the numeric coercion (null-on-garbage) happens in the transform so the
    semantics live in one place."""
    rows = raw.select(F.explode_outer("response.data").alias("r")).select(
        F.col("r.period").alias("period_str"),
        F.col("r.value").alias("value_str"),
    )
    if city is not None:
        rows = rows.withColumn("city", F.lit(city))
    return rows


def eia_records_df(spark: SparkSession, payloads: dict[str, dict]) -> DataFrame:
    """Build the hourly DataFrame from in-memory {city: payload} dicts
    (FIXTURES F2 shape; what ``main.run_pipeline`` reads), same shape as
    read_eia_landing. Built column-wise and checkpointed in the JVM
    (``session.checkpointed_columns_df``)."""
    cols = {"period_str": [], "value_str": [], "city": []}
    for city, payload in payloads.items():
        recs = (payload.get("response") or {}).get("data", []) or []
        cols["period_str"].extend(rec.get("period") for rec in recs)
        cols["value_str"].extend(
            None if rec.get("value") is None else str(rec["value"]) for rec in recs
        )
        cols["city"].extend([city] * len(recs))
    return checkpointed_columns_df(
        spark, cols, "period_str string, value_str string, city string"
    )
