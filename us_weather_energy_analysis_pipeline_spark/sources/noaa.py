"""NOAA GHCND weather source (reference S2/S4/S8, `data_fetcher.py:24-55`).

Ingestion pattern: land the raw JSON payload verbatim per (city, range)
into a bronze zone (the reference does the same at `data_fetcher.py:50-53`),
then schema-on-read with the pinned NOAA_RAW_SCHEMA and ``explode`` the
EAV records — the flatten the reference does row-by-row in Python
(`data_processor.py:30-40`) becomes one generator expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.schemas import NOAA_RAW_SCHEMA
from us_weather_energy_analysis_pipeline_spark.session import checkpointed_columns_df


def read_noaa_landing(spark: SparkSession, path: str, city: str | None = None) -> DataFrame:
    """Read landed NOAA JSON file(s) → long-form (city?, date_str, datatype,
    value_c). ``city`` tags single-city payloads; multi-city landings should
    instead encode city in the path and use ``read_noaa_landing_partitioned``.
    """
    raw = spark.read.schema(NOAA_RAW_SCHEMA).json(path)
    return flatten_noaa(raw, city)


def flatten_noaa(raw: DataFrame, city: str | None = None) -> DataFrame:
    """Explode {"results": [...]} → one row per (date, datatype) observation
    (reference `data_processor.py:30-42`). Station/attributes are dropped,
    as the reference drops them."""
    rows = raw.select(F.explode_outer("results").alias("r")).select(
        F.col("r.date").alias("date_str"),
        F.col("r.datatype").alias("datatype"),
        F.col("r.value").alias("value_c"),
    )
    if city is not None:
        rows = rows.withColumn("city", F.lit(city))
    return rows


def noaa_records_df(spark: SparkSession, payloads: dict[str, dict]) -> DataFrame:
    """Build the long-form DataFrame from in-memory {city: payload} dicts
    (FIXTURES F1 shape; what ``main.run_pipeline`` reads), same shape as
    read_noaa_landing. Built column-wise and checkpointed in the JVM
    (``session.checkpointed_columns_df``)."""
    cols = {"date_str": [], "datatype": [], "value_c": [], "city": []}
    for city, payload in payloads.items():
        recs = payload.get("results", []) or []
        cols["date_str"].extend(rec.get("date") for rec in recs)
        cols["datatype"].extend(rec.get("datatype") for rec in recs)
        cols["value_c"].extend(
            float(rec["value"]) if rec.get("value") is not None else None for rec in recs
        )
        cols["city"].extend([city] * len(recs))
    return checkpointed_columns_df(
        spark, cols, "date_str string, datatype string, value_c double, city string"
    )
