"""CLI entry — parity with the reference's ``python main.py
{historical|realtime}`` (reference `main.py:40-55`).

Offline synthesis is the only mode. The raw NOAA/EIA payloads are
synthesized deterministically in the FIXTURES F1/F2 shapes, and each is
landed as bronze JSON under ``<out>/raw`` as an audit copy of what the run
read. The plan itself (transform→join→QC→write) is built from the
in-memory payloads, not from those files. The online fetchers in
``sources/fetch.py`` (paging, retries, backoff) are not wired to this CLI;
they are tested only through injected fake HTTP clients. ``--offline`` is
accepted and changes nothing; there is no ``--online``.

Usage:
    python -m us_weather_energy_analysis_pipeline_spark.main historical \
        --out /tmp/weather_energy --offline
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import logging
import math
import os

from us_weather_energy_analysis_pipeline_spark.plans.etl import (
    build_fact,
    process_energy,
    process_weather,
    resolve_date_range,
    write_fact,
)
from us_weather_energy_analysis_pipeline_spark.quality.checks import quality_report
from us_weather_energy_analysis_pipeline_spark.sources.datagen import DEFAULT_CITIES
from us_weather_energy_analysis_pipeline_spark.sources.eia import eia_records_df
from us_weather_energy_analysis_pipeline_spark.sources.fetch import land_json
from us_weather_energy_analysis_pipeline_spark.sources.noaa import noaa_records_df

log = logging.getLogger("pipeline")


def synth_noaa_payload(city: str, start: dt.date, end: dt.date) -> dict:
    """Deterministic FIXTURES-F1-shaped payload (synthetic fetch stand-in)."""
    results = []
    d = start
    seed = sum(ord(c) for c in city)
    while d <= end:
        doy = d.timetuple().tm_yday
        base = 10 + 12 * math.sin((doy - 100) * 2 * math.pi / 365) + seed % 7
        # inject a missing day per ~30 days to exercise the spine join
        if (d.toordinal() + seed) % 30 != 0:
            results.append(
                {"date": f"{d}T00:00:00", "datatype": "TMAX", "value": round(base + 4, 1)}
            )
            results.append(
                {"date": f"{d}T00:00:00", "datatype": "TMIN", "value": round(base - 4, 1)}
            )
        d += dt.timedelta(days=1)
    return {"results": results}


def synth_eia_payload(city: str, start: dt.date, end: dt.date) -> dict:
    data = []
    seed = sum(ord(c) for c in city)
    d = start
    while d <= end:
        for h in range(24):
            v = 400 + seed % 50 + 80 * math.sin((h - 6) * math.pi / 12)
            data.append({"period": f"{d}T{h:02d}", "value": f"{v:.1f}"})
        d += dt.timedelta(days=1)
    return {"response": {"total": len(data), "data": data}}


def run_pipeline(
    spark,
    mode: str,
    out_dir: str,
    cities=DEFAULT_CITIES,
    today: dt.date | None = None,
) -> dict:
    """The reference pipeline (`pipeline.py:11-111`) as one lazy DAG:
    land bronze → normalize weather+energy (all cities, one plan each) →
    inner join → QC → partitioned parquet + CSV. Returns the QC report."""
    start, end = resolve_date_range(mode, today)
    raw_dir = os.path.join(out_dir, "raw")
    os.makedirs(raw_dir, exist_ok=True)

    weather_payloads, energy_payloads = {}, {}
    for city in cities:
        w = synth_noaa_payload(city, start, end)
        e = synth_eia_payload(city, start, end)
        land_json(w, os.path.join(raw_dir, f"weather_{city}_{start}_{end}.json"))
        land_json(e, os.path.join(raw_dir, f"energy_{city}_{start}_{end}.json"))
        weather_payloads[city], energy_payloads[city] = w, e
    log.info("landed raw payloads for %d cities (%s..%s)", len(cities), start, end)

    weather = process_weather(noaa_records_df(spark, weather_payloads), start, end)
    energy = process_energy(eia_records_df(spark, energy_payloads), start, end)
    fact = build_fact(weather, energy)

    report = quality_report(fact)
    write_fact(fact, os.path.join(out_dir, "processed", "weather_energy_parquet"))
    write_fact(
        fact, os.path.join(out_dir, "processed", "weather_energy_csv"), fmt="csv"
    )
    log.info("quality report: %s", report)
    return report


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        description="weather+energy ETL (Spark) over synthesized NOAA/EIA payloads; "
        "the raw payloads land under <out>/raw as an audit copy"
    )
    parser.add_argument("mode", choices=["historical", "realtime"])
    parser.add_argument("--out", default="data")
    parser.add_argument(
        "--offline",
        action="store_true",
        help="accepted for compatibility: offline synthesis is the only mode",
    )
    return parser


def main() -> None:
    args = build_parser().parse_args()
    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(name)s %(levelname)s %(message)s"
    )

    from us_weather_energy_analysis_pipeline_spark.session import get_spark

    spark = get_spark("weather-energy-pipeline")
    report = run_pipeline(spark, args.mode, args.out)
    print(json.dumps({k: str(v) for k, v in report.items()}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
