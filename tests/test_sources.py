"""Source/sink layer tests: JSON landing round-trips with pinned schemas,
injectable HTTP fetchers (no network), CSV/parquet sinks."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.main import (
    synth_eia_payload,
    synth_noaa_payload,
)
from us_weather_energy_analysis_pipeline_spark.plans.etl import (
    build_fact,
    process_energy,
    process_weather,
)
from us_weather_energy_analysis_pipeline_spark.sources.eia import (
    eia_records_df,
    read_eia_landing,
)
from us_weather_energy_analysis_pipeline_spark.sources.fetch import (
    fetch_eia_pages,
    fetch_noaa,
    fetch_with_retries,
    land_json,
)
from us_weather_energy_analysis_pipeline_spark.sources.noaa import (
    noaa_records_df,
    read_noaa_landing,
)

NOAA_PAYLOAD = {
    "results": [
        {"date": "2025-07-29T00:00:00", "datatype": "TMAX", "value": 36.1,
         "station": "GHCND:X", "attributes": ",,W"},
        {"date": "2025-07-29T00:00:00", "datatype": "TMIN", "value": 25.6},
    ]
}
EIA_PAYLOAD = {
    "response": {
        "total": 2,
        "data": [
            {"period": "2025-07-29T00", "value": "512.3", "respondent": "NYIS"},
            {"period": "2025-07-29T01", "value": "490.1"},
        ],
    }
}


class FakeResp:
    def __init__(self, payload, status=200):
        self._p, self.status_code = payload, status

    def json(self):
        return self._p


def test_noaa_landing_roundtrip(spark, tmp_path):
    """S4 land → S2 read with pinned schema → exploded EAV rows."""
    path = str(tmp_path / "weather_nyc.json")
    land_json(NOAA_PAYLOAD, path)
    rows = read_noaa_landing(spark, path, city="New York").collect()
    assert len(rows) == 2
    assert {r["datatype"] for r in rows} == {"TMAX", "TMIN"}
    assert all(r["city"] == "New York" for r in rows)
    assert rows[0]["date_str"].startswith("2025-07-29")


def test_eia_landing_roundtrip(spark, tmp_path):
    path = str(tmp_path / "energy_nyc.json")
    land_json(EIA_PAYLOAD, path)
    rows = read_eia_landing(spark, path, city="New York").collect()
    assert len(rows) == 2
    assert rows[0]["value_str"] == "512.3"  # stays string until transform


def test_fetch_retry_then_success():
    calls = []

    def flaky(url, params, headers):
        calls.append(url)
        if len(calls) < 3:
            return FakeResp({}, status=500)
        return FakeResp({"ok": True})

    out = fetch_with_retries("http://x", {}, {}, http_get=flaky, sleep=lambda s: None)
    assert out == {"ok": True} and len(calls) == 3


def test_fetch_exhausted_raises():
    def dead(url, params, headers):
        return FakeResp({}, status=503)

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        fetch_with_retries("http://x", {}, {}, http_get=dead, sleep=lambda s: None)


def test_fetch_noaa_params():
    seen = {}

    def capture(url, params, headers):
        seen.update(params)
        return FakeResp(NOAA_PAYLOAD)

    out = fetch_noaa("tok", "GHCND:X", "2025-01-01", "2025-06-30", http_get=capture)
    assert out == NOAA_PAYLOAD
    assert seen["datatypeid"] == "TMAX,TMIN" and seen["units"] == "metric"
    assert seen["limit"] == 1000


def test_fetch_eia_pagination():
    pages_served = []

    def paged(url, params, headers):
        if params.get("length") == 0:
            return FakeResp({"response": {"total": 12000}})
        pages_served.append(params["offset"])
        return FakeResp(EIA_PAYLOAD)

    pages = fetch_eia_pages("key", "NYIS", "2025-01-01T00", "2025-06-30T23",
                            page_size=5000, http_get=paged)
    assert pages_served == [0, 5000, 10000]
    assert len(pages) == 3


def test_write_fact_roundtrip(spark, tmp_path):
    """S5 sink + S6 explicit-schema read-back, parquet (partitioned) and CSV."""
    from us_weather_energy_analysis_pipeline_spark.plans.etl import write_fact
    from us_weather_energy_analysis_pipeline_spark.schemas import FACT_SCHEMA
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    fact = generate_weather_energy(spark, "2024-01-01", "2024-01-10")
    pq = str(tmp_path / "fact_pq")
    write_fact(fact, pq)
    back = spark.read.parquet(pq)
    assert back.count() == fact.count()
    assert set(back.columns) == set(fact.columns)

    csv = str(tmp_path / "fact_csv")
    write_fact(fact, csv, fmt="csv")
    back_csv = spark.read.option("header", True).schema(FACT_SCHEMA).csv(csv)
    assert back_csv.count() == fact.count()
    assert dict(back_csv.dtypes)["date"] == "date"


def test_fetch_partitioned_shape():
    """Executor-side fetch generator: one partition of request specs →
    payload JSON strings (the mapInPandas wiring for fetching hundreds of
    stations in parallel)."""
    import json
    from collections import namedtuple

    from us_weather_energy_analysis_pipeline_spark.sources.fetch import (
        fetch_partitioned,
    )

    Spec = namedtuple("Spec", ["url", "params"])
    specs = [Spec("http://a", json.dumps({"q": 1})), Spec("http://b", json.dumps({}))]

    def fake(url, params, headers):
        return FakeResp({"url": url, "params": params})

    out = [json.loads(s) for s in fetch_partitioned(iter(specs), http_get=fake)]
    assert [o["url"] for o in out] == ["http://a", "http://b"]
    assert out[0]["params"] == {"q": 1}


def test_malformed_landing_payloads(spark, tmp_path):
    """Landing resilience: payloads missing keys / wrong shapes produce
    empty frames (schema-on-read with explode_outer), never crashes."""
    cases = {
        "empty.json": {},
        "no_results.json": {"unexpected": 1},
        "null_results.json": {"results": None},
        "eia_empty.json": {"response": {}},
    }
    for fname, payload in cases.items():
        path = str(tmp_path / fname)
        land_json(payload, path)
        if fname.startswith("eia"):
            rows = read_eia_landing(spark, path).collect()
        else:
            rows = read_noaa_landing(spark, path).collect()
        # explode_outer on a missing array gives either zero rows or one
        # all-null row — both harmless to every downstream aggregate
        assert all(
            r["period_str" if fname.startswith("eia") else "date_str"] is None
            for r in rows
        )


class TestRecordedCassette:
    """Recorded-fixture ("cassette") run of the full online path: canned
    multi-page EIA + NOAA JSON served through the REAL pagination/backoff
    loop (reference data_fetcher.py:69-121 semantics — count probe,
    offset pages, asc period sort), then landed and stitched in-engine.
    Asserts page stitching (every row exactly once, order re-imposed) and
    the retry schedule (2·2^attempt backoff on a transient 500)."""

    TOTAL, PAGE = 12, 5

    def _cassette(self):
        periods = [f"2025-07-0{1 + h // 24}T{h % 24:02d}" for h in range(self.TOTAL)]
        pages = {
            off: {
                "response": {
                    "total": self.TOTAL,
                    "data": [
                        {"period": p, "value": str(500 + i), "respondent": "NYIS"}
                        for i, p in enumerate(
                            periods[off : off + self.PAGE], start=off
                        )
                    ],
                }
            }
            for off in range(0, self.TOTAL, self.PAGE)
        }
        return periods, pages

    def test_eia_pagination_stitching_and_backoff(self, spark, tmp_path):
        periods, pages = self._cassette()
        slept, calls, failed_once = [], [], []

        def server(url, params, headers):
            calls.append(dict(params))
            assert params["sort[0][column]"] == "period"
            assert params["sort[0][direction]"] == "asc"
            if params.get("length") == 0:  # count probe
                return FakeResp({"response": {"total": self.TOTAL}})
            off = params["offset"]
            if off == self.PAGE and not failed_once:  # transient 500 on page 2
                failed_once.append(True)
                return FakeResp({}, status=500)
            return FakeResp(pages[off])

        got = fetch_eia_pages(
            "key", "NYIS", "2025-07-01T00", "2025-07-01T23",
            page_size=self.PAGE, http_get=server, sleep=slept.append,
        )
        # retry schedule: exactly one backoff sleep of 2.0 (= 2 * 2^0)
        assert slept == [2.0]
        # probe + 3 pages + 1 retry = 5 requests; offsets strictly paged
        assert [c.get("offset") for c in calls] == [None, 0, self.PAGE,
                                                   self.PAGE, 2 * self.PAGE]
        # land each page verbatim, then stitch in-engine
        for i, p in enumerate(got):
            land_json(p, str(tmp_path / f"eia_page_{i}.json"))
        stitched = read_eia_landing(spark, str(tmp_path / "eia_page_*.json"))
        rows = stitched.orderBy("period_str").collect()
        assert [r["period_str"] for r in rows] == sorted(periods)
        assert {r["value_str"] for r in rows} == {str(500 + i)
                                                  for i in range(self.TOTAL)}

    def test_noaa_cassette_through_transform(self, spark, tmp_path):
        def server(url, params, headers):
            assert headers == {"token": "tok"} and params["datasetid"] == "GHCND"
            return FakeResp(NOAA_PAYLOAD)

        payload = fetch_noaa("tok", "GHCND:X", "2025-07-01", "2025-07-31",
                             http_get=server)
        land_json(payload, str(tmp_path / "noaa.json"))
        landed = read_noaa_landing(spark, str(tmp_path / "noaa.json"))
        got = {(r["datatype"], r["value_c"]) for r in landed.collect()}
        assert got == {("TMAX", 36.1), ("TMIN", 25.6)}


def test_land_json_bytes_equal_dumps_and_read_back(spark, tmp_path):
    """The bronze file is exactly ``json.dumps(payload)``, and both
    landing readers parse it back."""
    noaa, eia = str(tmp_path / "noaa.json"), str(tmp_path / "eia.json")
    land_json(NOAA_PAYLOAD, noaa)
    land_json(EIA_PAYLOAD, eia)
    with open(noaa, "rb") as f:
        assert f.read() == json.dumps(NOAA_PAYLOAD).encode()
    with open(eia, "rb") as f:
        assert f.read() == json.dumps(EIA_PAYLOAD).encode()
    got = {(r["datatype"], r["value_c"]) for r in read_noaa_landing(spark, noaa).collect()}
    assert got == {("TMAX", 36.1), ("TMIN", 25.6)}
    got = {(r["period_str"], r["value_str"]) for r in read_eia_landing(spark, eia).collect()}
    assert got == {("2025-07-29T00", "512.3"), ("2025-07-29T01", "490.1")}


class TestRecordsDf:
    """The in-memory source builders (``noaa_records_df`` /
    ``eia_records_df``): value rules, empty payloads and plan shape."""

    NOAA_SCHEMA = "struct<date_str:string,datatype:string,value_c:double,city:string>"
    EIA_SCHEMA = "struct<period_str:string,value_str:string,city:string>"

    def test_noaa_none_value_is_null_not_nan(self, spark):
        payload = {"results": [
            {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": None},
            {"date": "2024-01-01T00:00:00", "datatype": "TMIN", "value": 3},
        ]}
        df = noaa_records_df(spark, {"X": payload})
        rows = df.select(
            "datatype", "value_c",
            F.col("value_c").isNull().alias("is_null"),
            F.isnan("value_c").alias("is_nan"),
        ).orderBy("datatype").collect()
        assert [tuple(r) for r in rows] == [
            ("TMAX", None, True, False),
            ("TMIN", 3.0, False, False),
        ]
        assert all(r["city"] == "X" for r in df.collect())

    def test_eia_none_is_null_and_garbage_stays_string(self, spark):
        data = [
            {"period": "2024-01-01T00", "value": None},
            {"period": "2024-01-01T01", "value": "abc"},
            {"period": "2024-01-01T02", "value": 512},
        ]
        df = eia_records_df(spark, {"X": {"response": {"data": data}}})
        got = {r["period_str"]: r["value_str"] for r in df.collect()}
        assert got == {"2024-01-01T00": None, "2024-01-01T01": "abc", "2024-01-01T02": "512"}
        # the garbage reading try_casts to NULL in the transform, so the
        # day sums to what the one numeric reading alone gives
        only_valid = eia_records_df(spark, {"X": {"response": {"data": data[2:]}}})
        assert (
            process_energy(df).collect() == process_energy(only_valid).collect()
        )

    @pytest.mark.parametrize("payloads", [{}, {"X": {}}, {"X": {"unexpected": 1}}])
    def test_empty_payloads_give_declared_schema(self, spark, payloads):
        noaa = noaa_records_df(spark, payloads)
        eia = eia_records_df(spark, payloads)
        assert noaa.count() == 0 and noaa.schema.simpleString() == self.NOAA_SCHEMA
        assert eia.count() == 0 and eia.schema.simpleString() == self.EIA_SCHEMA

    def test_sources_are_jvm_checkpoints(self, spark):
        """The sources are checkpointed in the JVM: the fact's optimized
        plan holds no literal rows (no LocalRelation for the optimizer to
        fold), and each source's lineage has no PythonRDD (no Python
        worker re-reading pickled rows on each scan)."""
        start, end = dt.date(2024, 1, 1), dt.date(2024, 1, 10)
        noaa = noaa_records_df(spark, {"X": synth_noaa_payload("X", start, end)})
        eia = eia_records_df(spark, {"X": synth_eia_payload("X", start, end)})
        fact = build_fact(
            process_weather(noaa, start, end), process_energy(eia, start, end)
        )
        assert "LocalRelation" not in fact._jdf.queryExecution().optimizedPlan().toString()
        for src in (noaa, eia):
            lineage = src._jdf.queryExecution().toRdd().toDebugString()
            assert "LocalCheckpointRDD" in lineage
            assert "PythonRDD" not in lineage
        assert fact.count() == 10
