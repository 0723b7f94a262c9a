"""Page fetchers for the paged users source.

The reference fetches one 10-row batch on the driver (reference
``api_client.py:9-27``). The scale form is the
``paged_users`` Python DataSource (``users_datasource.py``): it plans
one input partition per page chunk and fetches inside executor tasks,
so the driver never sees payload data and one bad page fails (and
retries) one task, not the whole job.

A fetcher is ``(page, page_size) -> list[user dict]``, named to the
DataSource by dotted path: ``http_fetcher`` for production,
``offline_fetcher`` for networkless runs and tests.
"""

from __future__ import annotations

from typing import Any


def http_fetcher(page: int, page_size: int) -> list[dict[str, Any]]:
    """Production fetcher: randomuser.me supports seeded paging, which
    makes page contents deterministic per (seed, page) — the property
    that lets a retried task re-fetch identical rows."""
    import requests

    from data_ingestion_project_spark.sources.users_json import INCLUDE_FIELDS, RANDOMUSER_URL

    url = (
        f"{RANDOMUSER_URL}?results={page_size}&page={page}"
        f"&seed=spark-graft&inc={INCLUDE_FIELDS}"
    )
    resp = requests.get(url, timeout=15)
    resp.raise_for_status()  # fail-fast parity (api_client.py:22)
    return resp.json()["results"]


def offline_fetcher(page: int, page_size: int) -> list[dict[str, Any]]:
    """Deterministic networkless fetcher (same contract as
    ``http_fetcher``): page contents are a pure function of
    (page, page_size), which is exactly the retry-safety property the
    production fetcher gets from seeded paging. Used as the documented
    offline mode and as the importable fetcher for the Python
    DataSource tests (DataSource options carry a dotted path, not a
    callable)."""
    return [
        {
            "name": {"title": "Mr", "first": f"F{page}-{i}", "last": "L"},
            "location": {
                "street": {"number": i, "name": f"S{i}"},
                "city": "C",
                "state": "S",
                "country": "Nowhere",
                "postcode": 1000 + i,  # int on purpose: readers must pin to string
                "coordinates": {"latitude": "0", "longitude": "0"},
                "timezone": {"offset": "+0:00", "description": "UTC"},
            },
            "email": f"p{page}u{i}@x.com",
            "login": {
                "uuid": f"p{page}-u{i}",
                "username": f"user{page}_{i}",
                "password": f"pw{page}_{i}",
                "salt": "s",
                "md5": "m",
                "sha1": "h",
                "sha256": "h",
            },
            "dob": {"date": "1980-01-01T00:00:00Z", "age": 40},
            "registered": {"date": "2010-01-01T00:00:00Z", "age": 10},
            "phone": "555",
        }
        for i in range(page_size)
    ]
