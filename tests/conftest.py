"""Shared fixtures: one session per test run, frozen user payloads."""

from __future__ import annotations

import copy

import pytest

from data_ingestion_project_spark.functions.crypto import CryptoKeys
from data_ingestion_project_spark.operators.materialize import pin_scope
from data_ingestion_project_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _pin_scope():
    """Each test's pins die with the test, as a served query's do."""
    with pin_scope():
        yield


@pytest.fixture(scope="session")
def keys():
    return CryptoKeys.for_tests()


def _user(i: int, uuid: str, email: str, country: str = "Norway") -> dict:
    return {
        "name": {"title": "Mr", "first": f"First{i}", "last": f"Last{i}"},
        "location": {
            "street": {"number": 100 + i, "name": f"Street {i}"},
            "city": f"City{i}",
            "state": f"State{i}",
            "country": country,
            "postcode": str(1000 + i) if i % 2 == 0 else 1000 + i,  # int/str instability
            "coordinates": {"latitude": "1.0", "longitude": "2.0"},
            "timezone": {"offset": "+1:00", "description": "CET"},
        },
        "email": email,
        "login": {
            "uuid": uuid,
            "username": f"user{i}",
            "password": f"pw-{i}",
            "salt": "s",
            "md5": "m",
            "sha1": "h1",
            "sha256": "h256",
        },
        "dob": {"date": f"19{50 + i}-01-02T03:04:05.000Z", "age": 70 - i},
        "registered": {"date": f"20{10 + i}-01-02T03:04:05.000Z", "age": 10},
        "phone": f"555-000{i}",
    }


@pytest.fixture()
def batch1() -> list[dict]:
    """10 fresh uuids; mixed-case/whitespace emails (FIXTURES.md §1)."""
    return [
        _user(i, uuid=f"uuid-{i:04d}", email=f"  User{i}@Example.COM " if i % 2 else f"user{i}@example.com")
        for i in range(10)
    ]


@pytest.fixture()
def batch2_mutated(batch1) -> list[dict]:
    """Same uuids as batch1, mutated non-key fields (existing must win)."""
    users = copy.deepcopy(batch1)
    for u in users:
        u["name"]["first"] = "MUTATED"
        u["location"]["country"] = "Mutantia"
    return users


@pytest.fixture()
def batch3_half_new(batch1) -> list[dict]:
    """5 uuids from batch1 (mutated) + 5 fresh (FIXTURES.md §3)."""
    old = copy.deepcopy(batch1[:5])
    for u in old:
        u["name"]["last"] = "CHANGED"
    new = [_user(20 + i, uuid=f"uuid-9{i:03d}", email=f"nine{i}@example.com") for i in range(5)]
    return old + new
