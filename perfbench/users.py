"""Seeded, offline generator of randomuser.me-shaped user payloads.

Every user is a pure function of ``(stream, index)``, so the same seed
always yields the same payloads in any process, and a prepared table
can be re-derived row by row when the run checks it. Payloads keep the
live API's quirks that the ingestion job must absorb: ``postcode`` is an
int for some nationalities and a string for others, and e-mails arrive
with mixed case and stray whitespace.

Key material (``CryptoKeys``) is derived from a seed as well, with the
low-cost test KDF profile, so a table prepared from one seed is read
back with the same keys.
"""

from __future__ import annotations

import base64
import hashlib
import random
import uuid
from typing import Any

from data_ingestion_project_spark.functions.crypto import CryptoKeys, KdfProfile

_TITLES = ("Mr", "Ms", "Mrs", "Miss", "Mx", "Dr")
_FIRST = ("Ava", "Liam", "Noah", "Emma", "Olga", "Kenji", "Aisha", "Mateo", "Ines", "Yusuf", "Freya", "Lars")
_LAST = ("Smith", "Berg", "Garcia", "Tanaka", "Okafor", "Rossi", "Dubois", "Novak", "Silva", "Kaya", "Haugen")
_STREETS = ("Main St", "Oak Ave", "Kirkegata", "Rue de la Paix", "Calle Mayor", "High St", "Ringstrasse")
# nationality -> (country, postcode kind): the live API emits an int for
# some nationalities and a string for others (the schema pins string).
_NATIONS = (
    ("Norway", "int"),
    ("United States", "int"),
    ("Germany", "int"),
    ("Spain", "int"),
    ("United Kingdom", "str"),
    ("Canada", "str"),
    ("Netherlands", "str"),
    ("Ireland", "str"),
)
_DOMAINS = ("example.com", "mail.example.org", "inbox.example.net")


def crypto_keys(seed: int) -> CryptoKeys:
    """Deterministic key material for ``seed`` (test KDF profile)."""

    def derive(label: str) -> bytes:
        return hashlib.sha256(f"perfbench:{seed}:{label}".encode()).digest()

    return CryptoKeys(
        pepper=derive("pepper").hex()[:24],
        fernet_key=base64.urlsafe_b64encode(derive("fernet")),
        blind_index_key=derive("blind-index"),
        profile=KdfProfile.test(),
    )


def make_user(stream: str, index: int) -> dict[str, Any]:
    """The ``index``-th user of ``stream``: a payload in the API's shape."""
    rng = random.Random(f"{stream}:{index}")
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    country, postcode_kind = rng.choice(_NATIONS)
    if postcode_kind == "int":
        postcode: int | str = rng.randint(1000, 99999)
    else:
        postcode = f"{rng.choice('ABCDEFGHKLMNPRSTW')}{rng.randint(1, 9)} {rng.randint(1, 9)}{rng.choice('ABDEHJLNPQRTUWXYZ')}{rng.choice('ABDEHJLNPQRTUWXYZ')}"
    local = f"{first}.{last}{rng.randint(1, 9999)}"
    # mixed case and stray whitespace, as the live API sometimes sends
    email = rng.choice((str.lower, str.upper, str.title, lambda s: s))(f"{local}@{rng.choice(_DOMAINS)}")
    email = " " * rng.randint(0, 2) + email + " " * rng.randint(0, 2)
    age = rng.randint(18, 90)
    reg_age = rng.randint(0, 20)
    return {
        "name": {"title": rng.choice(_TITLES), "first": first, "last": last},
        "location": {
            "street": {"number": rng.randint(1, 9999), "name": rng.choice(_STREETS)},
            "city": f"City{rng.randint(0, 499)}",
            "state": f"State{rng.randint(0, 49)}",
            "country": country,
            "postcode": postcode,
            "coordinates": {
                "latitude": f"{rng.uniform(-90, 90):.4f}",
                "longitude": f"{rng.uniform(-180, 180):.4f}",
            },
            "timezone": {"offset": f"{rng.randint(-11, 12):+d}:00", "description": "synthetic"},
        },
        "email": email,
        "login": {
            "uuid": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "username": f"{first.lower()}{rng.randint(100, 999)}",
            "password": rng.choice(("hunter2", "letmein", "s3cret")) + str(rng.randint(0, 99999)),
            "salt": f"{rng.getrandbits(32):08x}",
            "md5": f"{rng.getrandbits(128):032x}",
            "sha1": f"{rng.getrandbits(160):040x}",
            "sha256": f"{rng.getrandbits(256):064x}",
        },
        "dob": {"date": f"{2024 - age}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T03:04:05.000Z", "age": age},
        "registered": {"date": f"{2024 - reg_age}-01-02T03:04:05.000Z", "age": reg_age},
        "phone": f"({rng.randint(100, 999)})-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
    }


def resend(user: dict[str, Any]) -> dict[str, Any]:
    """A re-sent payload for an existing key: same ``login.uuid``, every
    other checked field changed, so an overwrite would be visible."""
    out = {**user, "name": {**user["name"], "first": "RESENT", "last": "RESENT"}}
    out["location"] = {**user["location"], "country": "Resentia"}
    out["login"] = {**user["login"], "username": "resent", "password": "resent-password"}
    out["email"] = "resent@example.com"
    return out


class BatchSource:
    """Closed-loop batch feed: a batch of ``size`` users holds
    ``round(size * resend_share)`` re-sent keys already in the table and
    fresh users of the run's own stream.

    ``existing`` lists the keyed users the table starts with; fresh users
    are added to it as they are handed out, so later batches may re-send
    keys an earlier batch inserted.
    """

    def __init__(self, seed: int, resend_share: float, existing: list[dict[str, Any]]):
        self.stream = f"run:{seed}"
        self.resend_share = resend_share
        self.rng = random.Random(f"batches:{seed}")
        self.existing = list(existing)
        self.next_fresh = 0

    def batch(self, size: int) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """Return ``(payload, fresh users in it)``."""
        n_resend = round(size * self.resend_share)
        fresh = [make_user(self.stream, self.next_fresh + j) for j in range(size - n_resend)]
        self.next_fresh += len(fresh)
        old = self.rng.sample(self.existing, n_resend)
        payload = [resend(u) for u in old] + fresh
        self.rng.shuffle(payload)
        self.existing.extend(fresh)
        return payload, fresh
