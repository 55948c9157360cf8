"""Seeded list-of-dicts batches the facade workloads register through
``Engine.register_table``.

The parquet tables the registry queries and the facade's parquet views read
are the project's sf0.01 test data, copied verbatim under ``data/sf0.01``.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


SALES_SCHEMA = (
    "sale_id BIGINT, store_id INT, product STRING, qty INT, "
    "price_cents BIGINT, day DATE"
)
STORES_SCHEMA = "store_id INT, region STRING, manager STRING"
REFRESH_SCHEMA = (
    "event_id BIGINT, account INT, kind STRING, amount_cents BIGINT, "
    "flagged BOOLEAN, ts TIMESTAMP"
)
ACCOUNTS_SCHEMA = "account INT, tier STRING"


def sales_rows(rng: np.random.Generator, n: int) -> list[dict]:
    """In-memory fact rows for the hot facade: messy-typed like real
    client payloads (the day arrives as an ISO string)."""
    stores = rng.integers(0, 40, n)
    products = rng.integers(0, len(ADJECTIVES) * len(NOUNS), n)
    qty = rng.integers(1, 20, n)
    price = rng.integers(100, 50_000, n)
    days = rng.integers(0, 365, n)
    start = datetime(2024, 1, 1)
    return [
        {
            "sale_id": i,
            "store_id": int(stores[i]),
            "product": f"{ADJECTIVES[products[i] % 8]} {NOUNS[products[i] // 8]}",
            "qty": int(qty[i]),
            "price_cents": int(price[i]),
            "day": (start + timedelta(days=int(days[i]))).strftime("%Y-%m-%d"),
        }
        for i in range(n)
    ]


def store_rows() -> list[dict]:
    return [
        {"store_id": s, "region": REGIONS[s % 5], "manager": f"m{s % 7}"}
        for s in range(40)
    ]


def refresh_rows(rng: np.random.Generator, n: int, first_id: int) -> list[dict]:
    """One fresh batch for the refresh workload's re-registered view."""
    accounts = rng.integers(0, 500, n)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    amounts = rng.integers(-5_000, 100_000, n)
    flagged = rng.random(n) < 0.1
    secs = np.sort(rng.integers(0, 86_400, n))
    start = datetime(2024, 3, 1)
    return [
        {
            "event_id": first_id + i,
            "account": int(accounts[i]),
            "kind": EVENT_TYPES[kinds[i]],
            "amount_cents": int(amounts[i]),
            "flagged": bool(flagged[i]),
            "ts": start + timedelta(seconds=int(secs[i])),
        }
        for i in range(n)
    ]


def account_rows() -> list[dict]:
    return [{"account": a, "tier": ("gold", "silver", "basic")[a % 3]} for a in range(500)]
