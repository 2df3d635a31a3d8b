"""Seeded inputs of the ``elt_hourly`` workload.

:class:`EltFeed` hands out the three fake price-source payloads of one
hourly cycle, failing one source on a seeded schedule. It is a pure
function of its seed: the same seed yields the same payloads and the
same failures.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

ELT_START = dt.datetime(2024, 3, 1, 0, 0, tzinfo=dt.timezone.utc)
SOURCES = ("coingecko", "coincap", "blockchain_info")


class EltFeed:
    """The three price sources of the hourly extract, as seeded fakes.

    ``fetchers(cycle)`` returns name -> zero-arg fetch callable for that
    cycle. ``coincap`` raises on a seeded schedule (about one cycle in
    four) to exercise per-source isolation; the other two never fail, so
    no cycle is ever empty. ``expected_rows(cycle)`` is the number of
    rows that cycle's batch must contain.
    """

    def __init__(self, seed: int, cycles: int) -> None:
        rng = np.random.default_rng([seed, 3])
        self.prices = 60_000 + np.cumsum(rng.normal(0, 250, cycles))
        self.fails = rng.random(cycles) < 0.25

    def expected_rows(self, cycle: int) -> int:
        return 2 if self.fails[cycle] else 3

    def fetchers(self, cycle: int) -> dict:
        usd = float(round(self.prices[cycle], 2))

        def coingecko() -> dict:
            return {"bitcoin": {"usd": usd, "eur": usd * 0.92, "brl": usd * 5.1,
                                "usd_market_cap": usd * 19.6e6,
                                "usd_24h_vol": 3.1e10, "usd_24h_change": 0.4}}

        def coincap() -> dict:
            if self.fails[cycle]:
                raise ConnectionError("coincap unavailable")
            return {"data": {"priceUsd": str(usd + 3.5), "marketCapUsd": "1.2e12",
                             "volumeUsd24Hr": "2.9e10", "changePercent24Hr": "0.38"}}

        def blockchain_info() -> dict:
            return {"USD": {"last": usd - 2.0}, "EUR": {"last": usd * 0.91},
                    "BRL": {"last": usd * 5.0}}

        return {"coingecko": coingecko, "coincap": coincap,
                "blockchain_info": blockchain_info}

