"""Seeded record source for the ``zone_etl`` workload.

Stands in for the paper's API extract: every record is a nested dict with
two levels of nesting, and how deep a record goes and which region it
names both follow from the workload seed. The engine sees only what a
real source would hand it: one ``fetch(index) -> dict`` callable per
landed partition, built as a closure so cloudpickle ships it to the
executors by value. The expected per-region counts are kept here, on the
benchmark side, for the invariant checks.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

# Mixed case on purpose: the curated aggregate lower-cases the group key.
REGIONS = [
    "London", "WALES", "scotland", "North East", "north west",
    "Yorkshire", "EAST MIDLANDS", "West Midlands", "east", "South West",
]
CITIES = ["Cardiff", "Leeds", "York", "Bath", "Hull", "Ely", "Truro", "Derby"]


@dataclass
class ZoneInput:
    """Generated input for one DAG run."""

    fetches: list[Callable[[int], dict[str, Any]]]
    per_partition: int
    expected_regions: dict[str, int]

    @property
    def n_records(self) -> int:
        return self.per_partition * len(self.fetches)


def _fetch_for(offset: int, region_codes: bytes, geo_flags: bytes) -> Callable[[int], dict[str, Any]]:
    def fetch(i: int) -> dict[str, Any]:
        g = offset + i
        address: dict[str, Any] = {"city": CITIES[g % len(CITIES)]}
        if geo_flags[i]:
            address["geo"] = {"lat": 50.0 + (g % 1000) / 1000.0, "lon": -3.0 + (g % 777) / 777.0}
        return {
            "name": f"rec{g}",
            "region": REGIONS[region_codes[i]],
            "codes": {"a": f"A{g}", "b": f"B{g % 97}"},
            "address": address,
        }

    return fetch


def make_zone_input(seed: int, per_partition: int, partitions: int) -> ZoneInput:
    """Records for ``partitions`` landings of ``per_partition`` each.

    Region frequencies follow a Zipf law whose exponent (0.6–1.6) and
    region order come from ``seed``, so each seed has its own skew; the
    share of records carrying the second nesting level (``address.geo``)
    is drawn from 0.3–0.9.
    """
    rng = np.random.default_rng(seed)
    n = per_partition * partitions
    weights = 1.0 / np.arange(1, len(REGIONS) + 1) ** rng.uniform(0.6, 1.6)
    weights = weights[rng.permutation(len(REGIONS))]
    codes = rng.choice(len(REGIONS), n, p=weights / weights.sum()).astype(np.uint8)
    geo = (rng.random(n) < rng.uniform(0.3, 0.9)).astype(np.uint8)
    counts = np.bincount(codes, minlength=len(REGIONS))
    fetches = [
        _fetch_for(
            p * per_partition,
            codes[p * per_partition:(p + 1) * per_partition].tobytes(),
            geo[p * per_partition:(p + 1) * per_partition].tobytes(),
        )
        for p in range(partitions)
    ]
    expected = {REGIONS[i].lower(): int(c) for i, c in enumerate(counts) if c}
    return ZoneInput(fetches, per_partition, expected)
