"""Seeded medallion input generator in the reference's raw CSV schema.

Writes ``{raw}/{entity}/{drop}.csv`` for the four entities, with the same
columns and formats as ``sources/flight_fixtures.py`` (keys ``A…``/``F…``/
``P…``/``B…``, ISO dates, two-decimal amounts). Three drops:

- ``base``: the initial load. Keeps the fixture's mix: about 0.4% of the
  bookings carry one null business key each (they fail the silver
  expectations) and 2.5% reference passenger ids that no drop ever adds
  to the dimension (their fact rows keep a null surrogate key).
- ``increment``: new business keys only, ``INCREMENT_SHARE`` of each
  entity's base size.
- ``scd``: changed attribute values for ``SCD_SHARE`` of each dimension's
  base keys, the reference's shares (bookings have no scd drop, as in the
  reference).

The same ``(seed, bookings)`` always yields byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pa_csv

from databricks_end_to_end_lakeflow_project_spark.sources import flight_fixtures as ref

AIRLINES = ["Delta", "Qatar Airways", "Lufthansa", "IndiGo", "Jet Airways", "Emirates"]
N_CITIES, N_COUNTRIES, N_NATIONS = 300, 120, 80

HEADERS = {
    "airports": ["airport_id", "airport_name", "city", "country"],
    "flights": ["flight_id", "airline", "origin", "destination", "flight_date"],
    "customers": ["passenger_id", "name", "gender", "nationality"],
    "bookings": ["booking_id", "passenger_id", "flight_id", "airport_id", "amount", "booking_date"],
}
DROPS = ("base", "increment", "scd")

# dimension sizes per booking: 1M bookings -> 100k passengers, 5k flights, 500 airports
PER_BOOKING = {"customers": 1 / 10, "flights": 1 / 200, "airports": 1 / 2000}
INCREMENT_SHARE = 0.01
# the reference _scd drop's share of each dimension: its changed ids over the
# base rows ``flight_fixtures.write_base`` lands (50 airports, 100 flights,
# 200 passengers), so 12% / 8% / 7.5%
SCD_SHARE = {
    "airports": len(ref.AIRPORT_SCD_IDS) / 50,
    "flights": len(ref.FLIGHT_SCD_IDS) / 100,
    "customers": len(ref.PASSENGER_SCD_IDS) / 200,
}
BAD_KEY_SHARE = 0.004
PAST_DIM_SHARE = 0.025


@dataclass(frozen=True)
class Sizes:
    bookings: int
    customers: int
    flights: int
    airports: int

    @classmethod
    def for_bookings(cls, bookings: int) -> Sizes:
        dims = {e: max(2, round(bookings * share)) for e, share in PER_BOOKING.items()}
        return cls(bookings=bookings, **dims)

    def increment(self) -> Sizes:
        return Sizes(*(max(1, round(n * INCREMENT_SHARE)) for n in self.astuple()))

    def plus(self, other: Sizes) -> Sizes:
        return Sizes(*(a + b for a, b in zip(self.astuple(), other.astuple())))

    def astuple(self) -> tuple[int, int, int, int]:
        return (self.bookings, self.customers, self.flights, self.airports)


def _ids(prefix: str, ids: np.ndarray, width: int) -> np.ndarray:
    return np.array([f"{prefix}{i:0{width}d}" for i in ids.tolist()], dtype=object)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    month = rng.integers(4, 8, n).tolist()
    day = rng.integers(1, 29, n).tolist()
    return np.array([f"2025-0{m}-{d:02d}" for m, d in zip(month, day)], dtype=object)


def _pick(rng: np.random.Generator, vocab: str, size: int, n: int) -> np.ndarray:
    return np.array([f"{vocab}{i:03d}" for i in rng.integers(0, size, n).tolist()], dtype=object)


class MedallionDrops:
    """One seeded input set. ``write(raw_root, drop)`` lands a drop."""

    def __init__(self, seed: int, bookings: int) -> None:
        self.seed = seed
        self.base = Sizes.for_bookings(bookings)
        self.inc = self.base.increment()
        total = self.base.plus(self.inc)
        # passenger ids past every drop's dimension rows
        self.past_dim_lo = total.customers + 1
        self.widths = {
            "bookings": len(str(total.bookings + bookings)) + 1,
            "customers": len(str(self.past_dim_lo + total.customers)) + 1,
            "flights": len(str(total.flights)) + 1,
            "airports": len(str(total.airports)) + 1,
        }

    def _rng(self, drop: str, entity: str) -> np.random.Generator:
        return np.random.default_rng(
            [self.seed, DROPS.index(drop), list(HEADERS).index(entity)]
        )

    def _key(self, entity: str, ids: np.ndarray) -> np.ndarray:
        prefix = {"bookings": "B", "customers": "P", "flights": "F", "airports": "A"}[entity]
        return _ids(prefix, ids, self.widths[entity])

    def _dim(self, entity: str, ids: np.ndarray, rng: np.random.Generator, scd: bool) -> pd.DataFrame:
        n = len(ids)
        key = self._key(entity, ids)
        tag = "Updated " if scd else ""
        if entity == "airports":
            cols = [key, np.array([f"{tag}Airport {k} Intl" for k in key], dtype=object),
                    _pick(rng, "City", N_CITIES, n), _pick(rng, "Country", N_COUNTRIES, n)]
        elif entity == "flights":
            cols = [key, np.asarray(AIRLINES)[rng.integers(0, len(AIRLINES), n)],
                    _pick(rng, "City", N_CITIES, n), _pick(rng, "City", N_CITIES, n),
                    _dates(rng, n)]
        else:
            cols = [key, np.array([f"{tag}Passenger {k}" for k in key], dtype=object),
                    np.where(rng.integers(0, 2, n) == 1, "Male", "Female"),
                    _pick(rng, "Nation", N_NATIONS, n)]
        return pd.DataFrame(dict(zip(HEADERS[entity], cols)))

    def _bookings(self, drop: str, rng: np.random.Generator) -> pd.DataFrame:
        if drop == "base":
            lo, n = 1, self.base.bookings
            dims = self.base
        else:
            lo, n = self.base.bookings + 1, self.inc.bookings
            dims = self.base.plus(self.inc)
        pid = rng.integers(1, dims.customers + 1, n)
        past = rng.random(n) < PAST_DIM_SHARE
        pid[past] = self.past_dim_lo + rng.integers(0, dims.customers, int(past.sum()))
        cents = rng.integers(10_000, 100_000, n)
        amount = [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]
        df = pd.DataFrame({
            "booking_id": self._key("bookings", np.arange(lo, lo + n)),
            "passenger_id": self._key("customers", pid),
            "flight_id": self._key("flights", rng.integers(1, dims.flights + 1, n)),
            "airport_id": self._key("airports", rng.integers(1, dims.airports + 1, n)),
            "amount": amount,
            "booking_date": _dates(rng, n),
        })
        if drop == "base":
            # rows failing one expectation each, ids outside every drop's range
            n_bad = max(4, round(n * BAD_KEY_SHARE))
            bad = df.sample(n=n_bad, random_state=self.seed).reset_index(drop=True)
            bad["booking_id"] = self._key("bookings", np.arange(n_bad) + lo + n + self.inc.bookings)
            for i, col in enumerate(["booking_id", "passenger_id", "flight_id", "airport_id"]):
                bad.loc[bad.index % 4 == i, col] = None
            df = pd.concat([df, bad], ignore_index=True)
        return df

    def frame(self, drop: str, entity: str) -> pd.DataFrame | None:
        """The rows ``drop`` lands for ``entity`` (None: the drop has no file)."""
        rng = self._rng(drop, entity)
        if entity == "bookings":
            return None if drop == "scd" else self._bookings(drop, rng)
        n_base = getattr(self.base, entity)
        if drop == "base":
            ids = np.arange(1, n_base + 1)
        elif drop == "increment":
            ids = np.arange(n_base + 1, n_base + getattr(self.inc, entity) + 1)
        else:
            n = max(1, round(n_base * SCD_SHARE[entity]))
            ids = np.sort(rng.choice(np.arange(1, n_base + 1), size=n, replace=False))
        return self._dim(entity, ids, rng, scd=drop == "scd")

    def write(self, raw_root: str, drop: str) -> int:
        """Land ``drop`` under ``raw_root``; returns the bytes written."""
        written = 0
        for entity in HEADERS:
            df = self.frame(drop, entity)
            if df is None:
                continue
            path = os.path.join(raw_root, entity, f"{drop}.csv")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write((",".join(df.columns) + "\n").encode())
                pa_csv.write_csv(
                    pa.Table.from_pandas(df, preserve_index=False), fh,
                    pa_csv.WriteOptions(include_header=False, quoting_style="none"),
                )
            written += os.path.getsize(path)
        return written
