"""Checks a medallion lake's gold tables against DuckDB over the landed CSVs.

Runs in its own process, so DuckDB's memory never counts in the peak RSS
of the driver it checks:

    python3 goldcheck.py < spec.json

``spec`` holds ``raw`` (the landed drops), ``gold`` (the gold table dirs)
and ``answers`` (the gold read queries' rows by query name). Prints one
JSON object: ``state`` lists what is wrong with the gold tables, ``reads``
what is wrong with the answers.

Business columns of every gold table must equal DuckDB's answer over the
CSVs (the latest drop wins per business key); surrogate keys must be
dense and unique; fact keys must resolve to the dimension rows of the
booking's business keys. The key audits must find nothing and the revenue
rollup must equal DuckDB's.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

ENTITIES = ("airports", "flights", "customers", "bookings")
DIMS = {  # gold table -> (entity, business key, surrogate key, business columns)
    "DimAirports": ("airports", "airport_id", "DimAirportsKey",
                    ["airport_id", "airport_name", "city", "country"]),
    "DimFlights": ("flights", "flight_id", "DimFlightsKey",
                   ["flight_id", "airline", "origin", "destination", "flight_date"]),
    "DimCustomers": ("customers", "passenger_id", "DimCustomersKey",
                     ["passenger_id", "name", "gender", "nationality"]),
}
FACT = "Fact_Bookings"
BOOKING_KEYS = ["booking_id", "passenger_id", "flight_id", "airport_id"]
ROLLUP = "revenue rollup"


def connect(raw: str, gold: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for entity in ENTITIES:
        con.execute(f"""
            CREATE VIEW {entity}_src AS
            SELECT * EXCLUDE (filename),
                   CASE WHEN filename LIKE '%/base.csv' THEN 0
                        WHEN filename LIKE '%/increment.csv' THEN 1 ELSE 2 END AS drop_no
            FROM read_csv('{raw}/{entity}/*.csv', header = true,
                          all_varchar = true, filename = true)""")
    for name, (entity, key, _sk, cols) in DIMS.items():
        casts = [f"CAST({c} AS DATE) AS {c}" if c.endswith("_date") else c for c in cols]
        con.execute(f"""
            CREATE VIEW exp_{entity} AS SELECT {', '.join(casts)} FROM (
              SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY drop_no DESC) AS rn
              FROM {entity}_src) WHERE rn = 1""")
        con.execute(f"CREATE VIEW {name} AS {_parquet(gold, name)}")
    valid = " AND ".join(f"{k} IS NOT NULL" for k in BOOKING_KEYS)
    con.execute(f"""
        CREATE VIEW exp_bookings AS
        SELECT booking_id, passenger_id, flight_id, airport_id,
               CAST(amount AS DOUBLE) AS amount, CAST(booking_date AS DATE) AS booking_date
        FROM (SELECT *, row_number() OVER (PARTITION BY booking_id ORDER BY drop_no DESC) AS rn
              FROM bookings_src WHERE {valid}) WHERE rn = 1""")
    con.execute(f"CREATE VIEW {FACT} AS {_parquet(gold, FACT)}")
    return con


def _parquet(gold: str, table: str) -> str:
    return f"SELECT * FROM read_parquet('{os.path.join(gold, table)}/**/*.parquet')"


def state_problems(con) -> list[str]:
    problems = []
    for name, (entity, _key, sk, cols) in DIMS.items():
        problems += _diff(con, f"SELECT {', '.join(cols)} FROM exp_{entity}",
                          f"SELECT {', '.join(cols)} FROM {name}", name)
        n, distinct, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT {sk}), min({sk}), max({sk}) FROM {name}"
        ).fetchone()
        if not (n == distinct == hi and lo == 1):
            problems.append(f"{name} keys not dense: n={n} distinct={distinct} range={lo}..{hi}")
    fact_cols = "booking_id, amount, booking_date, DimCustomersKey, DimFlightsKey, DimAirportsKey"
    problems += _diff(con, f"""
        SELECT {fact_cols} FROM exp_bookings b
        LEFT JOIN DimCustomers USING (passenger_id)
        LEFT JOIN DimFlights USING (flight_id)
        LEFT JOIN DimAirports USING (airport_id)""",
        f"SELECT {fact_cols} FROM {FACT}", FACT)
    return problems


def read_problems(con, answers: dict[str, list[list]]) -> list[str]:
    rollup = sorted(con.execute("""
        SELECT a.country, f.airline, count(*), sum(CAST(round(b.amount * 100) AS BIGINT))
        FROM exp_bookings b
        JOIN exp_airports a USING (airport_id)
        JOIN exp_flights f USING (flight_id)
        JOIN exp_customers c USING (passenger_id)
        GROUP BY ALL""").fetchall())
    problems = []
    for what, rows in answers.items():
        got = [tuple(r) for r in rows]
        expected = rollup if what == ROLLUP else []
        if got != expected:
            problems.append(f"{what}: answer differs from DuckDB's "
                            f"({len(got)} rows, expected {len(expected)})")
    return problems


def _diff(con, expected: str, got: str, what: str) -> list[str]:
    missing = con.execute(f"SELECT count(*) FROM ({expected} EXCEPT ALL {got})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {expected})").fetchone()[0]
    return [f"{what}: {missing} rows missing, {extra} unexpected"] if missing or extra else []


def main() -> None:
    spec = json.load(sys.stdin)
    con = connect(spec["raw"], spec["gold"])
    try:
        out = {"state": state_problems(con), "reads": read_problems(con, spec["answers"])}
    finally:
        con.close()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
