"""Headline-query oracle answers, as digests of ``check_oracle.canon_rows``.

DuckDB needs about 90 s on 4 cores to answer the 29 headline oracles at
sf0.1, longer than a benchmark run may take, so their canonical answers
are kept in ``headline_oracle.json`` beside this file. Each entry records
the sha256 of the oracle SQL it answers, and the file records the sha256
of each input table; a query whose registry oracle or input no longer
matches is answered by DuckDB at check time instead, so a stale entry can
never pass a wrong result.

Regenerate the file (needs only DuckDB, no Spark):

    python3 perfbench/oracle.py [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.check_oracle import TABLES, canon_rows  # noqa: E402

CACHE = os.path.join(HERE, "headline_oracle.json")


def headline_sf_dir() -> str:
    """The headline's input dir as ``bench.py`` resolves it:
    ``$SPARK_GRAFT_SF_DIR``, else the default its ``main()`` reads, taken
    from its source so that the two cannot drift apart."""
    import bench

    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    return re.search(r'"SPARK_GRAFT_SF_DIR", "([^"]+)"', inspect.getsource(bench.main)).group(1)


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def input_tables(sf_dir: str) -> list[str]:
    return [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]


def input_digests(sf_dir: str) -> dict[str, str]:
    """sha256 of each input table's file."""
    out = {}
    for t in input_tables(sf_dir):
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.file_digest(fh, "sha256").hexdigest()
    return out


def answer_digest(cols, rows) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    canonical rows, exactly the pair ``tools/check_oracle.py`` compares."""
    body = json.dumps([sorted(cols), canon_rows(list(cols), [tuple(r) for r in rows])])
    return hashlib.sha256(body.encode()).hexdigest()


def duckdb_digest(sql: str, sf_dir: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for t in input_tables(sf_dir):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        cur = con.execute(sql)
        return answer_digest([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


class OracleAnswers:
    """Expected digest per query: from the cache when it is current for
    this oracle SQL and input, else computed by DuckDB (and memoised)."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]) -> None:
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.inputs = input_digests(sf_dir)
        try:
            with open(CACHE) as fh:
                self.cache = json.load(fh)
        except FileNotFoundError:
            self.cache = {"inputs": {}, "queries": {}}
        self.live: dict[str, str] = {}

    def expected(self, name: str) -> str:
        sql = self.oracles[name]
        hit = self.cache["queries"].get(name)
        if hit and hit["oracle_sha256"] == sql_sha(sql) and self.cache["inputs"] == self.inputs:
            return hit["digest"]
        if name not in self.live:
            self.live[name] = duckdb_digest(sql, self.sf_dir)
        return self.live[name]


def main() -> None:
    import bench
    from databricks_end_to_end_lakeflow_project_spark import registry

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=None, help="default: bench.py's headline input")
    args = ap.parse_args()
    args.sf_dir = args.sf_dir or headline_sf_dir()
    oracles = registry.all_oracles()
    out = {"inputs": input_digests(args.sf_dir), "queries": {}}
    for name in bench.HEADLINE:
        out["queries"][name] = {
            "oracle_sha256": sql_sha(oracles[name]),
            "digest": duckdb_digest(oracles[name], args.sf_dir),
        }
        print(name, out["queries"][name]["digest"][:12], flush=True)
    with open(CACHE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
