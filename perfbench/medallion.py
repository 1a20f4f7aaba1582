"""The ``medallion_incremental`` workload: a seeded base lake, then the
reference's two follow-up drops, each through ``FlightLakehouse.run_all``,
with the gold read queries after each refresh (each run three times; the
median counts).

Every pass restores the same post-base lake (raw files, checkpoints,
bronze, silver and gold) from a copy taken during set-up, so every pass
does the same work. Gold state is checked after every load against a
DuckDB computation over the generated CSVs, in a child process, so the
check's memory stays out of the driver's peak RSS.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from functools import partial

from pyspark.sql import functions as F

from gen import DROPS, HEADERS, MedallionDrops
from goldcheck import DIMS, FACT, ROLLUP
from probes import DriverProcesses, tree_bytes

from databricks_end_to_end_lakeflow_project_spark.operators.cdc import ManagedParquetTable
from databricks_end_to_end_lakeflow_project_spark.plans.flight_pipeline import FlightLakehouse

HERE = os.path.dirname(os.path.abspath(__file__))
CLOCKS = {drop: dt.datetime(2025, 8, 1 + i) for i, drop in enumerate(DROPS)}
GEN_ROUNDS = 3
READ_REPEATS = 3  # a read is short: one noisy repeat would swing gold_query_s


class MedallionIncremental:
    def __init__(self, spark, work: str, seed: int, bookings: int, tmp: str) -> None:
        self.spark = spark
        self.work = work
        self.tmp = tmp
        self.drops = MedallionDrops(seed, bookings)
        self.live = os.path.join(work, "live")
        self.snap = os.path.join(work, "post_base")
        self.staged = os.path.join(work, "staged")
        self.raw = os.path.join(self.live, "raw")
        self.lake_root = os.path.join(self.live, "lake")
        self.gold = os.path.join(self.lake_root, "gold")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up -----------------------------------------------------------

    def setup(self) -> float:
        """Generate the drops (several times, median taken), load the base
        and keep a copy of the post-base lake. Returns their seconds; the
        check of the base load is not in them."""
        gen_s = []
        for _ in range(GEN_ROUNDS):
            t0 = time.perf_counter()
            shutil.rmtree(self.staged, ignore_errors=True)
            self.drop_bytes = {d: self.drops.write(self.staged, d) for d in DROPS}
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self._land("base")
        ok = self._operation("base load", partial(self._lake().run_all, clock=CLOCKS["base"]))
        shutil.copytree(self.live, self.snap)
        load_s = time.perf_counter() - t0
        if ok:
            self._check_gold("base")
        return statistics.median(gen_s) + load_s

    def _lake(self) -> FlightLakehouse:
        return FlightLakehouse(self.spark, self.raw, self.lake_root)

    def _land(self, drop: str) -> None:
        for entity in HEADERS:
            src = os.path.join(self.staged, entity, f"{drop}.csv")
            if os.path.exists(src):
                os.makedirs(os.path.join(self.raw, entity), exist_ok=True)
                shutil.copyfile(src, os.path.join(self.raw, entity, f"{drop}.csv"))

    # -- one pass ---------------------------------------------------------

    def run_pass(self, tracer) -> dict[str, float]:
        shutil.rmtree(self.live)
        shutil.copytree(self.snap, self.live)
        self.spark.catalog.clearCache()
        procs = DriverProcesses(self.spark)
        procs.reset_peak()
        run_s = gold_s = 0.0
        written = 0
        self.windows: list[tuple[float, float]] = []
        for drop in ("increment", "scd"):
            self._land(drop)
            refresh = partial(self._lake().run_all, clock=CLOCKS[drop])
            w0 = procs.bytes_written()
            t0 = time.perf_counter()
            ok = self._operation(f"{drop} refresh", refresh)
            t1 = time.perf_counter()
            written += procs.bytes_written() - w0
            run_s += t1 - t0
            self.windows.append((t0, t1))
            seconds, answers = self._gold_reads(tracer, drop)
            gold_s += seconds
            if ok:
                self._check_gold(drop, answers)
        dropped = self.drop_bytes["increment"] + self.drop_bytes["scd"]
        return {
            "run_s": run_s,
            "gold_query_s": gold_s,
            "write_amp": written / dropped,
            "space_amp": (tree_bytes(self.lake_root) + tree_bytes(self.tmp)) / tree_bytes(self.raw),
            "peak_rss_mb": procs.peak_rss_mb(),
        }

    def _operation(self, what: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as ex:  # noqa: BLE001 - a failed operation is a measured outcome
            self._fail(f"{what}: {type(ex).__name__}: {ex}")
            return False

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    # -- gold reads (the reference's audit queries and a revenue rollup) --

    def _gold_table(self, name: str):
        return ManagedParquetTable(self.spark, os.path.join(self.gold, name)).read()

    def _gold_reads(self, tracer, drop: str) -> tuple[float, dict[str, list[tuple]]]:
        """Run each gold read query ``READ_REPEATS`` times, one operation
        per query; returns the sum of their median seconds and their sorted
        answers (checked later, outside the timing)."""
        queries = {
            f"{name} key audit": lambda n=name, k=key: self._gold_table(n).groupBy(k).count().filter("count > 1")
            for name, (_e, _b, key, _c) in DIMS.items()
        }
        queries["fact grain audit"] = lambda: self._gold_table(FACT).groupBy("booking_id").count().filter("count > 1")
        queries[ROLLUP] = self._revenue_rollup
        seconds = 0.0
        answers = {}
        for what, build in queries.items():
            self.attempted += 1
            times = []
            try:
                for _ in range(READ_REPEATS):
                    t0 = time.perf_counter()
                    with tracer.span("gold.read", None, "gold_read"):
                        rows = sorted(tuple(r) for r in build().collect())
                    times.append(time.perf_counter() - t0)
                    if answers.setdefault(what, rows) != rows:
                        raise RuntimeError("answer changed between repeats")
            except Exception as ex:  # noqa: BLE001 - a failed operation is a measured outcome
                answers.pop(what, None)
                self._fail(f"{drop} {what}: {type(ex).__name__}: {ex}")
            seconds += statistics.median(times) if times else 0.0
        return seconds, answers

    def _revenue_rollup(self):
        fact = self._gold_table(FACT)
        for name, (_e, _b, key, _c) in DIMS.items():
            fact = fact.join(self._gold_table(name), key)
        return fact.groupBy("country", "airline").agg(
            F.count(F.lit(1)).alias("bookings"),
            F.sum(F.round(F.col("amount") * 100).cast("long")).alias("cents"),
        )

    # -- checks, in a child process (``goldcheck.py``) --------------------

    def _check_gold(self, drop: str, answers: dict[str, list[tuple]] | None = None) -> None:
        """Check the gold tables and the gold reads' ``answers`` against
        DuckDB over the landed CSVs. A wrong state fails the load or
        refresh that produced it; a wrong answer, its read."""
        spec = {"raw": self.raw, "gold": self.gold, "answers": answers or {}}
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "goldcheck.py")], cwd=self.work,
            input=json.dumps(spec), capture_output=True, text=True,
        )
        if proc.returncode != 0:
            self._fail(f"{drop} gold check failed: {proc.stderr.strip()[-500:]}")
            return
        out = json.loads(proc.stdout)
        if out["state"]:
            self._fail(f"{drop} gold state: {'; '.join(out['state'])}")
        for why in out["reads"]:
            self._fail(f"{drop} {why}")
