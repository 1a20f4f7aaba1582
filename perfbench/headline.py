"""The ``analytics_headline`` workload: ``bench.HEADLINE``'s 29 registry
queries on the read-only headline input, each cold (``clearCache``, then
the builder call, then the action), each answer checked against its
registry oracle through ``check_oracle.canon_rows``.

The action is ``collect()``, where ``bench.py`` writes to ``noop``: the
check needs the rows, and a second execution per query would double the
run. ``run_s`` sums builder and action seconds; ``gold_query_s``, the
read side, sums the action seconds alone.
"""

from __future__ import annotations

import os
import statistics
import time

import bench
from oracle import OracleAnswers, answer_digest, headline_sf_dir
from probes import DriverProcesses, tree_bytes

from databricks_end_to_end_lakeflow_project_spark import registry

SETUP_ROUNDS = 3


class AnalyticsHeadline:
    def __init__(self, spark, tmp: str) -> None:
        self.spark = spark
        self.tmp = tmp
        self.sf_dir = headline_sf_dir()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def setup(self) -> float:
        """Resolve the registry (several times, median taken), then
        bench.py's warm-up: the first headline query, counted once. The
        oracle answers are looked up outside the timing."""
        self.answers = OracleAnswers(self.sf_dir, registry.all_oracles())
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.queries = registry.all_queries()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.queries[bench.HEADLINE[0]](self.spark, self.sf_dir).count()
        warmup_s = time.perf_counter() - t0
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, n)) for n in os.listdir(self.sf_dir)
        )
        return statistics.median(rounds) + warmup_s

    def run_pass(self, tracer) -> dict[str, float]:
        procs = DriverProcesses(self.spark)
        procs.reset_peak()
        w0 = procs.bytes_written()
        self.build_s: dict[str, float] = {}
        self.exec_s: dict[str, float] = {}
        digests: dict[str, tuple[str, int]] = {}
        t_pass = time.perf_counter()
        for name in bench.HEADLINE:
            self.spark.catalog.clearCache()
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.span("query.build", name, "query"):
                    df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("query.exec", name, "query"):
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as ex:  # noqa: BLE001 - a failed operation is a measured outcome
                self._fail(f"{name}: {type(ex).__name__}: {ex}")
                continue
            self.build_s[name], self.exec_s[name] = t1 - t0, t2 - t1
            # only one query's rows are held at a time
            digests[name] = (answer_digest(df.columns, rows), len(rows))
            del df, rows
        self.wall_s = time.perf_counter() - t_pass
        written = procs.bytes_written() - w0
        peak = procs.peak_rss_mb()
        for name, (digest, n_rows) in digests.items():
            if digest != self.answers.expected(name):
                self._fail(f"{name}: answer differs from its oracle ({n_rows} rows)")
        return {
            "run_s": sum(self.build_s.values()) + sum(self.exec_s.values()),
            # the read side of run_s: executing each query and fetching its rows
            "gold_query_s": sum(self.exec_s.values()),
            "write_amp": written / self.input_bytes,
            "space_amp": tree_bytes(self.tmp) / self.input_bytes,
            "peak_rss_mb": peak,
        }

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)
