"""Spans around the calls into each layer, and the Spark event-log profile.

``Tracer.install()`` wraps, from outside the package, the public
functions each medallion layer calls into:

- ``streaming.ingest``: ``start_ingest_csv_stream``/``drain_ingest_stream``
  by the names ``plans.flight_pipeline`` imports; the drain wrapper reads
  the query's ``recentProgress``;
- ``pipeline``: ``Pipeline.resolve_flow`` (the expectation count pass),
  ``execute_flow`` (the SCD1 upsert) and ``finalize_run``;
- ``plans.gold``: ``build_dim``/``build_fact`` as ``flight_pipeline`` imports them;
- ``operators.cdc``: ``ManagedParquetTable.upsert/overwrite/append``; the
  table directory is listed before and after each outermost commit.

A span may carry a tag, set as a Spark local property on the calling
thread for the span's duration. Spark copies local properties into the
jobs the thread submits and into threads it starts (a stream's execution
thread), so ``jvm_profile`` can attribute every job in the event log to
the span that issued it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "lakeflow.span"
JVM_TAGS = ("bronze", "silver", "gold_dim", "gold_fact", "gold_read", "query")
DIM_ENTITY = {"DimFlights": "flights", "DimCustomers": "customers", "DimAirports": "airports"}
PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


class NullTracer:
    """The untraced pass: same span calls, nothing recorded or tagged."""

    @contextmanager
    def span(self, name: str, entity: str | None = None, tag: str | None = None):
        yield


class Tracer(NullTracer):
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, str | None, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.own_s = 0.0  # time the wrappers spend on their own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._query_entity: dict[str, str] = {}

    @contextmanager
    def span(self, name: str, entity: str | None = None, tag: str | None = None):
        b0 = time.perf_counter()
        prev = self.sc.getLocalProperty(SPAN_PROP) if tag else None
        if tag:
            self.sc.setLocalProperty(SPAN_PROP, tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if tag:
                self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append((name, entity, t0, t1))
                self.own_s += (t0 - b0) + (time.perf_counter() - t1)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def add_own(self, since: float) -> None:
        with self._lock:
            self.own_s += time.perf_counter() - since

    def seconds(self, name: str) -> float:
        return sum(t1 - t0 for n, _e, t0, t1 in self.spans if n == name)

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from databricks_end_to_end_lakeflow_project_spark.operators.cdc import ManagedParquetTable
        from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline
        from databricks_end_to_end_lakeflow_project_spark.plans import flight_pipeline as fp

        tr = self

        def start(orig):
            def wrapped(spark, src_dir, *a, **k):
                entity = os.path.basename(src_dir.rstrip("/"))
                with tr.span("bronze.start", entity, "bronze"):
                    query = orig(spark, src_dir, *a, **k)
                with tr._lock:
                    tr._query_entity[str(query.id)] = entity
                return query
            return wrapped

        def drain(orig):
            def wrapped(query):
                with tr.span("bronze.drain", tr._query_entity.get(str(query.id)), "bronze"):
                    batches = orig(query)
                b0 = time.perf_counter()
                tr.add("bronze.batches", batches)
                for p in query.recentProgress:
                    d = p["durationMs"]
                    tr.add("bronze.rows", p["numInputRows"])
                    tr.add("bronze.add_batch_ms", d.get("addBatch", 0))
                    tr.add("bronze.plan_ms", d.get("queryPlanning", 0))
                    tr.add("bronze.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
                    tr.add("bronze.list_ms", d.get("latestOffset", 0) + d.get("getBatch", 0))
                tr.add_own(b0)
                return batches
            return wrapped

        def flow_step(span_name):
            def make(orig):
                def wrapped(pipeline, flow, *a, **k):
                    with tr.span(span_name, flow.source.removesuffix("_raw"), "silver"):
                        return orig(pipeline, flow, *a, **k)
                return wrapped
            return make

        def finalize(orig):
            def wrapped(pipeline, *a, **k):
                b0 = time.perf_counter()
                for m in pipeline.metrics.values():
                    tr.add("silver.rows_in", m.passed_rows + m.failed_rows)
                    tr.add("silver.rows_dropped", m.failed_rows)
                tr.add_own(b0)
                with tr.span("silver.finalize", None, "silver"):
                    return orig(pipeline, *a, **k)
            return wrapped

        def gold(span_name, tag):
            def make(orig):
                def wrapped(source, target, cfg, *a, **k):
                    with tr.span(span_name, DIM_ENTITY.get(cfg.name), tag):
                        return orig(source, target, cfg, *a, **k)
                return wrapped
            return make

        def commit(orig):
            def wrapped(table, *a, **k):
                depth = getattr(tr._local, "depth", 0)
                tr._local.depth = depth + 1
                try:
                    if depth:  # a commit inside a commit: the outer one lists it
                        return orig(table, *a, **k)
                    b0 = time.perf_counter()
                    before = _listing(table.path)
                    tr.add_own(b0)
                    out = orig(table, *a, **k)
                    b0 = time.perf_counter()
                    after = _listing(table.path)
                    new = [f for f, stat in after.items() if before.get(f) != stat]
                    tr.add("cdc.commits", 1)
                    tr.add("cdc.files_written", len(new))
                    tr.add("cdc.bytes_written", sum(after[f][0] for f in new))
                    tr.add_own(b0)
                    return out
                finally:
                    tr._local.depth = depth
            return wrapped

        self._patch(fp, "start_ingest_csv_stream", start)
        self._patch(fp, "drain_ingest_stream", drain)
        self._patch(Pipeline, "resolve_flow", flow_step("silver.resolve"))
        self._patch(Pipeline, "execute_flow", flow_step("silver.upsert"))
        self._patch(Pipeline, "finalize_run", finalize)
        self._patch(fp, "build_dim", gold("gold.dim", "gold_dim"))
        self._patch(fp, "build_fact", gold("gold.fact", "gold_fact"))
        for method in ("upsert", "overwrite", "append"):
            self._patch(ManagedParquetTable, method, commit)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- derived ----------------------------------------------------------

    def chains(self, t0: float, t1: float) -> tuple[float, float]:
        """(longest entity chain + fact build, sum of chains + fact build)
        for one ``run_all`` between ``t0`` and ``t1``: a chain runs from its
        bronze start to its silver upsert or gold dim, on one thread."""
        spans = [s for s in self.spans if t0 <= s[2] and s[3] <= t1]
        chain: dict[str, list[float]] = {}
        for name, entity, s0, s1 in spans:
            if entity and name != "gold.fact":
                lo, hi = chain.get(entity, [s0, s1])
                chain[entity] = [min(lo, s0), max(hi, s1)]
        fact = sum(s1 - s0 for name, _e, s0, s1 in spans if name == "gold.fact")
        lengths = [hi - lo for lo, hi in chain.values()] or [0.0]
        return max(lengths) + fact, sum(lengths) + fact


def _listing(path: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def jvm_profile(
    event_log: str, t0_ms: float, t1_ms: float
) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
    """Per-tag JVM task totals and Python-worker SQL metrics of the jobs a
    Spark event log shows submitted between ``t0_ms`` and ``t1_ms`` (epoch
    milliseconds). Jobs without a tag count under ``other``."""
    stage_tag: dict[int, str] = {}
    jvm: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    py: dict[str, float] = defaultdict(float)
    with open(event_log) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                if not t0_ms <= e["Submission Time"] <= t1_ms:
                    continue
                tag = (e.get("Properties") or {}).get(SPAN_PROP) or "other"
                jvm[tag]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_tag.setdefault(s, tag)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m or e["Stage ID"] not in stage_tag:
                    continue
                j = jvm[stage_tag[e["Stage ID"]]]
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                j["tasks"] += 1
                j["executor_run_s"] += m["Executor Run Time"] / 1e3
                j["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                j["gc_s"] += m["JVM GC Time"] / 1e3
                j["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                j["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                j["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            elif kind == "SparkListenerStageCompleted":
                if e["Stage Info"]["Stage ID"] not in stage_tag:
                    continue
                for acc in e["Stage Info"].get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        value = float(acc["Value"])
                        py[key] += value / 1e3 if key.endswith("_s") else value
    return jvm, py
