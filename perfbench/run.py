"""lakeflow benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (``BENCHMARK.json`` records their sizes and why each is there):

- ``medallion_incremental``: a seeded flight lake loaded during set-up,
  then the reference's ``_increment`` and ``_scd`` drops through
  ``FlightLakehouse.run_all``, each followed by the gold read queries;
- ``analytics_headline``: ``bench.HEADLINE``'s 29 queries, each cold.

The model is a closed loop with one client: one pipeline run or one query
at a time, from this process, on ``local[<cores>]``.

End-to-end metrics, per pass:

- ``setup_s``: session start plus the workload's set-up (medallion: the
  median of three input generations, the base load and the post-base
  copy; headline: the median of three registry resolutions and the
  warm-up query);
- ``run_s``: medallion: from each drop landing to ``run_all`` returning,
  summed over both drops; headline: builder plus action seconds, summed;
- ``gold_query_s``: medallion: the gold reads after each refresh (the
  median of three runs of each); headline: the action seconds alone (the
  read side of ``run_s``);
- ``write_amp``: bytes this process and its JVM wrote to storage during
  ``run_s`` (``write_bytes`` of ``/proc/<pid>/io``: lake files, checkpoints,
  shuffle and spill) per byte of input (the drops' CSV; the headline's
  parquet);
- ``space_amp``: bytes held at the end of the pass (the lake and the
  program's ``TMPDIR``) per byte of input (all CSV landed; the parquet);
- ``peak_rss_mb``: VmHWM of this process plus its JVM over the pass (the
  JVM heap has a fixed size, so this moves with the Python side and the
  JVM's off-heap memory). The output checks stay out of it: the
  medallion's run in a child process, the headline's after it is read.

Each run's outputs are checked; ``failed``/``attempted`` count the
operations (loads, refreshes, reads, queries) that raised or answered
wrong.

``--trace 0`` reports the end-to-end metrics, medians over the passes
that fit in ``--seconds`` (at least one). ``--trace 1`` starts Spark with
its event log on, sets up, runs ``bench.calibration_probe``, then one pass
with the layer wrappers of ``tracing.py`` installed, and reports the
per-layer metrics of that pass. Its ``trace.overhead_frac`` is the time
the wrappers spend on their own bookkeeping over ``run_s``; the event
log's listener thread works beside the job threads and is not in it.

Every file the run writes (inputs, lakes, ``TMPDIR``, Spark's local and
event-log dirs) lives under ``perfbench/_work/<pid>``, removed at exit.
Progress and failures go to stderr; stdout carries only the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BOOKINGS = 100_000
CPUS = len(os.sched_getaffinity(0))

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "gold_query_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_memory() -> str:
    """An eighth of the host's (or cgroup's) memory, within 1g..24g: the
    package default of 24g exceeds small hosts, and the host may be shared."""
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            total = min(total, int(fh.read()))
    except (OSError, ValueError):
        pass  # no cgroup v2 limit
    return f"{max(1024, min(24 * 1024, total // 8 // 2**20))}m"


class Session:
    """The SparkSession and the JVM behind it, with every scratch path
    under ``work``."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        # every JVM Spark starts, its launcher too: temp files under ``tmp``,
        # and no hsperfdata file (HotSpot puts that in /tmp regardless)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        # Python workers import the package whatever the caller's cwd
        path = [REPO, HERE, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
        os.environ["PYTHONPATH"] = os.pathsep.join(path)
        self.spark = None

    def start(self, event_log: str | None = None):
        from databricks_end_to_end_lakeflow_project_spark.session import get_spark

        heap = driver_memory()
        conf = {
            # a fixed-size heap: G1 growing it on its own timing made peak RSS
            # swing by a quarter between identical runs; with the size fixed,
            # heap pressure shows as GC time in run_s instead
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": f"-Xms{heap}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("lakeflow-perfbench", cpus=CPUS, extra_conf=conf)
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits on EOF of the
        stdin pipe the gateway launcher gave it)."""
        from pyspark import SparkContext

        try:
            self.stop_context()
        except Exception as ex:  # noqa: BLE001 - the JVM must still be stopped
            log(f"SparkContext.stop failed: {type(ex).__name__}: {ex}")
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def make_workload(name: str, spark, work: str, seed: int, tmp: str):
    if name == "medallion_incremental":
        from medallion import MedallionIncremental

        return MedallionIncremental(spark, os.path.join(work, "medallion"), seed, BOOKINGS, tmp)
    from headline import AnalyticsHeadline  # its input is fixed: the seed is unused

    return AnalyticsHeadline(spark, tmp)


def untraced(args, sess: Session):
    from tracing import NullTracer

    t0 = time.perf_counter()
    spark = sess.start()
    session_s = time.perf_counter() - t0
    wl = make_workload(args.workload, spark, sess.work, args.seed, sess.tmp)
    setup_s = session_s + wl.setup()
    log(f"setup {setup_s:.2f}s")
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < args.seconds:
        passes.append(wl.run_pass(NullTracer()))
        log(f"pass {len(passes)}: {passes[-1]}")
    metrics = {"setup_s": setup_s}
    metrics.update({k: statistics.median(p[k] for p in passes) for k in passes[0]})
    return wl, {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}


def traced(args, sess: Session):
    import bench
    from probes import tree_bytes
    from tracing import JVM_TAGS, PY_METRICS, Tracer, jvm_profile

    event_dir = os.path.join(sess.work, "eventlog")
    spark = sess.start(event_log=event_dir)
    wl = make_workload(args.workload, spark, sess.work, args.seed, sess.tmp)
    wl.setup()
    cal = bench.calibration_probe(spark)
    tracer = Tracer(spark)
    tracer.install()
    t0_ms = time.time() * 1e3
    try:
        traced_pass = wl.run_pass(tracer)
    finally:
        t1_ms = time.time() * 1e3
        tracer.uninstall()
    log(f"traced pass: {traced_pass}")
    sess.stop_context()  # flushes and closes the event log
    (log_file,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    jvm, py = jvm_profile(log_file, t0_ms, t1_ms)
    log(f"jvm profile by span: {json.dumps(jvm, sort_keys=True)}")

    m: dict[str, tuple[float, str]] = {}
    for key, unit in [("bronze.rows", "count"), ("bronze.batches", "count"),
                      ("bronze.add_batch_ms", "ms"), ("bronze.plan_ms", "ms"),
                      ("bronze.commit_ms", "ms"), ("bronze.list_ms", "ms"),
                      ("silver.rows_in", "count"), ("silver.rows_dropped", "count"),
                      ("cdc.commits", "count"), ("cdc.bytes_written", "bytes"),
                      ("cdc.files_written", "count")]:
        m[key] = (tracer.counts.get(key, 0.0), unit)
    m["bronze.s"] = (tracer.seconds("bronze.start") + tracer.seconds("bronze.drain"), "s")
    for key, span in [("silver.resolve_s", "silver.resolve"), ("silver.upsert_s", "silver.upsert"),
                      ("silver.finalize_s", "silver.finalize"), ("gold.dim_s", "gold.dim"),
                      ("gold.fact_s", "gold.fact")]:
        m[key] = (tracer.seconds(span), "s")

    run_s = traced_pass["run_s"]
    critical = chain_sum = 0.0
    if args.workload == "medallion_incremental":
        for t0, t1 in wl.windows:
            c, total = tracer.chains(t0, t1)
            critical += c
            chain_sum += total
        unaccounted = (run_s - critical) / run_s
    else:  # run_s is the sum of the query spans: compare it with the pass's wall time
        unaccounted = (wl.wall_s - run_s) / wl.wall_s
    m["chain.critical_s"] = (critical, "s")
    m["chain.sum_s"] = (chain_sum, "s")
    for name in bench.HEADLINE:
        m[f"query.{name}.build_s"] = (getattr(wl, "build_s", {}).get(name, 0.0), "s")
        m[f"query.{name}.exec_s"] = (getattr(wl, "exec_s", {}).get(name, 0.0), "s")

    totals: dict[str, float] = {}
    for per_tag in jvm.values():
        for k, v in per_tag.items():
            totals[k] = totals.get(k, 0.0) + v
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"):
        m[f"jvm.{k}"] = (totals.get(k, 0.0), _unit(k))
    for tag in JVM_TAGS:
        for k in ("jobs", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes"):
            m[f"jvm.{tag}.{k}"] = (jvm.get(tag, {}).get(k, 0.0), _unit(k))
    for k in PY_METRICS.values():
        m[f"pyworker.{k}"] = (py.get(k, 0.0), _unit(k))
    m["host.cpu_s"] = (cal["cpu_sec"], "s")
    m["host.shuffle_s"] = (cal["shuffle_sec"], "s")
    m["host.calibration_s"] = (cal["calibration_sec"], "s")
    m["scratch.bytes_left"] = (tree_bytes(sess.tmp), "bytes")
    m["trace.unaccounted_frac"] = (unaccounted, "ratio")
    m["trace.overhead_frac"] = (tracer.own_s / run_s, "ratio")
    m["error_rate"] = (wl.failed / max(1, wl.attempted), "ratio")
    return wl, {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    return "bytes" if key.endswith("bytes") or key.startswith("bytes") else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="lakeflow benchmark")
    ap.add_argument("--workload", required=True, choices=["medallion_incremental", "analytics_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a TERM runs the cleanup below (and so stops the JVM) like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for p in (REPO, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    work = os.path.join(HERE, "_work", str(os.getpid()))
    sess = Session(work)
    try:
        wl, metrics = (traced if args.trace else untraced)(args, sess)
    finally:
        try:
            sess.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there
    for why in wl.failures:
        log(f"FAILED {why}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
