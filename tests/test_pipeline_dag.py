from __future__ import annotations

import pytest

from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline
from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
    ExpectationFailed,
    Policy,
    gate,
    surfacing_failures,
)


@pytest.fixture
def df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d")], "id int, val string"
    )


def test_expect_drop(df):
    g = gate(df, {"id_set": "id IS NOT NULL", "val_set": "val IS NOT NULL"}, Policy.DROP, "ds")
    assert g.result() is None  # gating is lazy: no action has run yet
    assert g.passed.count() == 2
    m = g.result()
    assert m.failed_rows == 2 and m.passed_rows == 2
    assert m.per_rule_failures == {"id_set": 1, "val_set": 1}
    assert g.passed.columns == df.columns


def test_expect_warn_keeps_rows(df):
    g = gate(df, {"id_set": "id IS NOT NULL"}, Policy.WARN, "ds")
    assert g.passed.count() == 4
    m = g.result()
    assert m.failed_rows == 1 and m.passed_rows == 3


def test_expect_fail_raises(df):
    g = gate(df, {"id_set": "id IS NOT NULL"}, Policy.FAIL, "ds")
    with pytest.raises(ExpectationFailed, match="ds row fails id_set"):
        with surfacing_failures():
            g.passed.count()


def test_expect_fail_passes_when_clean(df):
    clean = df.filter("id IS NOT NULL AND val IS NOT NULL")
    g = gate(clean, {"id_set": "id IS NOT NULL"}, Policy.FAIL, "ds")
    assert g.passed.count() == 2
    m = g.result()
    assert m.failed_rows == 0 and m.passed_rows == 2


def test_pipeline_cycle_detection(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))

    @p.view(name="a")
    def a(pl):
        return pl.read("b")

    @p.view(name="b")
    def b(pl):
        return pl.read("a")

    with pytest.raises(ValueError, match="cycle"):
        p.read("a")


def test_pipeline_view_chaining(spark, tmp_path, df):
    p = Pipeline(spark, str(tmp_path))

    @p.view(name="src")
    def src(pl):
        return df

    @p.view(name="doubled")
    def doubled(pl):
        from pyspark.sql import functions as F

        return pl.read("src").withColumn("id2", F.col("id") * 2)

    assert p.read("doubled").filter("id2 = 6").count() == 1


def test_cdc_flow_requires_declared_table(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))
    with pytest.raises(KeyError):
        p.create_auto_cdc_flow(target="missing", source="src", keys=["k"], sequence_by="s")


def test_observed_expectations_single_pass(spark):
    """The gate's metrics come from the SAME action that materializes the
    gated frame: counting it runs no more Spark jobs than counting the
    equivalent plain filter, and the metrics still include the rows the
    gate dropped."""
    import uuid

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (4, "d")], "id int, name string"
    )
    rules = {"id_set": "id IS NOT NULL", "name_set": "name IS NOT NULL"}
    sc = spark.sparkContext

    def jobs_of(action):
        group = f"single_pass_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    g = gate(df, rules, Policy.DROP, "t")
    kept, gated_jobs = jobs_of(g.passed.count)  # metrics piggyback on it
    plain, plain_jobs = jobs_of(df.filter("id IS NOT NULL AND name IS NOT NULL").count)
    assert kept == plain == 2
    assert gated_jobs == plain_jobs >= 1
    got = g.result()
    assert got.failed_rows == 2 and got.passed_rows == 2
    assert got.per_rule_failures == {"id_set": 1, "name_set": 1}


def test_fail_view_aborts_flow_before_commit(spark, tmp_path):
    """A FAIL view that sees a violation aborts its flow's write inside
    the plan: the run raises ExpectationFailed and the target keeps its
    commit version, its rows and no staged leftovers."""
    import os

    rows = [("a", 1, "x"), ("b", 1, "y")]
    p = Pipeline(spark, str(tmp_path / "fail"))

    @p.view(name="changes", expectations={"v_set": "v IS NOT NULL"}, policy=Policy.FAIL)
    def changes(pl):
        return spark.createDataFrame(rows, "k string, seq int, v string")

    p.create_streaming_table("snap")
    p.create_auto_cdc_flow(target="snap", source="changes", keys=["k"], sequence_by="seq")
    p.run()
    t = p.table("snap")
    version = t.version()
    before = sorted(map(tuple, t.read().collect()))
    assert p.metrics["changes"].failed_rows == 0

    rows[:] = [("a", 2, "x2"), ("c", 2, None)]
    with pytest.raises(ExpectationFailed, match="changes row fails v_set"):
        p.run()
    assert t.version() == version
    assert sorted(map(tuple, t.read().collect())) == before
    assert not [d for d in os.listdir(tmp_path / "fail") if "__tmp_" in d]


def test_finalize_skips_gate_that_never_ran(spark, tmp_path):
    """A gated view resolved in a run but never executed has no metrics:
    finalize_run must not wait on its observation (Observation.get would
    block forever) and must log nothing for it."""
    import threading

    p = Pipeline(spark, str(tmp_path / "idle"))

    @p.view(name="gated", expectations={"v_set": "v IS NOT NULL"})
    def gated(pl):
        return spark.createDataFrame([(1, None)], "id int, v string")

    p.begin_run()
    p.read("gated")  # resolved: the gate exists, its frame never runs
    done = threading.Thread(target=p.finalize_run, daemon=True)
    done.start()
    done.join(timeout=120)
    assert not done.is_alive(), "finalize_run blocked on an unexecuted gate"
    assert p.metrics == {}
    assert not (tmp_path / "idle" / "__event_log").exists()


def test_quarantine_routes_violations_to_side_table(spark, tmp_path):
    """Expectation violations land in the quarantine table with
    __failed_rules / __dataset / __batch_id; the view itself only passes
    clean rows; a second run appends with the next batch id."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    src = [(1, "ok"), (2, None), (3, ""), (4, "fine")]
    p = Pipeline(spark, str(tmp_path / "q"))

    @p.view(
        name="clean",
        expectations={"not_null": "v IS NOT NULL", "not_empty": "v <> ''"},
        quarantine_to="bad_rows",
    )
    def clean(pl):
        return spark.createDataFrame(src, "id int, v string")

    p.run(materialize=["clean"])
    assert {r["id"] for r in p.read("clean").collect()} == {1, 4}
    bad = p.table("bad_rows").read().collect()
    got = {(r["id"], tuple(r["__failed_rules"]), r["__dataset"], r["__batch_id"])
           for r in bad}
    # NULL fails BOTH rules (not_empty is NULL-unknown -> fails the gate)
    assert got == {
        (2, ("not_null", "not_empty"), "clean", 1),
        (3, ("not_empty",), "clean", 1),
    }

    p.run(materialize=["clean"])
    assert p.table("bad_rows").read().count() == 4
    assert {r["__batch_id"] for r in p.table("bad_rows").read().collect()} == {1, 2}


def test_quarantine_requires_expectations_and_drop(spark, tmp_path):
    import pytest as _pytest

    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline
    from databricks_end_to_end_lakeflow_project_spark.pipeline.expectations import (
        Policy,
    )

    p = Pipeline(spark, str(tmp_path / "q2"))
    with _pytest.raises(ValueError):
        p.view(name="x", expectations={"r": "1=1"},
               policy=Policy.WARN, quarantine_to="t")
    with _pytest.raises(ValueError):
        @p.view(name="y", quarantine_to="t")
        def y(pl):
            return None


def test_apply_as_truncates_full_snapshot_reload(spark, tmp_path):
    """A truncate marker at seq T discards all target rows and same-batch
    changes with seq < T; changes at/after T apply on the fresh slate."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "tr"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("a", 1, "v1", False), ("b", 1, "v1", False)],
        "k string, seq int, v string, trunc boolean"), truncate_col="trunc")
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}

    # batch 2: stale pre-truncate change for c (seq 2), truncate at 5,
    # post-truncate snapshot rows for a and d
    t.upsert(spark.createDataFrame(
        [("c", 2, "stale", False), (None, 5, None, True),
         ("a", 6, "v2", False), ("d", 6, "v1", False)],
        "k string, seq int, v string, trunc boolean"), truncate_col="trunc")
    got = {(r["k"], r["seq"], r["v"]) for r in t.read().collect()}
    assert got == {("a", 6, "v2"), ("d", 6, "v1")}  # b and stale c are gone


def test_truncates_noop_without_markers(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        ManagedParquetTable,
    )

    t = ManagedParquetTable(spark, str(tmp_path / "tr2"), keys=["k"], sequence_by="seq")
    t.upsert(spark.createDataFrame(
        [("a", 1, False)], "k string, seq int, trunc boolean"), truncate_col="trunc")
    t.upsert(spark.createDataFrame(
        [("b", 2, False)], "k string, seq int, trunc boolean"), truncate_col="trunc")
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}


def test_truncates_via_pipeline_flow(spark, tmp_path):
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    batches = [
        [("a", 1, "v1", False), ("b", 1, "v1", False)],
        [(None, 3, None, True), ("b", 4, "v2", False)],
    ]
    state = {"i": 0}
    p = Pipeline(spark, str(tmp_path / "trp"))

    @p.view(name="changes")
    def changes(pl):
        return spark.createDataFrame(
            batches[state["i"]], "k string, seq int, v string, trunc boolean"
        )

    p.create_streaming_table("snap")
    p.create_auto_cdc_flow(
        target="snap", source="changes", keys=["k"], sequence_by="seq",
        apply_as_truncates="trunc",
    )
    p.run()
    assert p.table("snap").read().count() == 2
    state["i"] = 1
    p.run()
    got = {(r["k"], r["v"]) for r in p.table("snap").read().collect()}
    assert got == {("b", "v2")}


def test_materialized_view_recomputes_per_run(spark, tmp_path):
    """DLT @dlt.table analogue: full recompute + persist each run, so the
    table always reflects current upstream (no carried state)."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    rows = [(1, 10.0), (2, 20.0)]
    p = Pipeline(spark, str(tmp_path / "mv"))

    @p.materialized_view(name="totals")
    def totals(pl):
        df = spark.createDataFrame(rows, "k int, v double")
        from pyspark.sql import functions as F
        return df.groupBy("k").agg(F.sum("v").alias("total"))

    p.run()
    assert {(r["k"], r["total"]) for r in p.table("totals").read().collect()} \
        == {(1, 10.0), (2, 20.0)}

    rows.clear(); rows.extend([(1, 5.0)])  # upstream shrank — mview must follow
    p.run()
    assert {(r["k"], r["total"]) for r in p.table("totals").read().collect()} \
        == {(1, 5.0)}


def test_event_log_records_per_rule_outcomes(spark, tmp_path):
    """DLT event-log parity: every run appends (run_id, dataset, policy,
    rule, n_rows, n_failed) rows queryable via p.event_log()."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    src = [(1, "ok"), (2, None), (3, "x")]
    p = Pipeline(spark, str(tmp_path / "el"))

    @p.view(name="gated", expectations={"v_not_null": "v IS NOT NULL"})
    def gated(pl):
        return spark.createDataFrame(src, "id int, v string")

    p.run(materialize=["gated"])
    log1 = {(r["run_id"], r["dataset"], r["rule"], r["n_rows"], r["n_failed"])
            for r in p.event_log().collect()}
    assert log1 == {(1, "gated", "v_not_null", 3, 1)}

    src.append((4, None))
    p.run(materialize=["gated"])
    log2 = {(r["run_id"], r["n_rows"], r["n_failed"]) for r in p.event_log().collect()}
    assert log2 == {(1, 3, 1), (2, 4, 2)}


def test_lineage_edges_cover_views_and_flows(spark, tmp_path):
    """The lineage graph records view→view read edges plus declared CDC
    flow edges — the DLT pipeline-graph surface."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    p = Pipeline(spark, str(tmp_path / "lin"))

    @p.view(name="raw")
    def raw(pl):
        return spark.createDataFrame([(1, 1, "x")], "k int, seq int, v string")

    @p.view(name="staged")
    def staged(pl):
        return pl.read("raw")

    p.create_streaming_table("silver")
    p.create_auto_cdc_flow(target="silver", source="staged",
                           keys=["k"], sequence_by="seq")

    @p.view(name="report")
    def report(pl):
        return pl.read("silver")

    p.run(materialize=["report"])
    assert {("raw", "staged"), ("staged", "silver"), ("silver", "report")} \
        <= p.lineage()


def test_append_flows_multiplex_without_duplicates(spark, tmp_path):
    """DLT append_flow parity: two sources append into one target; a
    second run with partially-new data delivers only rows past each
    flow's persisted watermark (no duplicates, nothing lost)."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    a_rows = [(1, "a"), (2, "a")]
    b_rows = [(10, "b")]
    p = Pipeline(spark, str(tmp_path / "af"))

    @p.view(name="src_a")
    def src_a(pl):
        return spark.createDataFrame(a_rows, "seq int, origin string")

    @p.view(name="src_b")
    def src_b(pl):
        return spark.createDataFrame(b_rows, "seq int, origin string")

    p.create_streaming_table("multiplexed")
    p.create_append_flow(target="multiplexed", source="src_a", sequence_by="seq")
    p.create_append_flow(target="multiplexed", source="src_b", sequence_by="seq")

    p.run()
    got = sorted((r["seq"], r["origin"])
                 for r in p.table("multiplexed").read().collect())
    assert got == [(1, "a"), (2, "a"), (10, "b")]

    a_rows.append((3, "a"))          # new row for flow a
    b_rows[:] = b_rows               # flow b unchanged
    p.run()
    got = sorted((r["seq"], r["origin"])
                 for r in p.table("multiplexed").read().collect())
    assert got == [(1, "a"), (2, "a"), (3, "a"), (10, "b")]

    # watermarks survive a fresh Pipeline over the same storage root
    p2 = Pipeline(spark, str(tmp_path / "af"))

    @p2.view(name="src_a")
    def src_a2(pl):
        return spark.createDataFrame(a_rows, "seq int, origin string")

    @p2.view(name="src_b")
    def src_b2(pl):
        return spark.createDataFrame(b_rows, "seq int, origin string")

    p2.create_streaming_table("multiplexed")
    p2.create_append_flow(target="multiplexed", source="src_a", sequence_by="seq")
    p2.create_append_flow(target="multiplexed", source="src_b", sequence_by="seq")
    p2.run()
    assert p2.table("multiplexed").read().count() == 4  # nothing re-delivered


def test_snapshot_flow_scd2_incremental_equals_oneshot(spark, tmp_path):
    """create_auto_cdc_from_snapshot_flow: four pipeline runs, each
    seeing a new FULL snapshot, must reproduce the one-shot
    scd2_from_snapshots fold exactly — including a delete closing the
    open version rowlessly and a later re-insert; the type-1 variant
    tracks the latest snapshot verbatim."""
    from databricks_end_to_end_lakeflow_project_spark.operators.cdc import (
        scd2_from_snapshots,
    )
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    snaps = [
        [("A", 1), ("B", 9)],
        [("A", 2), ("B", 9)],
        [("B", 9)],
        [("A", 5), ("B", 9), ("C", 7)],
    ]
    holder = {"rows": snaps[0]}

    p = Pipeline(spark, str(tmp_path / "pipe"))

    @p.view(name="src_snapshot")
    def _src(pl):
        return spark.createDataFrame(holder["rows"], "k string, val int")

    p.create_streaming_table("dim_hist")
    p.create_streaming_table("dim_latest")
    p.create_auto_cdc_from_snapshot_flow(
        target="dim_hist", source="src_snapshot", keys=["k"], stored_as_scd_type=2
    )
    p.create_auto_cdc_from_snapshot_flow(
        target="dim_latest", source="src_snapshot", keys=["k"], stored_as_scd_type=1
    )
    for rows in snaps:
        holder["rows"] = rows
        p.run()

    got = {
        (r["k"], r["val"], r["__START_AT"], r["__END_AT"])
        for r in p.table("dim_hist").read().collect()
    }
    oneshot = scd2_from_snapshots(
        [(i + 1, spark.createDataFrame(r, "k string, val int")) for i, r in enumerate(snaps)],
        ["k"],
    )
    want = {
        (r["k"], r["val"], r["__START_AT"], r["__END_AT"]) for r in oneshot.collect()
    }
    assert got == want
    latest = {(r["k"], r["val"]) for r in p.table("dim_latest").read().collect()}
    assert latest == set(snaps[-1])


def test_full_refresh_clears_prior_process_state(spark, tmp_path):
    """full_refresh must clear on-disk state created by a PRIOR process —
    the lazily-created __event_log and quarantine tables a new Pipeline
    instance never re-declares — so reset __batch_id values cannot
    collide with stale pre-refresh rows."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    root = str(tmp_path / "p")
    src = [(1, "ok"), (2, None)]

    def build():
        p = Pipeline(spark, root)

        @p.view(
            name="clean",
            expectations={"not_null": "v IS NOT NULL"},
            quarantine_to="bad_rows",
        )
        def clean(pl):
            return spark.createDataFrame(src, "id int, v string")

        return p

    p1 = build()
    p1.run(materialize=["clean"])
    p1.run(materialize=["clean"])  # runs 1 and 2 on disk

    # "new process": fresh instance over the same storage root
    p2 = build()
    p2.full_refresh(materialize=["clean"])
    # all post-refresh rows carry run 1 ids with no stale survivors
    assert {r["run_id"] for r in p2.event_log().collect()} == {1}
    bad = p2.table("bad_rows").read().collect()
    assert {(r["id"], r["__batch_id"]) for r in bad} == {(2, 1)}


def test_full_refresh_equals_fresh_pipeline(spark, tmp_path):
    """full_refresh drops targets AND incremental side state (append
    watermarks, snapshot counters), so the rebuilt tables match a
    brand-new pipeline run — not a double-applied increment."""
    from databricks_end_to_end_lakeflow_project_spark.pipeline.dag import Pipeline

    rows = [("A", 1, 10), ("B", 2, 20), ("A", 3, 30)]

    def build(root):
        p = Pipeline(spark, root)

        @p.view(name="src")
        def _src(pl):
            return spark.createDataFrame(rows, "k string, seq int, v int")

        p.create_streaming_table("tgt")
        p.create_auto_cdc_flow(
            target="tgt", source="src", keys=["k"], sequence_by="seq"
        )
        p.create_streaming_table("log")
        p.create_append_flow(target="log", source="src", sequence_by="seq")
        return p

    p1 = build(str(tmp_path / "a"))
    p1.run()
    p1.run()  # second incremental run (append flow must not double)
    p1.full_refresh()
    refreshed_tgt = sorted(map(tuple, p1.table("tgt").read().collect()))
    refreshed_log = sorted(map(tuple, p1.table("log").read().collect()))

    p2 = build(str(tmp_path / "b"))
    p2.run()
    assert refreshed_tgt == sorted(map(tuple, p2.table("tgt").read().collect()))
    assert refreshed_log == sorted(map(tuple, p2.table("log").read().collect()))
