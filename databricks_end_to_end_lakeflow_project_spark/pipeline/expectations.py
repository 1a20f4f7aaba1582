"""Data-quality expectations: declarative row gates with violation metrics.

Re-expression of DLT expectations (SURVEY.md §2.2 P9 / §2.8 T6; reference
`dlt_bronze_to_silver_pipeline.py:6-12` uses `@dlt.expect_all_or_drop`
with four NOT-NULL rules, and `README.md:94` names the `expect`,
`expect_or_drop`, `expect_all_or_fail` variants).

Implementation: each rule is a SQL boolean expression. :func:`gate`
computes the names of the rules a row fails ONCE, as an array column, and
derives everything from it:

- the passed frame — DROP filters failing rows, WARN keeps them, FAIL
  aborts the query in-plan (a ``raise_error`` inside a filter, which
  column pruning cannot remove), so the consuming write fails before it
  commits;
- the quarantine frame — the failing rows, with the array as
  ``__failed_rules``;
- the metrics — map-side combinable counters attached to the passed
  frame with ``DataFrame.observe``, so they ride the action that consumes
  it (the flow's own write) instead of a separate aggregate job. This is
  Structured Streaming's contract: the query that does the work reports
  its metrics.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field
from enum import Enum

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Policy(str, Enum):
    WARN = "warn"  # keep all rows, record violations (dlt.expect)
    DROP = "drop"  # drop violating rows (dlt.expect_or_drop / expect_all_or_drop)
    FAIL = "fail"  # abort on any violation (dlt.expect_all_or_fail)


class ExpectationFailed(Exception):
    pass


@dataclass
class ExpectationResult:
    dataset: str
    policy: Policy
    passed_rows: int
    failed_rows: int
    per_rule_failures: dict[str, int] = field(default_factory=dict)


_FAILED = "__failed_rules"
_ABORT = "expectation failed: "


@dataclass
class Gate:
    """One view's expectations: the ``passed`` and ``quarantined``
    frames, both derived from the single failed-rule array."""

    dataset: str
    policy: Policy
    rules: list[str]
    passed: DataFrame
    quarantined: DataFrame
    _obs: Observation

    def result(self) -> ExpectationResult | None:
        """Metrics of the first action that ran ``passed``; None while no
        action has. ``Observation.get`` would wait forever on a frame
        that never runs, so completion is checked without waiting. A
        finished action completes its observation on Spark's listener
        thread, so the listener bus is drained first (a bounded wait for
        events already posted) — the check then cannot miss an action
        that returned before it."""
        bus = self.passed.sparkSession.sparkContext._jsc.sc().listenerBus()
        with contextlib.suppress(Py4JError):  # drain timed out: check anyway
            bus.waitUntilEmpty(10_000)
        if not self._obs._jo.future().isCompleted():
            return None
        row = self._obs.get
        failed = int(row["__failed"] or 0)
        return ExpectationResult(
            dataset=self.dataset,
            policy=self.policy,
            passed_rows=int(row["__total"]) - failed,
            failed_rows=failed,
            per_rule_failures={r: int(row[r] or 0) for r in self.rules},
        )


def gate(
    df: DataFrame,
    rules: dict[str, str],
    policy: Policy = Policy.DROP,
    dataset: str = "<anonymous>",
) -> Gate:
    """Gate ``df`` with ``rules`` ({name: sql_bool_expr}); all rules must
    hold for a row to pass (a NULL outcome fails). Pure plan
    transformation: no action runs here."""
    tagged = df.withColumn(
        _FAILED,
        F.array_compact(
            F.array(
                *[
                    F.when(~F.coalesce(F.expr(e), F.lit(False)), F.lit(name))
                    for name, e in rules.items()
                ]
            )
        ),
    )
    ok = F.size(_FAILED) == 0
    obs = Observation()
    observed = tagged.observe(
        obs,
        F.count(F.lit(1)).alias("__total"),
        F.sum((~ok).cast("long")).alias("__failed"),
        *[F.sum(F.array_contains(_FAILED, r).cast("long")).alias(r) for r in rules],
    )
    if policy is Policy.DROP:
        passed = observed.filter(ok)
    elif policy is Policy.FAIL:
        abort = F.raise_error(
            F.concat(F.lit(f"{_ABORT}{dataset} row fails "), F.array_join(_FAILED, ", "))
        )
        passed = observed.filter(F.when(ok, F.lit(True)).otherwise(abort))
    else:
        passed = observed
    quarantined = tagged.filter(~ok).withColumn("__dataset", F.lit(dataset))
    return Gate(dataset, policy, list(rules), passed.drop(_FAILED), quarantined, obs)


@contextlib.contextmanager
def surfacing_failures():
    """Re-raise a FAIL gate's in-plan abort, raised by whichever action
    consumed the gated frame, as :class:`ExpectationFailed`."""
    try:
        yield
    except PySparkException as e:
        msg = str(e)
        at = msg.find(_ABORT)
        if at < 0:
            raise
        raise ExpectationFailed(msg[at + len(_ABORT):].split(" SQLSTATE")[0]) from e
