"""Physical-plan introspection helpers.

Thin, dependency-free readers over ``df.explain`` / the executed
SparkPlan string, used by ``tests/test_plans.py`` and by hand during
optimization ("is this the plan I'd want at 100 TB?"). The reference has
no analog (it never inspects plans; its performance knowledge is config,
SURVEY §4) — this module is how the new engine keeps its §4 guarantees
enforceable.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """The ``explain`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    """The executed SparkPlan tree (post-AQE wrapper, pre-execution)."""
    return df._jdf.queryExecution().executedPlan().toString()


def read_schemas(plan: str) -> list[str]:
    """Every scan's ReadSchema line — what actually gets read off disk.
    A 2-column projection reading 10 columns is a pruning bug."""
    return [line.strip() for line in plan.splitlines() if "ReadSchema" in line]


def pushed_filters(plan: str) -> list[str]:
    """Every scan's PushedFilters line — predicates the parquet reader
    evaluates against row-group statistics."""
    return [line.strip() for line in plan.splitlines() if "PushedFilters" in line]


def count_op(plan: str, op: str) -> int:
    """Occurrences of a physical operator name in a plan string."""
    return plan.count(op)


def hof_filter_below_repartition(df: DataFrame) -> list[str]:
    """Detect expensive-expression recomputation below a repartition: a
    Filter containing a higher-order ``lambdafunction`` that sits under a
    RoundRobinPartitioning exchange means Catalyst pushed an inferred
    predicate (usually ``isnotnull(f(expensive))``) below the spread
    point — the expression then evaluates on the UNSPREAD partition and
    again above (measured 2× regressions twice in this repo; see
    operators/dedup.py and operators/partitioning.py). Returns the
    offending Filter lines (empty = healthy plan)."""
    lines = executed_plan(df).splitlines()
    offenders = []
    below_repartition = False
    for line in lines:
        if "RoundRobinPartitioning" in line:
            below_repartition = True
            continue
        if below_repartition and "Scan" in line:
            below_repartition = False
        if below_repartition and "Filter" in line and "lambdafunction" in line:
            offenders.append(line.strip()[:200])
    return offenders
