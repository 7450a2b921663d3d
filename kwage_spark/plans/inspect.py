"""Plan-inspection helpers — assertions about the PHYSICAL plan.

The 100-TB contract isn't "returns right rows" but "returns right rows
with the plan you'd want": filters reaching the parquet scan, small dims
broadcast, no shuffle where the algebra doesn't need one. These helpers
turn `.explain("formatted")` into testable predicates.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes."""
    return "\n".join(line for line in physical_plan(df).splitlines()
                     if "PushedFilters" in line)


def partition_filters(df: DataFrame) -> str:
    """The PartitionFilters section(s) of the scan nodes — non-empty
    entries here mean the scan prunes whole partition directories before
    reading a byte (the store/ANN bucket-layout contract)."""
    return "\n".join(line for line in physical_plan(df).splitlines()
                     if "PartitionFilters" in line)


def scan_read_schema(df: DataFrame) -> str:
    return "\n".join(line for line in physical_plan(df).splitlines()
                     if "ReadSchema" in line)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or \
        "BroadcastNestedLoopJoin" in physical_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators (not broadcasts)."""
    plan = physical_plan(df)
    return sum(1 for line in plan.splitlines()
               if line.strip().startswith(("* Exchange", "Exchange"))
               and "Broadcast" not in line and "SinglePartition" not in line)


def has_wholestage_codegen(df: DataFrame) -> bool:
    """Execute (AQE finalizes the plan lazily) and look for the `*(n)`
    codegen-stage markers in the executed plan."""
    df.collect()  # count() spawns a new plan; collect finalizes THIS one
    executed = df._jdf.queryExecution().executedPlan().toString()
    return "*(" in executed


def executed_nodes(df: DataFrame) -> list[tuple[str, dict[str, float]]]:
    """(node name, SQL metric values) for every operator of ``df``'s
    executed plan, pre-order: AQE's final plan with its query stages
    opened. Call after an action on ``df`` itself (e.g. ``collect()``);
    ``count()`` plans and runs a different query."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = float(kv._2().value())
        out.append((node.nodeName(), metrics))
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out
