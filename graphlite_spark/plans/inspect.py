"""Plan introspection: assert the physical plan is the one you'd want.

The reference exposes its optimizer trace (GraphLite
`graphlite/src/plan/optimizer.rs:165-435` plan_query_with_trace);
Spark-side the analogue is the formatted physical plan. These helpers
parse it so tests and bench can *assert* plan quality — scans pruned,
filters pushed, no stray cartesians — instead of eyeballing explain
output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@dataclass
class PlanSummary:
    scans: list[dict] = field(default_factory=list)
    exchanges: int = 0
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    hash_joins: int = 0
    nested_loop_joins: int = 0
    wholestage_codegen: int = 0
    text: str = ""

    @property
    def joins(self) -> int:
        return (
            self.broadcast_joins
            + self.sortmerge_joins
            + self.hash_joins
            + self.nested_loop_joins
        )


def summarize(df: DataFrame) -> PlanSummary:
    text = formatted_plan(df)
    s = PlanSummary(text=text)
    s.exchanges = len(re.findall(r"\bExchange\b", text))
    s.broadcast_joins = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", text))
    s.sortmerge_joins = len(re.findall(r"SortMergeJoin", text))
    s.hash_joins = len(re.findall(r"\bShuffledHashJoin\b", text))
    s.nested_loop_joins = len(re.findall(r"CartesianProduct", text))
    s.wholestage_codegen = len(re.findall(r"WholeStageCodegen", text))
    for m in re.finditer(
        r"\(\d+\) Scan parquet ?\n(?P<body>(?:.+\n)+?)\n", text
    ):
        body = m.group("body")
        scan = {}
        loc = re.search(r"Location: \S+ \[(?P<p>[^\]]*)\]", body)
        scan["location"] = loc.group("p") if loc else None
        pushed = re.search(r"PushedFilters: \[(?P<f>[^\]]*)\]", body)
        scan["pushed_filters"] = (
            [f.strip() for f in pushed.group("f").split(",") if f.strip()]
            if pushed
            else []
        )
        rs = re.search(r"ReadSchema: struct<(?P<s>[^>]*)>", body)
        scan["columns"] = (
            [c.split(":")[0].strip() for c in rs.group("s").split(",")] if rs else []
        )
        s.scans.append(scan)
    return s

