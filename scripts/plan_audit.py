#!/usr/bin/env python
"""Registry-wide physical-plan audit: makes the zero-fact-broadcast
claim re-runnable.

Two structural sweeps over the formatted plan of every oracle-backed
batch query in the registry — the classes tests/test_plan_lint.py does
NOT already cover:

1. Fact-sized scan under a BroadcastExchange build side (the q3 bug
   class): an indentation-walk of every BroadcastExchange subtree; any
   `Scan parquet` of a fact table (lineitem / orders / events /
   documents / embeddings) inside the subtree is a hit UNLESS an
   aggregate/limit/sketch node sits between the scan and the broadcast
   (a bounded derivation of a fact table is fine — q123/q120/q116's
   per-doc/vocab aggregates; the planner un-broadcasts those at scale
   because nothing hints them).

2. Partition-less windows (single-reducer at scale): Window operators
   whose windowspecdefinition carries no partition columns. Hits are
   printed for adjudication — bounded inputs (a top-k candidate set,
   one row per bucket) are fine; a corpus-sized input is not.

Usage:
  python scripts/plan_audit.py [--dir SF_DIR] [--out plans/rNN/audit.txt]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
# nodes that bound the rows flowing up from a fact scan: a broadcast
# built on top of one of these is a broadcast of an aggregate/sketch,
# not of the fact table
BOUNDING = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|TakeOrderedAndProject"
    r"|(?<!Global)Limit|CollectLimit|MergingSessions|FlatMapGroupsInPandas"
)


def _tree_lines(plan: str) -> list[str]:
    """The operator-tree section of explain('formatted') (everything
    above the numbered operator details)."""
    out = []
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            break
        if ln.strip():
            out.append(ln)
    return out


def _indent(ln: str) -> int:
    return len(ln) - len(ln.lstrip(" +-:*"))


def audit_fact_broadcast(name: str, plan: str) -> list[str]:
    hits = []
    lines = _tree_lines(plan)
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        base = _indent(ln)
        # walk the subtree: every following line with greater indent
        j = i + 1
        sub: list[str] = []
        while j < len(lines) and _indent(lines[j]) > base:
            sub.append(lines[j])
            j += 1
        bounded_depths: list[int] = []
        for sl in sub:
            d = _indent(sl)
            if BOUNDING.search(sl):
                bounded_depths.append(d)
            else:
                bounded_depths = [bd for bd in bounded_depths if bd < d]
            if "Scan parquet" in sl:
                tbl = next((t for t in FACT_TABLES if t in sl), None)
                if tbl and not any(bd < d for bd in bounded_depths):
                    hits.append(
                        f"{name}: fact table '{tbl}' under BroadcastExchange "
                        f"(unbounded build side)"
                    )
    return hits


def audit_global_window(name: str, plan: str) -> list[str]:
    hits = []
    # windowspecdefinition(col ASC ...) with no partition columns: the
    # first argument is already a sort spec
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        first = args.split(",")[0].strip()
        if re.search(r"(ASC|DESC) NULLS", first) or first.startswith(
            "specifiedwindowframe"
        ):
            hits.append(f"{name}: partition-less window ({first[:60]}...)")
            break
    return hits


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from streamprocess_spark import get_spark
    from streamprocess_spark.plans import QUERIES
    from streamprocess_spark.plans.registry import _ensure_loaded

    _ensure_loaded()
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    report: list[str] = []
    n_audited = 0
    for name, spec in sorted(QUERIES.items()):
        if spec.oracle is None:
            continue
        try:
            df = spec.builder(spark, args.dir)
        except Exception as e:  # builder needing streaming context etc.
            report.append(f"# SKIP {name}: builder failed: {e}")
            continue
        if df.isStreaming:
            continue
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        n_audited += 1
        for hit in audit_fact_broadcast(name, plan):
            report.append(f"FACT-BROADCAST {hit}")
        for hit in audit_global_window(name, plan):
            report.append(f"GLOBAL-WINDOW {hit}")
    hdr = (f"# plan audit @ {args.dir}: {n_audited} batch plans audited, "
           f"{sum(1 for r in report if not r.startswith('#'))} hits")
    print(hdr)
    for r in report:
        print(r)
    if args.out:
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            f.write(hdr + "\n")
            f.write("\n".join(report) + ("\n" if report else ""))
    spark.stop()


if __name__ == "__main__":
    main()
