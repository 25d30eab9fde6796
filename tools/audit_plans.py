"""Plan audit over every ``queries()`` entry: compile each entry at the
given SF and check physical-plan invariants without executing.

Checks per entry:
- ``cartesian``: a CartesianProduct / BroadcastNestedLoopJoin appears.
  The only sanctioned instance is the 1-row broadcast flag join for
  uncorrelated EXISTS (compiler.py) — anything else is a scale bug.
- ``exchanges``: shuffle count (lower is better; informational).
- ``scans`` / ``pushed``: parquet scans and how many carry pushed
  filters (bound-predicate scans should push).
- ``python_nodes``: plan nodes that run Python (``Scan ExistingRDD``
  over a Python RDD, ``BatchEvalPython``, ``ArrowEvalPython``) — a
  Python round trip inside a SPARQL plan (informational).

Usage: python tools/audit_plans.py [--sf DIR]
Prints one JSON object keyed by entry name, then a summary line.
"""

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALLOWED_NESTED_LOOP = {
    # uncorrelated EXISTS compiles to a 1-row broadcast flag join
    "J6_exists", "F_conditional",
    # LeftSemi against a BOUNDED broadcast build side by construction:
    # the zero-length-path seed set / the DESCRIBE target list (both are
    # query constants or driver-sized term sets, never corpus-sized)
    "PP7_star_seeded", "Q4_describe",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from oxigraph_spark.session import get_spark

    spark = get_spark("oxigraph-spark-plan-audit")
    out = {}
    bad = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:              # noqa: BLE001 - audit report
            out[name] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
            bad.append(name)
            continue
        cartesian = ("CartesianProduct" in plan
                     or "BroadcastNestedLoopJoin" in plan)
        scans = len(re.findall(r"FileScan parquet|Scan parquet", plan))
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        python_nodes = len(re.findall(
            r"ExistingRDD|BatchEvalPython|ArrowEvalPython", plan))
        out[name] = {
            "cartesian": cartesian,
            "exchanges": plan.count("Exchange"),
            "scans": scans,
            "scans_with_pushdown": pushed,
            "python_nodes": python_nodes,
        }
        if cartesian and name not in ALLOWED_NESTED_LOOP:
            bad.append(name)
    print(json.dumps(out, indent=1))
    n = len(out)
    print(f"# {n} entries audited; unsanctioned cartesian/nested-loop: "
          f"{bad if bad else 'none'}", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
