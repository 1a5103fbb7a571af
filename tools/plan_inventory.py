"""Generate PLANS.json: the physical-plan shape of every registered
query at sf0.001 — hash/range exchange counts, broadcast count, top-k
operator, and Python-crossing flags.

tests/test_plans.py::test_plan_inventory_matches_checked_in compares the live plans against the
checked-in file, so ANY plan-affecting change (a lost pushdown, an extra
shuffle, a Python UDF creeping into a relational path) fails CI and has
to be consciously re-recorded here:

    python tools/plan_inventory.py          # regenerate PLANS.json
    python tools/plan_inventory.py --check  # exit 1 on drift
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from epss_spark import registry
from epss_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.json")


def plan_shape(plan: str) -> dict:
    return {
        "hash_exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "python_row_udf": "BatchEvalPython" in plan,
        "python_arrow": ("ArrowEvalPython" in plan)
        or ("FlatMapGroupsInPandas" in plan)
        or ("MapInPandas" in plan),
    }


def build_inventory() -> dict:
    spark = get_spark("plan-inventory")
    spark.sparkContext.setLogLevel("ERROR")
    inv = {}
    for name, fn in registry.get_queries().items():
        p = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        inv[name] = plan_shape(p)
    return inv


def main() -> int:
    inv = build_inventory()
    if "--check" in sys.argv:
        with open(OUT) as f:
            expected = json.load(f)
        drift = {
            n: {"expected": expected.get(n), "actual": s}
            for n, s in inv.items()
            if expected.get(n) != s
        }
        missing = sorted(set(expected) - set(inv))
        if drift or missing:
            print(json.dumps({"drift": drift, "missing": missing}, indent=2))
            return 1
        print("plan inventory clean")
        return 0
    with open(OUT, "w") as f:
        json.dump(inv, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT} ({len(inv)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
