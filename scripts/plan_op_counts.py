"""Count the physical-operator classes of registry ids' executed plans.

Usage: python scripts/plan_op_counts.py <fixture dir> <out.json> <id> [<id> ...]

Each id is collected first, so adaptive plans are counted in their final
form. The walk is the plan sweep's ``_iter_plan_nodes`` (AQE stages, reused
exchanges, cached relations and subqueries included). The output is
``{id: {operator class: count}}``; two dumps of the same ids compare
plan shapes across code versions without depending on the explain text.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyuki_spark.queries import REGISTRY  # noqa: E402
from nyuki_spark.session import get_session  # noqa: E402
from tests.test_plan_registry_sweep import _iter_plan_nodes  # noqa: E402


def main() -> int:
    sf_dir, out_path, ids = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_session("nyuki-plan-op-counts")
    counts = {}
    for qid in ids:
        df = REGISTRY[qid].run(spark, sf_dir)
        df.collect()
        jplan = df._jdf.queryExecution().executedPlan()
        counts[qid] = dict(sorted(Counter(c for _, c in _iter_plan_nodes(jplan)).items()))
        print(f"{qid:32s} nodes={sum(counts[qid].values())} "
              f"MapInPandasExec={counts[qid].get('MapInPandasExec', 0)}")
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        json.dump({"sf": os.path.basename(sf_dir.rstrip("/")), "counts": counts}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
