"""Capture `.explain("formatted")` output for named queries into
plans/<round>/<query>_<tag>.txt ($SPARK_GRAFT_PLANS_ROUND, default r13)
— an optimization round's before/after plan evidence.

Usage: python scripts/capture_plans.py <tag> <qname> [<qname> ...]
       python scripts/capture_plans.py <tag> --all
(sf_dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from whale_sightings_spark.plans.queries import queries
from whale_sightings_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    Q = queries()
    if names == ["--all"]:
        names = sorted(Q)
    for name in names:
        df = Q[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({tag})\n")
            f.write(plan)
        print(path)


if __name__ == "__main__":
    main()
