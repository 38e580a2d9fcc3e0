"""Dump formatted physical plans of every driver query to PLANS.md —
the explain-audit artifact (pushdown, pruning, join strategies, exchange
counts) for plan inspection without running Spark.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from data_curator_spark.queries import QUERIES  # noqa: E402
from data_curator_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = build_session("plans", master="local[4]", shuffle_partitions=4)
    out = ["# PLANS — formatted physical plans of every driver query\n"]
    out.append(
        "Generated by tools/dump_plans.py at sf0.001. Things to check per\n"
        "plan: `ReadSchema` pruned to used columns, `PushedFilters` at the\n"
        "scan, `BroadcastHashJoin` for dims, partial+final `HashAggregate`\n"
        "around one `Exchange`, exactly one `Exchange` per window key.\n"
    )
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        # strip expression and exchange ids: they count up per session
        plan = re.sub(r"#\d+", "#", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        out.append(f"\n## {name}  (exchanges: {n_ex})\n\n```\n{plan.strip()}\n```\n")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(QUERIES)} plans")


if __name__ == "__main__":
    main()
