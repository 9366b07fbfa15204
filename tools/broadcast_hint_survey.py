"""Registry-wide survey of HINT-FORCED BroadcastExchange sizes.

Instead of re-planning with autoBroadcastJoinThreshold=-1 (which
perturbs every join in the plan), it attributes each executed
broadcast join to its logical JoinHint via
plans/inspect.hinted_broadcast_rows — the same primitive the oracle
gate asserts BROADCAST_HINTED_MAX_ROWS with — so the survey measures
the exact frames the gate will police, under the exact plans
production runs.

Usage: python tools/broadcast_hint_survey.py <sf_dir> <out_jsonl> [start [end]]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.plans.inspect import hinted_broadcast_rows
from mapreducer_spark.registry import all_queries
from mapreducer_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    names = sorted(all_queries())
    start = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    end = int(sys.argv[4]) if len(sys.argv) > 4 else len(names)
    spark = get_spark(
        app_name="broadcast-hint-survey",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "24g"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    with open(out_path, "a") as out:
        for name in names[start:end]:
            t0 = time.time()
            try:
                df = qs[name].fn(spark, sf_dir)
                df.collect()
                rec = {
                    "name": name,
                    "hinted": hinted_broadcast_rows(df),
                    "sec": round(time.time() - t0, 2),
                }
            except Exception as e:  # noqa: BLE001 — survey, record and go on
                rec = {"name": name, "error": str(e)[:200]}
            out.write(json.dumps(rec) + "\n")
            out.flush()
    spark.stop()


if __name__ == "__main__":
    main()
