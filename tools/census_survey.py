"""Registry-wide survey of executed-plan censuses.

Runs every registered query on the given fixture, executes it, and
records its plans/inspect.plan_census — the same census the oracle gate
and every pin hold to the structural budgets — so the survey measures
the exact scans, unpartitioned windows and hint-forced broadcasts the
budgets police, under the exact plans production runs.  Used to
calibrate MAX_EXECUTED_SCANS_PER_TABLE, UNPARTITIONED_WINDOW_MAX_ROWS
and BROADCAST_HINTED_MAX_ROWS.

Usage: python tools/census_survey.py <sf_dir> <out_jsonl> [start [end]]
Appends JSONL rows {"name", "scans", "windows", "hinted", "sec"}, one
per query of the name-sorted slice.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.plans.inspect import plan_census  # noqa: E402
from mapreducer_spark.registry import all_queries  # noqa: E402
from mapreducer_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    qs = all_queries()
    names = sorted(qs)
    start = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    end = int(sys.argv[4]) if len(sys.argv) > 4 else len(names)
    spark = get_spark(
        app_name="census-survey",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "24g"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    with open(out_path, "a") as out:
        for name in names[start:end]:
            t0 = time.time()
            try:
                df = qs[name].fn(spark, sf_dir)
                df.collect()
                rec = {
                    "name": name,
                    **plan_census(df)._asdict(),
                    "sec": round(time.time() - t0, 2),
                }
            except Exception as e:  # noqa: BLE001 — survey, record and go on
                rec = {"name": name, "error": str(e)[:200]}
            out.write(json.dumps(rec) + "\n")
            out.flush()
    spark.stop()


if __name__ == "__main__":
    main()
