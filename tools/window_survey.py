"""Registry-wide survey of unpartitioned-window input sizes.

Runs every registered query on the given fixture, executes
it, and records the input row count of each Window node with an empty
partition spec (plans/inspect.unpartitioned_window_input_rows).  Used
to calibrate UNPARTITIONED_WINDOW_MAX_ROWS: the bound must sit above
every legitimate domain-collapsed frame (score buckets, day/month
dimensions, top-k survivors) and below any data-dimension frame (the
r9 vocab_growth_curve defect: one row per document through one task).

Usage: python tools/window_survey.py SF_DIR [start [end]]   # name-sorted slice
Appends JSONL rows {"name", "windows": [rows...], "sec"} to
tools/window_survey_r10.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.plans.inspect import unpartitioned_window_input_rows
from mapreducer_spark.registry import all_queries
from mapreducer_spark.session import get_spark


def main() -> None:
    names = sorted(all_queries())
    sf_dir = sys.argv[1]
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    end = int(sys.argv[3]) if len(sys.argv) > 3 else len(names)
    out_path = os.path.join(os.path.dirname(__file__), "window_survey_r10.jsonl")
    spark = get_spark(
        app_name="window-survey", master="local[8]", shuffle_partitions=8
    )
    qs = all_queries()
    with open(out_path, "a") as out:
        for name in names[start:end]:
            t0 = time.time()
            try:
                df = qs[name].fn(spark, sf_dir)
                df.collect()
                wins = unpartitioned_window_input_rows(df)
                row = {
                    "name": name,
                    "windows": wins,
                    "sec": round(time.time() - t0, 2),
                }
            except Exception as e:  # noqa: BLE001 — survey, record and move on
                row = {"name": name, "error": str(e)[:200]}
            out.write(json.dumps(row) + "\n")
            out.flush()
            if row.get("windows"):
                print(name, row["windows"], flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
