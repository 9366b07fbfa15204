"""Measure the JIT/codegen warm-up curve: the wall and CPU seconds of
consecutive passes of each workload in a fresh process, with no warm-up.  The result,
warmup_curve.json beside this file, is the evidence for
``run.WARMUP_PASSES``.

    python3 perfbench/warmup_curve.py

Each workload runs in its own process (the first pass must be a cold
JVM's), one after another, on the ``local[k]`` that BENCHMARK.json's
command sets.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
PASSES = 10
SEED = 1


def benchmark_cores() -> int:
    command = json.loads((HERE.parent / "BENCHMARK.json").read_text())["command"]
    return int(command[command.index("--cores") + 1])


def one(workload: str) -> dict:
    """Runs in the child: ``PASSES`` passes, none of them warm-up."""
    import run
    from tracing import Tracer

    cores = benchmark_cores()
    run.prepare_checkout_dirs()
    sess = run.Session(run.WORKLOADS[workload], SEED, cores, Tracer(), trace=False)
    try:
        passes = [sess.run_pass(warmup=i < run.WARMUP_PASSES, collect=(i == 0)) for i in range(PASSES)]
    finally:
        run.shut_down(sess.spark)
    return {"workload": workload, "fixture": sess.workload.fixture, "seed": SEED,
            "cores": cores, "pass_walls_s": [p.wall for p in passes],
            "pass_cpu_s": [p.cpu for p in passes], "errors": sess.errors}


def main() -> int:
    sys.path.insert(0, str(HERE))
    import run

    if sys.argv[1:2] == ["--child"]:
        print(json.dumps(one(sys.argv[2])))
        return 0
    curves = []
    for w in sorted(run.WORKLOADS):
        out = subprocess.run(  # a fresh, hash-seeded process, as run.py uses
            [sys.executable, __file__, "--child", w],
            check=True, stdout=subprocess.PIPE, text=True,
            env={**os.environ, "PYTHONHASHSEED": "0"},
        )
        curves.append(json.loads(out.stdout.strip().splitlines()[-1]))
        print(json.dumps(curves[-1]), file=sys.stderr)
    with open(HERE / "warmup_curve.json", "w") as f:
        json.dump({"curves": curves}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
