"""The benchmark's workloads: which registered queries run and on which
fixture.  Every workload clears the session's derived-artifact caches
before each query, so each sample is that query's own cold cost.

Each workload exercises the engine's layers in a different way; the
reasons and input sizes are recorded here and in README.md.  The query
lists are subsets of the probe sets that motivated each workload: a full
probe pass took 17-21 s at ``local[4]``, and the benchmark's run budget
(every run of every workload, with set-up, inside 57 minutes) leaves
about 5 s per pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    fixture: str  # directory under perfbench/data
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # Driver round-trips dominate: eager jobs and checkpoints inside
        # plan building, small executor work.
        Workload(
            name="build_bound",
            fixture="sf0.01",
            queries=(
                "copurchase_kcore",
                "ann_ivf_rebalance_plan",
            ),
        ),
        # Scan, shuffle, codegen and Python-worker time dominate; no
        # artifact reuse.
        Workload(
            name="scan_shuffle",
            fixture="sf0.1",
            queries=(
                "word_count",
                "token_count_pandas_udf",
                "volume_shipping_pairs",
            ),
        ),
    )
}
