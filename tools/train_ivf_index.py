#!/usr/bin/env python
"""Offline IVF index training — the 'build the index' half of the ANN
serving split.

Trains seeded MLlib KMeans coarse centroids per scale-factor fixture and
freezes them into ``mapreducer_spark/data/ivf_centroids.json``.  The
serving query (``ann_ivf_topk``) loads the frozen artifact instead of
re-training per query — exactly how a production IVF deployment works
(train once on a sample, persist the quantizer, serve against it), and
what makes the query hash-checkable: the DuckDB oracle reads the SAME
centroids as its ivf_centroids relation, so both engines run the
identical index.

Re-run after a fixture regeneration:

    python tools/train_ivf_index.py [sf_dir ...]

Then ALSO re-run ``python tools/freeze_derived_frames.py`` — the frozen
IVF inverted lists (ann_ivf_assign) fingerprint the centroid file via
extra_files and go loudly stale the moment this tool rewrites it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

_DEFAULT_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

_DATA_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "..",
    "mapreducer_spark",
    "data",
)
_OUT = os.path.join(_DATA_DIR, "ivf_centroids.json")
_FP_OUT = os.path.join(_DATA_DIR, "ivf_fingerprints.json")


def main() -> None:
    from mapreducer_spark.operators.similarity import (
        _embeddings_md5,
        kmeans_centroids,
    )
    from mapreducer_spark.session import get_spark
    from mapreducer_spark.sources import load_table

    dirs = sys.argv[1:] or _DEFAULT_DIRS
    spark = get_spark(app_name="ivf-train", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("WARN")
    # Merge into the existing artifact: training ONE fixture (e.g. the
    # regenerated .scale10/sf1) must not drop the other fixtures' keys.
    index: dict[str, list[list[float]]] = {}
    fingerprints: dict[str, str] = {}
    try:
        with open(_OUT) as f:
            index = json.load(f)
        with open(_FP_OUT) as f:
            fingerprints = json.load(f)
    except (OSError, ValueError):
        pass
    from mapreducer_spark.operators.similarity import ivf_k_for

    for d in dirs:
        key = os.path.basename(d.rstrip("/"))
        em = load_table(spark, d, "embeddings")
        # sqrt-n scale rule (VERDICT r10 #6): k grows with the corpus so
        # mean list size stays ~sqrt(n); a fixed k=16 at 10x already
        # meant 1250-row lists, and at 100 TB the per-list argmax scan
        # becomes the whole query.  n_train is recorded alongside the
        # freshness md5 so serving (frozen_index_for) can refuse an
        # index whose lists outgrew the budget.
        n_train = em.count()
        k = ivf_k_for(n_train)
        cents = kmeans_centroids(em, k=k).orderBy("cent_id").collect()
        index[key] = [[float(x) for x in r.cent_v] for r in cents]
        # Fingerprint the training input so serving can detect a later
        # fixture regeneration and refuse the stale index (VERDICT r4 #1).
        fingerprints[key] = {"md5": _embeddings_md5(d), "n_train": int(n_train)}
        print(
            f"{key}: n={n_train} -> k={k} "
            f"({len(index[key])} centroids x {len(index[key][0])} dims, "
            f"mean list {n_train / k:.0f})"
        )
    os.makedirs(_DATA_DIR, exist_ok=True)
    with open(_OUT, "w") as f:
        json.dump(index, f)
    with open(_FP_OUT, "w") as f:
        json.dump(fingerprints, f, indent=1)
    print(f"wrote {_OUT} and {_FP_OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
