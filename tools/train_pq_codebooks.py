#!/usr/bin/env python
"""Offline PQ codebook training — the trained counterpart of the
first-16-vectors stand-in codebook used by embedding_pq_codes.

Per fixture and per subspace m (8 subspaces x 8 dims of the 64-dim
embedding), trains seeded MLlib KMeans (k=16) on the subvector
population and freezes the codewords into
``mapreducer_spark/data/pq_codebooks.json`` with an embeddings-file
fingerprint beside it (``pq_fingerprints.json``) so serving detects a
regenerated fixture and falls back to the stand-in codebook instead of
quantizing against stale codewords (same drift discipline as the IVF
index, tools/train_ivf_index.py).

Codeword ids are canonicalized by sorting centers lexicographically, so
the artifact — and therefore every oracle that reads it — does not
depend on MLlib's internal cluster ordering.

Re-run after a fixture regeneration:

    python tools/train_pq_codebooks.py [sf_dir ...]
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
    os.path.dirname(os.path.abspath(__file__)), "..", "mapreducer_spark", "data"
)
_OUT = os.path.join(_DATA_DIR, "pq_codebooks.json")
_FP_OUT = os.path.join(_DATA_DIR, "pq_fingerprints.json")


def main() -> None:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from mapreducer_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUBDIM,
        _embeddings_md5,
    )
    from mapreducer_spark.session import get_spark
    from mapreducer_spark.sources import load_table

    dirs = sys.argv[1:] or _DEFAULT_DIRS
    spark = get_spark(app_name="pq-train", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("WARN")
    # Merge into the existing artifact: training ONE fixture must not
    # drop the other fixtures' keys.
    books: dict[str, list[list[list[float]]]] = {}
    fingerprints: dict[str, str] = {}
    try:
        with open(_OUT) as f:
            books = json.load(f)
        with open(_FP_OUT) as f:
            fingerprints = json.load(f)
    except (OSError, ValueError):
        pass
    for d in dirs:
        key = os.path.basename(d.rstrip("/"))
        em = load_table(spark, d, "embeddings").select(
            F.col("embedding").cast("array<double>").alias("v")
        )
        per_m: list[list[list[float]]] = []
        for m in range(_PQ_M):
            sub = em.select(
                array_to_vector(
                    F.slice("v", m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
                ).alias("fv")
            )
            model = KMeans(k=_PQ_K, seed=42 + m, maxIter=10, featuresCol="fv").fit(
                sub
            )
            centers = sorted(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
            per_m.append(centers)
        books[key] = per_m
        fingerprints[key] = _embeddings_md5(d)
        print(f"{key}: {_PQ_M} subspaces x {_PQ_K} codewords trained")
    os.makedirs(_DATA_DIR, exist_ok=True)
    with open(_OUT, "w") as f:
        json.dump(books, f)
    with open(_FP_OUT, "w") as f:
        json.dump(fingerprints, f, indent=1)
    print(f"wrote {_OUT} and {_FP_OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
