"""Frozen-ANN-index drift guard.

Thirteen oracles read centroids or codewords trained OFFLINE per
fixture, as the ``ivf_centroids`` and ``pq_codebooks`` relations the
gate's DuckDB connection builds for the fixture being checked; if a
fixture is regenerated, a stale index would silently flip those
queries red.  The guard has three layers, each proven here:

1. Fingerprint freshness: serving and the gate's relations require the
   fixture's embeddings.parquet to hash to the training-time md5.  The
   freshness test below turns drift into a HARD failure naming the fix
   (re-run tools/train_ivf_index.py) instead of an opaque hash mismatch.
2. Fallback: on a stale/missing index the query path live-trains
   seeded KMeans (similarity._centroid_list) — serving keeps working.
3. Refusal: a corrupt/missing artifact never takes down registry
   import (no oracle reads an artifact when it is built); the gate
   refuses the artifact-backed queries, naming the retrain tool, and
   __spark_entry__.oracle_sql() leaves them out (rows-only).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__
from mapreducer_spark import oracle
from mapreducer_spark.operators import similarity as sim
from mapreducer_spark.registry import all_queries

TESTDATA = "/root/testdata"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The queries whose oracles read a frozen-artifact relation.
ARTIFACT_BACKED = (
    "ann_index_ari_staleness",
    "ann_ivf_delta_assign",
    "ann_ivf_int8_recall",
    "ann_ivf_kmeans_recall",
    "ann_ivf_nprobe_sweep",
    "ann_ivf_rebalance_plan",
    "ann_ivf_topk",
    "ann_mmr_agreement",
    "ann_mmr_topk",
    "ann_pq_adc_recall_trained",
    "ivf_list_balance",
    "retrieval_pipeline_summary",
    "semdedup_clusters",
)


def _clear_caches():
    for fn in (
        sim._frozen_ivf_index,
        sim._frozen_fingerprints,
        sim._frozen_pq_codebooks,
        sim._pq_fingerprints,
    ):
        if hasattr(fn, "cache_clear"):  # may be monkeypatched to a plain lambda
            fn.cache_clear()


@pytest.fixture
def restore_caches():
    yield
    _clear_caches()


def _fixture_dir(key: str) -> str | None:
    """Resolve a frozen-index key to its fixture dir: the driver's
    testdata for sf0.* keys, the regenerable .scale10 tree for the 10x
    rehearsal key (not committed — skip when absent)."""
    for base in (TESTDATA, os.path.join(os.path.dirname(__file__), "..", ".scale10")):
        d = os.path.join(base, key)
        if os.path.isdir(d):
            return d
    return None


def test_frozen_index_fingerprints_fresh():
    """LOUD drift detector: every fixture the frozen index covers must
    still hash to its training-time fingerprint."""
    index = sim._frozen_ivf_index()
    assert index, f"frozen IVF index missing/corrupt at {sim._IVF_INDEX_PATH}"
    for key in index:
        sf_dir = _fixture_dir(key)
        if sf_dir is None:
            continue
        assert sim._fp_record(key)[0] == sim._embeddings_md5(sf_dir), (
            f"FIXTURE DRIFT: {key}/embeddings.parquet no longer matches the "
            "fingerprint recorded when the frozen IVF index was trained. "
            "The ANN queries have fallen back to live training and the "
            "gate refuses their oracles; re-run tools/train_ivf_index.py to "
            "refreeze the index + fingerprints."
        )


def test_fresh_index_serves_frozen_and_oracles_render():
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    assert sim.frozen_index_for(sf_dir) is not None
    # Exactly the artifact-backed oracles read a relation, and they
    # carry no centroid or codeword literal.
    q = all_queries()
    backed = {n for n, x in q.items() if x.oracle and oracle._reads(x.oracle)}
    assert backed == set(ARTIFACT_BACKED)
    for name in ARTIFACT_BACKED:
        assert "DOUBLE[]))" not in q[name].oracle, name
    # With fresh artifacts the gate connection serves both relations
    # and the oracle_sql() texts inline them.
    con = oracle.duck_connection(sf_dir)
    try:
        assert con.sql("SELECT COUNT(*) FROM ivf_centroids").fetchone() == (16,)
        assert con.sql("SELECT COUNT(*) FROM pq_codebooks").fetchone() == (
            sim._PQ_M * sim._PQ_K,
        )
    finally:
        con.close()
    texts = __spark_entry__.oracle_sql()
    for name in ARTIFACT_BACKED:
        assert texts[name].startswith("WITH "), name


def test_stale_fingerprint_detected_and_refused(monkeypatch, restore_caches):
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    monkeypatch.setattr(sim, "_frozen_fingerprints", lambda: {"sf0.01": "bogus"})
    with pytest.warns(RuntimeWarning, match="STALE"):
        assert sim.frozen_index_for(sf_dir) is None


def test_missing_fingerprint_refused(monkeypatch, restore_caches):
    """No fingerprint record at all (e.g. an index frozen by an older
    trainer) is treated as unverifiable — refuse, don't trust."""
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    monkeypatch.setattr(sim, "_frozen_fingerprints", lambda: {})
    with pytest.warns(RuntimeWarning, match="STALE"):
        assert sim.frozen_index_for(sf_dir) is None


def test_corrupt_artifact_degrades_to_empty(tmp_path, monkeypatch, restore_caches):
    # Building the registry opens no artifact, so an unreadable one
    # cannot take its import down.
    probe = (
        "import builtins\n"
        "real = builtins.open\n"
        "def guarded(f, *a, **k):\n"
        "    assert 'codebooks' not in str(f) and 'centroids' not in str(f), f\n"
        "    return real(f, *a, **k)\n"
        "builtins.open = guarded\n"
        "from mapreducer_spark.registry import all_queries\n"
        "print(len(all_queries()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True
    )
    assert out.returncode == 0 and int(out.stdout) > 300, out.stderr[-2000:]

    bad = tmp_path / "ivf_centroids.json"
    bad.write_text("{ not json")
    monkeypatch.setattr(sim, "_IVF_INDEX_PATH", str(bad))
    _clear_caches()
    assert sim._frozen_ivf_index() == {}
    # The gate refuses the comparison and names the retrain tool...
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    q = all_queries()
    for name in ("ann_ivf_topk", "ann_ivf_kmeans_recall", "semdedup_clusters"):
        with pytest.raises(AssertionError, match="tools/train_ivf_index.py"):
            oracle.assert_matches_oracle(None, q[name], sf_dir)
    # ...and oracle_sql() leaves those queries out (rows-only),
    # while the PQ oracle, whose artifact is intact, stays.
    texts = __spark_entry__.oracle_sql()
    assert not (set(ARTIFACT_BACKED) - {"ann_pq_adc_recall_trained"}) & set(texts)
    assert "ann_pq_adc_recall_trained" in texts


@pytest.mark.parametrize("name", ARTIFACT_BACKED)
def test_artifact_oracles_match_off_gate_scale(spark, sf_dir, name):
    """The artifact-backed oracles read the index of the fixture being
    checked, so they hold at a scale other than GATE_SF_DIR's."""
    oracle.assert_matches_oracle(spark, all_queries()[name], sf_dir)


def test_oracle_sql_texts_are_self_contained():
    """oracle_sql() keeps every oracle at GATE_SF_DIR, and each
    artifact-backed text, run on a bare connection holding only the
    table views, gives the gate connection's result."""
    texts = __spark_entry__.oracle_sql()
    q = all_queries()
    assert set(texts) == {n for n, x in q.items() if x.oracle is not None}
    assert len(texts) == 330
    sf_dir = __spark_entry__.GATE_SF_DIR
    bare = duckdb.connect()
    for t in oracle.TABLES:
        bare.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    gate = oracle.duck_connection(sf_dir)
    try:
        for name in ARTIFACT_BACKED:
            assert oracle.result_digest(
                *oracle.run_duck(bare, texts[name])
            ) == oracle.result_digest(*oracle.run_duck(gate, q[name].oracle)), name
    finally:
        bare.close()
        gate.close()


def test_distributed_training_roundtrips_index_frame(spark):
    """The index LIFECYCLE is distributed end to end (VERDICT r4 #6):
    tools/train_ivf_index.py trains with MLlib KMeans (a distributed
    fit over the vector table — executors do the Lloyd iterations; the
    driver only collects k x d centroid doubles, which is metadata),
    and the trained centroids must round-trip losslessly through
    _index_frame into the one-row broadcast layout the serving path
    consumes, norms included."""
    import math

    from mapreducer_spark.sources import load_table

    em = load_table(spark, os.path.join(TESTDATA, "sf0.001"), "embeddings")
    cents = [
        (r.cent_id, list(r.cent_v))
        for r in sim.kmeans_centroids(em).orderBy("cent_id").collect()
    ]
    assert len(cents) == sim._N_CENTROIDS
    row = sim._index_frame(spark, cents).collect()[0]
    assert [list(c) for c in row["__cents"]] == [v for _, v in cents]
    expect_norms = [math.sqrt(sum(x * x for x in v)) for _, v in cents]
    assert list(row["__cnorms"]) == expect_norms


def test_index_frame_literal_is_bit_exact(spark):
    """The centroid and norm arrays travel as SQL text; every value must
    collect back to the same float64 bits, signed zero and exponents
    included."""
    import math
    import struct

    values = [
        0.5, -0.25, -0.0, 0.0, 1e-05, 1.5e20, -3.0000000000000004,
        0.1, 2.2250738585072014e-308, 5e-324, -123456.78901234567,
    ]
    cents = [(0, values), (1, [-x for x in values])]
    row = sim._index_frame(spark, cents).collect()[0]

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    for (_, cv), got in zip(cents, row["__cents"]):
        assert bits(got) == bits(cv)
    expect_norms = []
    for _, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x
        expect_norms.append(math.sqrt(acc))
    assert bits(row["__cnorms"]) == bits(expect_norms)


def test_drift_falls_back_to_live_training(spark, monkeypatch, restore_caches):
    """End-to-end fallback: with the fingerprint invalidated, the ANN
    query must live-train seeded KMeans and still produce a valid top-k
    (serving survives a fixture regeneration; only the hash-check
    degrades)."""
    from mapreducer_spark.sources import load_table

    sf_dir = os.path.join(TESTDATA, "sf0.001")
    monkeypatch.setattr(sim, "_frozen_fingerprints", lambda: {})
    em = load_table(spark, sf_dir, "embeddings")
    with pytest.warns(RuntimeWarning, match="STALE"):
        cents = sim._centroid_list(em, sf_dir)
    assert len(cents) == sim._N_CENTROIDS
    assert [c for c, _ in cents] == list(range(sim._N_CENTROIDS))
    rows = sim._ivf_topk(em, cents).collect()
    assert len(rows) == sim._N_QUERIES * sim._TOP_K
    # Live-trained centroids on the SAME data equal the frozen ones
    # (same seed, same maxIter) — the fallback is a true re-derivation.
    frozen = sim._frozen_ivf_index().get("sf0.001")
    assert frozen is not None
    live = [v for _, v in cents]
    assert json.dumps(live) == json.dumps(frozen)


# ----- frozen trained PQ codebooks (round 5) ------------------------------


def test_pq_codebook_fingerprints_fresh():
    """The committed PQ artifact must match the current fixtures; if this
    fails, re-run tools/train_pq_codebooks.py."""
    import mapreducer_spark.operators.similarity as sim

    books = sim._frozen_pq_codebooks()
    assert books, "pq_codebooks.json missing/corrupt"
    for key, per_m in books.items():
        assert len(per_m) == sim._PQ_M
        assert all(len(cw) == sim._PQ_K for cw in per_m)
        sf_dir = _fixture_dir(key)
        if sf_dir is None:
            continue  # regenerable 10x fixture not on disk
        assert sim.frozen_pq_for(sf_dir) is not None, (
            f"stale PQ codebooks for {key} — re-run tools/train_pq_codebooks.py"
        )


def test_pq_stale_fingerprint_falls_back(monkeypatch, restore_caches):
    import warnings

    import mapreducer_spark.operators.similarity as sim

    monkeypatch.setattr(
        sim, "_pq_fingerprints", lambda: {"sf0.01": "not-the-real-hash"}
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert sim.frozen_pq_for("/root/testdata/sf0.01") is None
    assert any("STALE" in str(x.message) for x in w)


def test_trained_codebooks_cut_reconstruction_error(spark):
    """KMeans codebooks must beat the first-16 stand-in on the metric
    KMeans optimizes: total squared reconstruction error (measured ~0.72x
    at sf0.01; require < 0.9x so retraining noise can't flip it)."""
    from pyspark.sql import functions as F

    import mapreducer_spark.operators.similarity as sim

    sf = "/root/testdata/sf0.01"
    standin = sim._pq_assigned(spark, sf).agg(F.sum("d2")).collect()[0][0]
    cbs = sim.frozen_pq_for(sf)
    assert cbs is not None
    trained = (
        sim._pq_assigned(spark, sf, sim._pq_cb_trained_frame(spark, cbs))
        .agg(F.sum("d2"))
        .collect()[0][0]
    )
    assert trained < 0.9 * standin, (trained, standin)


def test_index_lifecycle_drift_retrain_serve(spark, tmp_path, monkeypatch, restore_caches):
    """Full ANN index lifecycle in-engine: fresh fixture
    -> retrain_frozen_index trains spherical k-means and freezes it
    under the fingerprint contract -> guard serves; PERTURB the
    embeddings (simulated fixture regeneration) -> guard REFUSES the
    stale index with the loud warning -> retrain again -> ann_ivf_topk
    serves the refreshed index (frozen path, not live fallback) and
    equals the pipeline run explicitly on the retrained centroids."""
    import shutil
    import warnings

    from mapreducer_spark.sources import load_table

    idxp = str(tmp_path / "ivf_centroids.json")
    fpp = str(tmp_path / "ivf_fingerprints.json")
    monkeypatch.setattr(sim, "_IVF_INDEX_PATH", idxp)
    monkeypatch.setattr(sim, "_IVF_FINGERPRINT_PATH", fpp)
    _clear_caches()

    fx = tmp_path / "sflife"
    fx.mkdir()
    shutil.copy(
        os.path.join(TESTDATA, "sf0.001", "embeddings.parquet"),
        fx / "embeddings.parquet",
    )
    sf_dir = str(fx)

    # Unknown fixture: no frozen entry, live training is the normal path.
    assert sim.frozen_index_for(sf_dir) is None

    # In-engine retrain freezes index + fingerprint; guard now serves it.
    t1 = sim.retrain_frozen_index(spark, sf_dir)
    assert len(t1) == sim._N_CENTROIDS and len(t1[0]) == 64
    assert sim.frozen_index_for(sf_dir) == t1

    # Simulated regeneration: rewrite embeddings.parquet (drop one row).
    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    tmp_out = str(tmp_path / "regen")
    em.where("vec_id <> 0").coalesce(1).write.parquet(tmp_out)
    import glob

    (part,) = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
    os.remove(fx / "embeddings.parquet")
    shutil.copy(part, fx / "embeddings.parquet")

    # Drift: the guard refuses the stale index, loudly.
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sim.frozen_index_for(sf_dir) is None
    assert any("STALE" in str(w.message) for w in caught)

    # Retrain on the regenerated fixture -> guard serves the NEW index.
    t2 = sim.retrain_frozen_index(spark, sf_dir)
    assert t2 != t1
    assert sim.frozen_index_for(sf_dir) == t2

    # End-to-end serve: ann_ivf_topk's pipeline via _centroid_list picks
    # the frozen (retrained) index and matches an explicit run on t2.
    em2 = load_table(spark, sf_dir, "embeddings")
    assert em2.count() == n - 1
    cl = sim._centroid_list(em2, sf_dir)
    assert [v for _, v in cl] == t2  # frozen path, not live KMeans
    served = {
        tuple(r) for r in sim._ivf_topk(em2, cl).collect()
    }
    explicit = {
        tuple(r)
        for r in sim._ivf_topk(em2, list(enumerate(t2))).collect()
    }
    assert served and served == explicit


def test_in_place_rewrite_refuses_index_without_cache_clear(
    tmp_path, monkeypatch, restore_caches
):
    """embeddings.parquet rewritten in place (same path) is drift the
    guard sees on the very next call, with no cache clear: the md5 is
    keyed on the file's (mtime_ns, size), not on the fixture dir."""
    import shutil
    import warnings

    import pyarrow.parquet as pq

    fx = tmp_path / "sfrewrite"
    fx.mkdir()
    path = fx / "embeddings.parquet"
    shutil.copy(os.path.join(TESTDATA, "sf0.01", "embeddings.parquet"), path)
    index = sim._frozen_ivf_index()["sf0.01"]
    record = {"md5": sim._embeddings_md5(str(fx)), "n_train": sim._fp_record("sf0.01")[1]}
    monkeypatch.setattr(sim, "_frozen_ivf_index", lambda: {"sfrewrite": index})
    monkeypatch.setattr(sim, "_frozen_fingerprints", lambda: {"sfrewrite": record})
    assert sim.frozen_index_for(str(fx)) == index

    pq.write_table(pq.read_table(path).slice(1), path)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sim.frozen_index_for(str(fx)) is None
    assert any("STALE" in str(w.message) for w in caught)


def test_ivf_k_scale_rule():
    """The sqrt-n training rule (VERDICT r10 #6): power-of-two nearest
    sqrt(n), floored at 16 (gate fixtures keep k=16, so the rule changes
    no gate artifact) and capped at 4096 (broadcastable centroid table;
    past n ~ cap^2 the mean-list guard forces the shard decision)."""
    assert sim.ivf_k_for(500) == 16  # gate fixtures: unchanged
    assert sim.ivf_k_for(2000) == 32
    assert sim.ivf_k_for(20000) == 128  # the 10x fixture
    assert sim.ivf_k_for(2_000_000) == 1024
    assert sim.ivf_k_for(10**9) == 4096  # cap
    assert sim.ivf_k_for(1) == sim._N_CENTROIDS
    # monotone nondecreasing over a broad sweep
    ks = [sim.ivf_k_for(n) for n in (10, 100, 10**3, 10**4, 10**5, 10**6)]
    assert ks == sorted(ks)
    # A rule-trained index always serves: mean list stays under the
    # absolute ceiling up to the k cap's shard point (n ~ cap^2), and
    # the relative check is satisfied by construction (k == rule k).
    for n in (500, 2000, 20000, 10**6, 4096**2):
        k = sim.ivf_k_for(n)
        assert n / k <= sim._IVF_MAX_MEAN_LIST_ROWS
        # relative serving guard headroom: an index trained at the rule k
        # for n still serves after the corpus grows enough to push the
        # rule one power-of-two step up (sqrt scaling -> ~4x growth),
        # because SLACK=2 allows exactly one step of lag
        assert k * sim._IVF_RULE_SLACK >= sim.ivf_k_for(min(4 * n, 4096**2))
    # past the shard point the absolute ceiling trips no matter the k
    assert 10**9 / sim.ivf_k_for(10**9) > sim._IVF_MAX_MEAN_LIST_ROWS


def test_mean_list_guard_refuses_fat_index(monkeypatch, restore_caches):
    """A FRESH index (fingerprint matches) is still refused — loudly,
    not by silent live-training fallback — when its recorded training
    size says it was trained under a stale scale rule: n_train=20000
    over k=16 is 1250-row lists where the rule wants k=128 (the exact
    pre-r11 state of the 10x index)."""
    import pytest

    sf_dir = os.path.join(TESTDATA, "sf0.01")
    good_md5 = sim._embeddings_md5(sf_dir)
    monkeypatch.setattr(
        sim,
        "_frozen_fingerprints",
        lambda: {"sf0.01": {"md5": good_md5, "n_train": 20000}},
    )
    with pytest.raises(RuntimeError, match="serving budget"):
        sim.frozen_index_for(sf_dir)
    # The absolute ceiling also refuses on its own (shard point): a
    # corpus so far past training size that no k in the file helps.
    monkeypatch.setattr(
        sim,
        "_frozen_fingerprints",
        lambda: {"sf0.01": {"md5": good_md5, "n_train": 10**9}},
    )
    with pytest.raises(RuntimeError, match="serving budget"):
        sim.frozen_index_for(sf_dir)
    # Same index with its true (in-budget) n_train serves normally.
    monkeypatch.setattr(
        sim,
        "_frozen_fingerprints",
        lambda: {"sf0.01": {"md5": good_md5, "n_train": 500}},
    )
    assert sim.frozen_index_for(sf_dir) is not None
