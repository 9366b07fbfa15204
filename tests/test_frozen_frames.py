"""Frozen derived-frame lifecycle tests — the frame
siblings of tests/test_index_guard.py.

Three contracts:
1. FRESHNESS: every registered artifact is fingerprint-fresh for the
   shipped fixtures — a regenerated fixture turns the serve-time
   warning into a hard failure here, pointing at the freeze tool.
2. EQUIVALENCE: the frozen parquet is row-for-row the live build (so
   serving changes where bytes come from, never what any consumer
   computes — the oracle gate then re-verifies end-to-end per query).
3. GUARDS: source drift and build-version bumps are refused (live
   fallback + RuntimeWarning), never silently served.
"""

from __future__ import annotations

import json
import os

import pytest

from mapreducer_spark.functions import frozen as fz

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
FIXTURES = [os.path.join(TESTDATA, d) for d in ("sf0.001", "sf0.01", "sf0.1")]
_SCALE10 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale10",
    "sf1",
)
if os.path.isdir(_SCALE10):
    FIXTURES.append(_SCALE10)


def _specs():
    # Importing the registry registers every operator module's specs.
    import mapreducer_spark.registry  # noqa: F401
    from mapreducer_spark.registry import all_queries

    all_queries()
    return fz.all_specs()


def test_specs_registered():
    specs = _specs()
    assert {
        "ann_exact_topk",
        "ann_exact_topk_l2",
        "bm25_scored",
        "bpe_merges",
        "bpe_segmentation",
        "copurchase_up_edges",
        "lm_bigram_counts",
        "lm_trigram_counts",
        "lm_unigram_counts",
        "lsh_cand_md5",
        "lsh_sigs_md5",
        "neardup_cc_labels",
        "neardup_pairs",
        "neardup_tok_hash_sets",
        "tfidf_doc_freq",
    } <= set(specs)


@pytest.mark.parametrize("sf_dir", FIXTURES)
def test_frozen_artifacts_fresh(sf_dir):
    """Every artifact must be fingerprint-fresh for every shipped
    fixture — on failure, re-run tools/freeze_derived_frames.py (and
    after a .scale10 regen, also the ANN index/codebook tools)."""
    stale = [
        name
        for name, spec in sorted(_specs().items())
        if not fz.is_fresh(sf_dir, spec)
    ]
    assert not stale, (
        f"frozen artifacts stale for {sf_dir}: {stale} — re-run "
        f"python tools/freeze_derived_frames.py {sf_dir}"
    )


def test_frozen_equals_live(spark):
    """The frozen artifact IS the live build, row for row (sf0.001 —
    the smallest fixture keeps this exhaustive check cheap)."""
    sf_dir = FIXTURES[0]
    for name, spec in sorted(_specs().items()):
        frozen_df = spark.read.parquet(fz.artifact_path(sf_dir, name))
        live_df = spec.build(spark, sf_dir)
        assert frozen_df.columns == live_df.columns, name
        f_rows = sorted(map(tuple, frozen_df.collect()))
        l_rows = sorted(map(tuple, live_df.collect()))
        assert f_rows == l_rows, f"{name}: frozen != live build"


@pytest.fixture
def _clear_fp_cache():
    yield
    # monkeypatch may still hold a plain-lambda replacement at teardown
    # time (fixture teardown order) — only clear real lru caches.
    for fn in (fz._fingerprints_at, fz._file_md5_at):
        if hasattr(fn, "cache_clear"):
            fn.cache_clear()


def test_serve_reads_fingerprints_once(spark, monkeypatch, _clear_fp_cache):
    """A fingerprint file that changes between reads is read ONCE per
    serve, and the token is the very record is_fresh validated."""
    sf_dir = FIXTURES[0]
    spec = _specs()["copurchase_up_edges"]
    key = "sf0.001/copurchase_up_edges"
    real = fz._fingerprints()
    assert fz.is_fresh(sf_dir, spec, real) is real[key]
    reads = []

    def changing():
        reads.append(True)
        if len(reads) == 1:
            return real
        return {**real, key: {**real[key], "n_rows": -1}}

    monkeypatch.setattr(fz, "_fingerprints", changing)
    _df, token = fz.frozen_or_build_info(spark, sf_dir, spec)
    assert len(reads) == 1
    assert token == json.dumps(real[key], sort_keys=True)


def test_source_drift_falls_back_to_live(spark, monkeypatch, _clear_fp_cache):
    """A drifted source fingerprint must NOT serve the artifact: the
    live build runs instead, with a loud warning."""
    sf_dir = FIXTURES[0]
    sentinel = spark.range(3).toDF("sentinel_col")
    spec = fz.FrozenSpec(
        "neardup_pairs", ("documents",), 1, lambda s, d: sentinel
    )
    monkeypatch.setattr(
        fz,
        "_fingerprints",
        lambda: {
            "sf0.001/neardup_pairs": {
                "version": 1,
                "sources": {"documents": "0" * 32},  # drifted md5
            }
        },
    )
    with pytest.warns(RuntimeWarning, match="STALE"):
        served = fz.frozen_or_build(spark, sf_dir, spec)
    assert served.columns == ["sentinel_col"]  # live build, not parquet


def test_version_bump_refuses_artifact(spark, monkeypatch, _clear_fp_cache):
    """Bumping a spec's version refuses the recorded artifact (build-
    semantics drift is invisible to source fingerprints — the version
    field is the author's loud switch)."""
    sf_dir = FIXTURES[0]
    real = _specs()["neardup_pairs"]
    assert fz.is_fresh(sf_dir, real)
    bumped = fz.FrozenSpec(
        real.name, real.sources, real.version + 1, real.build
    )
    assert not fz.is_fresh(sf_dir, bumped)
    sentinel = spark.range(2).toDF("v2_col")
    bumped_live = fz.FrozenSpec(
        real.name, real.sources, real.version + 1, lambda s, d: sentinel
    )
    with pytest.warns(RuntimeWarning, match="STALE"):
        served = fz.frozen_or_build(spark, sf_dir, bumped_live)
    assert served.columns == ["v2_col"]


def test_freeze_roundtrip_in_tmpdir(spark, tmp_path, monkeypatch, _clear_fp_cache):
    """freeze() writes parquet + fingerprints such that is_fresh holds
    and the served frame equals the build — the tool's whole contract,
    exercised against a temp store with a temp spec."""
    monkeypatch.setattr(fz, "_FROZEN_DIR", str(tmp_path))
    monkeypatch.setattr(fz, "_FP_PATH", str(tmp_path / "fp.json"))
    fz._fingerprints_at.cache_clear()

    def build(s, sf_dir):
        return s.range(5).selectExpr("id", "id * 2 AS dbl")

    name = "_tmp_roundtrip_artifact"
    spec = fz.FrozenSpec(name, ("documents",), 3, build)
    monkeypatch.setitem(fz._SPECS, name, spec)
    sf_dir = FIXTURES[0]
    out = fz.freeze(spark, sf_dir, names=[name])
    assert out == {name: 5}
    fz._fingerprints_at.cache_clear()
    assert fz.is_fresh(sf_dir, spec)
    served = fz.frozen_or_build(spark, sf_dir, spec)
    assert sorted(map(tuple, served.collect())) == [
        (i, 2 * i) for i in range(5)
    ]


def test_extra_file_drift_refuses_assign_artifact(monkeypatch, _clear_fp_cache):
    """The inverted-list artifact (ann_ivf_assign) is pinned to the
    CENTROID file via extra_files: an IVF retrain that rewrites
    ivf_centroids.json must stale the assignment loudly — serving
    old lists against new centroids would silently corrupt every IVF
    probe."""
    sf_dir = FIXTURES[1]  # sf0.01, the gate fixture
    spec = _specs()["ann_ivf_assign"]
    from mapreducer_spark.operators import similarity as sim

    assert spec.extra_files == (sim._IVF_INDEX_PATH,)
    assert fz.is_fresh(sf_dir, spec)
    # Simulate a retrain: the recorded centroid-file md5 no longer
    # matches the file on disk.
    real_md5 = fz._file_md5
    monkeypatch.setattr(
        fz,
        "_file_md5",
        lambda p: "retrained" if p == sim._IVF_INDEX_PATH else real_md5(p),
    )
    assert not fz.is_fresh(sf_dir, spec)
