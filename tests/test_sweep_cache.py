"""The 10x sweep's oracle-result cache — the parts that must be right
for a cache hit to be as trustworthy as a live DuckDB run: structural
key invalidation (oracle SQL edit, fixture regeneration, index
retrain), digest strictness (same canonicalization as the gate), and
the deterministic refresh slice."""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep():
    spec = importlib.util.spec_from_file_location(
        "sweep", os.path.join(REPO, "tools", "sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("sweep", mod)
    spec.loader.exec_module(mod)
    return mod


def test_fixture_fingerprint_tracks_bytes(tmp_path, monkeypatch, sf_dir):
    from mapreducer_spark.operators import similarity as sim
    from mapreducer_spark.registry import all_queries

    sw = _sweep()
    d = tmp_path / "fx"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"aaa")
    (d / "b.parquet").write_bytes(b"bbb")
    f1 = sw.fixture_fingerprint(str(d))
    # same bytes -> same fingerprint (order-independent listing)
    assert sw.fixture_fingerprint(str(d)) == f1
    # one changed byte -> regeneration detected
    (d / "b.parquet").write_bytes(b"bbc")
    assert sw.fixture_fingerprint(str(d)) != f1
    # a renamed file also changes it (name is hashed with the bytes)
    (d / "b.parquet").rename(d / "c.parquet")
    f3 = sw.fixture_fingerprint(str(d))
    (d / "c.parquet").rename(d / "b.parquet")
    assert f3 != sw.fixture_fingerprint(str(d))

    # A retrained index on unchanged fixture bytes changes the cache key
    # too: the key hashes the oracle text with the index inlined.
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), d)
    fp = sw.fixture_fingerprint(str(d))
    record = {"md5": sim._embeddings_md5(str(d)), "n_train": 500}
    monkeypatch.setattr(sim, "_frozen_fingerprints", lambda: {"fx": record})
    q = all_queries()["ann_ivf_topk"]
    keys = []
    for scale in (1.0, 2.0):
        index = [[scale * (i + j) for j in range(64)] for i in range(16)]
        monkeypatch.setattr(sim, "_frozen_ivf_index", lambda: {"fx": index})
        keys.append(sw.cache_key(q, str(d), fp))
    assert keys[0] != keys[1]
    assert sw.cache_key(q, str(d), fp) == keys[1]


def test_refresh_slice_deterministic_and_sparse():
    sw = _sweep()
    names = [f"query_{i}" for i in range(400)]
    s1 = {n for n in names if sw.in_refresh_slice(n, "fp-A")}
    s2 = {n for n in names if sw.in_refresh_slice(n, "fp-A")}
    assert s1 == s2  # deterministic per fixture
    # ~10% expected; loose bounds that still catch a broken modulus
    assert 10 <= len(s1) <= 110
    # a new fixture rotates the slice
    s3 = {n for n in names if sw.in_refresh_slice(n, "fp-B")}
    assert s1 != s3


def test_result_digest_matches_gate_strictness():
    from mapreducer_spark.oracle import result_digest

    a = result_digest(["x", "y"], [(1, 2.0), (3, 4.0)])
    # column order is canonicalized away...
    b = result_digest(["y", "x"], [(2.0, 1), (4.0, 3)])
    assert a["hash"] == b["hash"] and a["cols"] == b["cols"]
    # ...row order too...
    c = result_digest(["x", "y"], [(3, 4.0), (1, 2.0)])
    assert c["hash"] == a["hash"]
    # ...but TYPE drift (int vs float) must change the digest, exactly
    # like the gate's type-tagged canonicalizer
    d = result_digest(["x", "y"], [(1.0, 2.0), (3.0, 4.0)])
    assert d["hash"] != a["hash"]
    # and -0.0 vs 0.0 is a drift (driver stringification tells them apart)
    e1 = result_digest(["v"], [(0.0,)])
    e2 = result_digest(["v"], [(-0.0,)])
    assert e1["hash"] != e2["hash"]


def test_cache_roundtrip(tmp_path, monkeypatch):
    sw = _sweep()
    monkeypatch.setattr(sw, "CACHE_PATH", str(tmp_path / "cache.json"))
    assert sw.load_cache() == {}
    sw.save_cache({"k": {"cols": ["a"], "n": 1, "hash": "h"}})
    assert sw.load_cache() == {"k": {"cols": ["a"], "n": 1, "hash": "h"}}
    # corrupt file degrades to empty (forces live re-verification)
    (tmp_path / "cache.json").write_text("{ not json")
    assert sw.load_cache() == {}
