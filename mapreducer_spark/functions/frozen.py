"""Frozen derived-frame lifecycle — materialize-once artifacts with
fingerprint staleness guards.

The ANN index taught the pattern (operators/similarity.py:247-403):
expensive derived state is trained OFFLINE by a tool, frozen as a repo
artifact next to a fingerprint of its source data, and SERVED at query
time only while the fingerprint is fresh — on drift the server falls
back to the live build with a loud warning, and the paired freshness
test turns the same condition into a hard failure telling you to re-run
the tool.  This module generalizes that lifecycle from centroid lists
to whole DataFrames: the LSH signature/candidate frames, the near-dup
pair graph and its component labels, the co-purchase edge list, and the
exact-top-k ANN ground truth are all artifacts a production pipeline at
100 TB materializes exactly once and serves to every downstream
consumer — yet without them every gauge query re-paid the full build
cold (`ann_ivf_int8_recall` 11.7 s, `minhash_estimator_error` 8.1 s on
a driver bench).

Verification story — why serving a frozen frame does NOT weaken the
correctness gate: every consumer's DuckDB oracle recomputes the SAME
derived frame from the RAW tables in SQL.  A frozen artifact that
drifts from the live semantics (stale data, stale build code) produces
a different final result and FAILS the hash gate; the fingerprint guard
exists to catch data drift loudly at serve time, and the ``version``
field to catch build-code drift (bump it whenever an artifact's build
semantics change — the old artifact is then refused, not silently
served).

Layout::

    mapreducer_spark/data/frozen/fingerprints.json
    mapreducer_spark/data/frozen/<fixture>/<artifact>/  (parquet)

``<fixture>`` is the basename of the sf dir (sf0.001/sf0.01/sf0.1/sf1).
Artifacts for the git-ignored 10x fixture (.scale10/sf1) are themselves
git-ignored; tools/freeze_derived_frames.py regenerates them (run it —
like tools/train_ivf_index.py — after any fixture regen).

At 100 TB the artifact store would be a parquet/Iceberg table on object
storage written by the same pipeline step; the single-directory layout
here is the fixture-scale stand-in, and serving is a plain parquet read
(``sources.read_parquet``, which infers the schema once per artifact
version) — partition-parallel, predicate-pushable, nothing driver-sized.
"""

from __future__ import annotations

import hashlib
import json
import os
import warnings
from dataclasses import dataclass
from functools import lru_cache
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_FROZEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "frozen",
)
_FP_PATH = os.path.join(_FROZEN_DIR, "fingerprints.json")


@dataclass(frozen=True)
class FrozenSpec:
    name: str
    sources: tuple[str, ...]  # fixture tables the build reads
    version: int  # bump on any build-semantics change
    build: Callable[[SparkSession, str], DataFrame]
    # Non-fixture inputs the build depends on (e.g. the frozen IVF
    # centroid file for the inverted-list artifact): absolute paths,
    # hashed into the fingerprint so an upstream-artifact retrain
    # refuses this artifact loudly instead of serving a mismatched one.
    extra_files: tuple[str, ...] = ()


_SPECS: dict[str, FrozenSpec] = {}


def frozen_spec(
    name: str,
    sources: tuple[str, ...],
    version: int = 1,
    extra_files: tuple[str, ...] = (),
):
    """Register an artifact's live builder and return the SERVING
    function: frozen parquet when fingerprint-fresh, else the live
    build (with a loud staleness warning when an artifact exists but
    no longer matches its sources)."""

    def deco(build: Callable[[SparkSession, str], DataFrame]):
        if name in _SPECS:
            raise ValueError(f"duplicate frozen artifact name {name!r}")
        spec = FrozenSpec(name, tuple(sources), version, build, tuple(extra_files))
        _SPECS[name] = spec

        def serve(spark: SparkSession, sf_dir: str) -> DataFrame:
            return frozen_or_build(spark, sf_dir, spec)

        # Single-check serving: callers whose downstream materialization
        # policy depends on WHERE the frame came from (frozen artifact vs
        # live build) read the decision from the same is_fresh call that
        # made it, instead of re-deciding; ``token`` lets a memo probe
        # for a hit without serving.
        serve.info = lambda spark, sf_dir: frozen_or_build_info(
            spark, sf_dir, spec
        )
        serve.token = lambda sf_dir: freshness_token(sf_dir, spec)
        serve.__name__ = f"frozen_{name}"
        serve.__doc__ = (
            f"Serve the frozen {name!r} artifact for sf_dir when its "
            f"fingerprint is fresh, else run the live build.  Sources: "
            f"{', '.join(sources)}; version {version}."
        )
        return serve

    return deco


def all_specs() -> dict[str, FrozenSpec]:
    """Registered artifact specs (the freeze tool's work list)."""
    return dict(_SPECS)


def _fingerprints() -> dict:
    # Keyed on the file's (mtime_ns, size) so an external freeze-tool run
    # mid-session is picked up; a missing/corrupt file is NOT cached
    # (a lifetime-cached result would defeat the serve-time drift guard
    # when sources are regenerated in place).
    try:
        st = os.stat(_FP_PATH)
    except OSError:
        return {}
    return _fingerprints_at(_FP_PATH, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=8)
def _fingerprints_at(path: str, mtime_ns: int, size: int) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _file_md5(path: str) -> str | None:
    # Cache keyed on (path, mtime_ns, size): a regenerated fixture gets a
    # fresh hash instead of the stale cached one, and a missing file
    # (None) is never cached — so is_fresh stays a LIVE drift guard
    # across in-session source changes.
    try:
        st = os.stat(path)
    except OSError:
        return None
    return _file_md5_at(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=256)
def _file_md5_at(path: str, mtime_ns: int, size: int) -> str | None:
    try:
        h = hashlib.md5()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()
    except OSError:
        return None


def _source_md5s(sf_dir: str, sources: tuple[str, ...]) -> dict[str, str | None]:
    return {
        t: _file_md5(os.path.join(sf_dir, t + ".parquet")) for t in sources
    }


def artifact_path(sf_dir: str, name: str) -> str:
    fixture = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(_FROZEN_DIR, fixture, name)


def is_fresh(
    sf_dir: str, spec: FrozenSpec, records: dict | None = None
) -> dict | None:
    """The fingerprint record of this fixture's artifact when the
    artifact exists AND its recorded source fingerprints and build
    version both match, else None.  ``records`` is the fingerprint
    file's content, read here when not given; the returned record is
    the very object that was checked, so a caller that serves by it
    never pairs the artifact with a record read later."""
    if records is None:
        records = _fingerprints()
    fixture = os.path.basename(sf_dir.rstrip("/"))
    rec = records.get(f"{fixture}/{spec.name}")
    if not isinstance(rec, dict):
        return None
    if rec.get("version") != spec.version:
        return None
    path = artifact_path(sf_dir, spec.name)
    if not os.path.isdir(path):
        return None
    recorded = rec.get("sources", {})
    if not all(
        recorded.get(t) is not None
        and _source_md5s(sf_dir, (t,))[t] == recorded.get(t)
        for t in spec.sources
    ):
        return None
    recorded_extra = rec.get("extra", {})
    if not all(
        recorded_extra.get(os.path.basename(f)) is not None
        and _file_md5(f) == recorded_extra.get(os.path.basename(f))
        for f in spec.extra_files
    ):
        return None
    return rec


def frozen_or_build(
    spark: SparkSession, sf_dir: str, spec: FrozenSpec
) -> DataFrame:
    return frozen_or_build_info(spark, sf_dir, spec)[0]


def freshness_token(sf_dir: str, spec: FrozenSpec) -> str | None:
    """The token :func:`frozen_or_build_info` would return now, without
    building or reading anything but fingerprints: memo lookups probe
    with it and serve only on a miss."""
    rec = is_fresh(sf_dir, spec)
    return None if rec is None else json.dumps(rec, sort_keys=True)


def frozen_or_build_info(
    spark: SparkSession, sf_dir: str, spec: FrozenSpec
) -> tuple[DataFrame, str | None]:
    """(frame, freshness token).  The token is the serialized
    fingerprint record that ``is_fresh`` accepted (None = live build),
    from ONE read of the fingerprint file — callers use it both as the
    served-frozen flag and as a memo-key component, so a mid-session
    refreeze/retrain changes the token and can never pair a stale
    cached frame (or a checkpoint/no-checkpoint decision) with a
    different artifact than the one fingerprint-checked here."""
    records = _fingerprints()
    rec = is_fresh(sf_dir, spec, records)
    if rec is not None:
        # fan_out: the fixture-scale artifact is one parquet file = ONE
        # input split, which would serialize every downstream per-row
        # stage (explode, hashing, pair expansion) onto a single core —
        # measured 1.3 s -> 4.7 s on neardup_jaccard_blocked when the
        # frozen posting table replaced the 64-partition live build.  At
        # production scale the artifact is a multi-file table and
        # fan_out is a no-op (see sources.fan_out).
        from mapreducer_spark.sources import fan_out, read_parquet

        return (
            fan_out(read_parquet(spark, artifact_path(sf_dir, spec.name))),
            json.dumps(rec, sort_keys=True),
        )
    fixture = os.path.basename(sf_dir.rstrip("/"))
    if f"{fixture}/{spec.name}" in records:
        warnings.warn(
            f"frozen artifact {spec.name!r} for {fixture!r} is STALE "
            "(source fingerprint or build version no longer matches) — "
            "falling back to the live build; re-run "
            "tools/freeze_derived_frames.py " + sf_dir,
            RuntimeWarning,
            stacklevel=2,
        )
    return spec.build(spark, sf_dir), None


def freeze(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict:
    """Build and freeze artifacts for ``sf_dir`` (the offline tool's
    engine).  Writes each frame as parquet under the artifact path and
    records {sources md5, version, n_rows, columns} in the fingerprint
    file.  Returns {name: n_rows}."""
    import shutil

    fixture = os.path.basename(sf_dir.rstrip("/"))
    fps: dict = {}
    if os.path.exists(_FP_PATH):
        with open(_FP_PATH) as f:
            fps = json.load(f)
    out: dict[str, int] = {}
    for name, spec in sorted(_SPECS.items()):
        if names is not None and name not in names:
            continue
        # Fingerprint BEFORE building (TOCTOU guard, same as
        # tools/train_ivf_index.py): if a source changes during the
        # build, the recorded fingerprint no longer matches and the
        # artifact is refused at serve time rather than served stale.
        src = _source_md5s(sf_dir, spec.sources)
        extra = {os.path.basename(f): _file_md5(f) for f in spec.extra_files}
        if any(v is None for v in src.values()) or any(
            v is None for v in extra.values()
        ):
            raise FileNotFoundError(
                f"{name}: missing source table or extra file"
            )
        df = spec.build(spark, sf_dir)
        path = artifact_path(sf_dir, name)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # Small fixture-scale frames: one file keeps the repo tidy and
        # the read cost one task; a production freeze would keep the
        # write partition-parallel.
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        n = spark.read.parquet(path).count()
        fps[f"{fixture}/{name}"] = {
            "version": spec.version,
            "sources": src,
            "extra": extra,
            "n_rows": int(n),
            "columns": df.columns,
        }
        out[name] = int(n)
    os.makedirs(_FROZEN_DIR, exist_ok=True)
    with open(_FP_PATH, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
    _fingerprints_at.cache_clear()
    return out
