"""Full-registry 10x sweep with an oracle-result cache.

Runs every registered query on the 10x fixture (tools/gen_scale10.py),
in two legs:

- default: every oracle-backed query except ORACLE_EXCLUDED, checked
  against its DuckDB oracle.  The frozen-index oracles (IVF centroids,
  PQ codewords) read the 10x fixture's own artifacts, like every other
  oracle reads its tables, so they need no leg of their own;
- rowsonly: the queries without an oracle plus ORACLE_EXCLUDED,
  executed under the plan budgets with their row counts recorded.

The DuckDB side is cached per (query name, sha256 of the
self-contained oracle SQL, fixture fingerprint) in
tools/oracle_cache.json.  The self-contained text inlines the frozen
artifacts the oracle reads, so a retrained index changes the key just
as an edited oracle or a regenerated fixture does; each forces a live
DuckDB run.  The SPARK side always runs live — it is the code under
test, and the executed-plan budgets (scan / window / hinted-broadcast)
assert on every run.  Its result is digested through the gate's own
canonicalization (mapreducer_spark.oracle.result_digest), so a
cache-hit comparison is exactly as strict as a live one: same columns,
same row count, same normalized-value hash.  A seeded 10% refresh
slice (sha-picked, deterministic per fixture) re-runs DuckDB on HITS
and cross-checks the stored digest, so a corrupted cache row cannot
survive undetected.  Every cache event is reported in the output row
("oracle": "cached" | "live" | "refresh-verified").

Usage: python tools/sweep.py {default|rowsonly} [start [end]]
SPARK_GRAFT_SWEEP_ONLY=name,name,... restricts a leg to those names.
Rows are appended to tools/oracle_at_scale_<leg>_run.jsonl.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.oracle import (  # noqa: E402
    duck_connection,
    require_fresh_artifacts,
    result_digest,
    run_duck,
    run_spark_gated,
    self_contained,
)
from mapreducer_spark.registry import all_queries  # noqa: E402
from mapreducer_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE10 = os.path.join(REPO, ".scale10", "sf1")
CACHE_PATH = os.path.join(REPO, "tools", "oracle_cache.json")

# The exact O(U^2) profile oracle is a by-design weak twin at 10x: its
# LSH bit resolution adapts to the user count on the Spark side.
ORACLE_EXCLUDED = {
    "user_activity_similarity_blocked",
}
REFRESH_FRACTION = 0.1


def legs() -> dict[str, list[str]]:
    qs = all_queries()
    default, rowsonly = [], []
    for name in sorted(qs):
        if qs[name].oracle is None or name in ORACLE_EXCLUDED:
            rowsonly.append(name)
        else:
            default.append(name)
    return {"default": default, "rowsonly": rowsonly}


def fixture_fingerprint(sf_dir: str) -> str:
    """md5 over the bytes of every table file in the fixture, in name
    order — regeneration (tools/gen_scale10.py) changes this and thereby
    invalidates every cached oracle row for the old fixture."""
    h = hashlib.md5()
    for name in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, name)
        if not os.path.isfile(path):
            continue
        h.update(name.encode())
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def cache_key(query, sf_dir: str, fixture_fp: str) -> str:
    """The cache row of ``query``'s oracle result on ``sf_dir``.  Call
    only once require_fresh_artifacts has passed."""
    sql = self_contained(query.oracle, sf_dir)
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return "|".join((query.name, digest, fixture_fp))


def load_cache() -> dict:
    try:
        with open(CACHE_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def save_cache(cache: dict) -> None:
    tmp = CACHE_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(tmp, CACHE_PATH)


def in_refresh_slice(name: str, fixture_fp: str) -> bool:
    """Deterministic ~10% slice, re-drawn per fixture: sha256 of
    (fixture, name) mod 10 == 0.  Seeded by the fixture so each
    regeneration rotates which names get live re-verification."""
    d = hashlib.sha256(f"{fixture_fp}|{name}".encode()).digest()
    return d[0] % int(1 / REFRESH_FRACTION) == 0


def check_cached(spark, q, fixture_fp: str, cache: dict) -> str:
    """Compare ``q``'s live Spark result with its (possibly cached)
    oracle digest; returns the oracle mode, raises AssertionError on
    any divergence."""
    require_fresh_artifacts(q, SCALE10)
    key = cache_key(q, SCALE10, fixture_fp)
    sdig = result_digest(*run_spark_gated(spark, q, SCALE10))
    hit = cache.get(key)
    refresh = hit is not None and in_refresh_slice(q.name, fixture_fp)
    if hit is None or refresh:
        con = duck_connection(SCALE10)
        try:
            ddig = result_digest(*run_duck(con, q.oracle))
        finally:
            con.close()
        if refresh and ddig != hit:
            raise AssertionError(
                f"{q.name}: cached oracle digest diverges from live "
                "re-run — cache corrupt; delete tools/oracle_cache.json"
            )
        cache[key] = ddig
        save_cache(cache)
        mode = "refresh-verified" if refresh else "live"
    else:
        ddig, mode = hit, "cached"
    for field, what in (("cols", "column"), ("n", "row count")):
        if sdig[field] != ddig[field]:
            raise AssertionError(
                f"{q.name}: {what} mismatch spark={sdig[field]} "
                f"duck={ddig[field]}"
            )
    if sdig["hash"] != ddig["hash"]:
        raise AssertionError(
            f"{q.name}: value mismatch (normalized sha256 "
            f"{sdig['hash'][:12]} != {ddig['hash'][:12]})"
        )
    return mode


def main() -> None:
    leg = sys.argv[1]
    names = legs()[leg]
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in keep]
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    end = int(sys.argv[3]) if len(sys.argv) > 3 else len(names)
    names = names[start:end]
    if not os.path.isdir(SCALE10):
        raise SystemExit(
            f"{SCALE10} missing — run `python tools/gen_scale10.py` first"
        )
    out_path = os.path.join(
        os.path.dirname(__file__), f"oracle_at_scale_{leg}_run.jsonl"
    )
    fixture_fp = fixture_fingerprint(SCALE10)
    cache = load_cache()
    spark = get_spark(
        app_name=f"sweep-{leg}",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "24g"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    counts = {"cached": 0, "live": 0, "refresh-verified": 0}
    with open(out_path, "a") as out:
        for name in names:
            t0 = time.perf_counter()
            mode = None
            try:
                if leg == "rowsonly":
                    _cols, rows = run_spark_gated(spark, qs[name], SCALE10)
                    status = f"rows-only OK ({len(rows)} rows)"
                else:
                    mode = check_cached(spark, qs[name], fixture_fp, cache)
                    counts[mode] += 1
                    status = "MATCH"
            except AssertionError as exc:
                status = f"MISMATCH: {str(exc)[:200]}"
            except Exception as exc:  # noqa: BLE001
                status = f"ERR: {str(exc)[:200]}"
            row = {
                "query": name,
                "sf": "10x-sf0.1",
                "status": status,
                "oracle": mode,
                "sec": round(time.perf_counter() - t0, 1),
            }
            out.write(json.dumps(row) + "\n")
            out.flush()
            print(json.dumps(row), flush=True)
    print(json.dumps({"leg": leg, **counts}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
