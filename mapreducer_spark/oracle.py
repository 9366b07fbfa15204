"""The correctness-gate core (SURVEY.md §5.2), shipped IN the package.

Lives here (not only under tests/) so the CLI `verify` command enforces
the exact same normalization contract as the test-suite gate — ad-hoc
stringified comparison diverged from it (driver-hash hazards like
-0.0 vs 0.0 and engine float repr), which is why cmd_verify now imports
this module.  tests/oracle.py re-exports these names unchanged.

Runs a registered query's Spark DataFrame and its DuckDB oracle SQL on the
same sf dir, normalizes both to (sorted column names, canonicalized cell
values), and asserts the row multisets match EXACTLY — mirroring the
driver's order-insensitive value hash, which tolerates no float fuzz.
Queries must therefore bake determinism in (decimal-based sums, explicit
rounding), not rely on the comparator to forgive.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Frozen artifacts that oracles read as relations, next to the table
# views: relation -> (columns, the tool that retrains the artifact).
ARTIFACTS = {
    "ivf_centroids": ("cent_id, cent_v", "tools/train_ivf_index.py"),
    "pq_codebooks": ("m, k, cv", "tools/train_pq_codebooks.py"),
}


def artifact_sql(name: str, sf_dir: str) -> str | None:
    """The SELECT that yields artifact relation ``name`` for the fixture
    at ``sf_dir``, built from the same fingerprint-checked loader the
    Spark side serves from, so both engines read the same index; None
    when the fixture has no fresh artifact.  Each double is its repr(),
    which both engines parse back to the same float64."""
    from mapreducer_spark.operators.similarity import frozen_index_for, frozen_pq_for

    if name == "ivf_centroids":
        idx = frozen_index_for(sf_dir)
        rows = None if idx is None else list(enumerate(idx))
    else:
        cbs = frozen_pq_for(sf_dir)
        rows = None if cbs is None else [
            (m, k, cw) for m, per_m in enumerate(cbs) for k, cw in enumerate(per_m)
        ]
    if rows is None:
        return None
    # A row is its integer keys, then one vector.
    values = ",\n  ".join(
        "(" + ", ".join(map(str, r[:-1]))
        + f", CAST([{', '.join(map(repr, r[-1]))}] AS DOUBLE[]))"
        for r in rows
    )
    return f"SELECT * FROM (VALUES\n  {values}\n) AS t({ARTIFACTS[name][0]})"


def _reads(sql: str) -> list[str]:
    return [n for n in ARTIFACTS if re.search(rf"\b{n}\b", sql)]


def self_contained(sql: str, sf_dir: str) -> str | None:
    """``sql`` runnable on a connection that holds only the table views:
    each artifact relation it reads is inlined as a CTE built at
    ``sf_dir``.  None when one of them has no fresh artifact there."""
    rels = {n: artifact_sql(n, sf_dir) for n in _reads(sql)}
    if not rels:
        return sql
    if None in rels.values():
        return None
    ctes = ",\n".join(f"{n} AS ({body})" for n, body in rels.items())
    return f"WITH {ctes}\nSELECT * FROM (\n{sql}\n)"


def require_fresh_artifacts(query, sf_dir: str) -> None:
    """Raise AssertionError, naming the retrain tool, when ``query``'s
    oracle reads a frozen artifact that ``sf_dir`` has no fresh copy
    of: another scale's index would make the comparison meaningless."""
    for name in _reads(query.oracle):
        if artifact_sql(name, sf_dir) is None:
            raise AssertionError(
                f"{query.name}: no fresh frozen {name} for {sf_dir}; "
                f"retrain it with python {ARTIFACTS[name][1]} {sf_dir}"
            )


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        # Escape the path for the SQL string literal — a quote in the
        # fixture path must not break (or smuggle SQL into) the DDL.
        p = f"{sf_dir}/{t}.parquet".replace("'", "''")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name in ARTIFACTS:
        body = artifact_sql(name, sf_dir)
        if body is not None:
            con.sql(f"CREATE VIEW {name} AS {body}")
    return con


def _canon(v):
    """Canonical, TYPE-TAGGED cell value.

    Stricter than Python equality on purpose: the driver hashes
    stringified values, where 1036 (BIGINT) != 1036.0 (DOUBLE), so a
    Spark/DuckDB type drift must fail here too.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dt.datetime):
        return (
            "t",
            v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds"),
        )
    if isinstance(v, dt.date):
        return ("D", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def assert_scalar_schema(name: str, df) -> None:
    """Reject array/map/struct-typed result columns in a declared query.

    The driver's canonicalizer (pandas sort_values/factorize over
    stringified cells) throws ``TypeError: unhashable type: 'list'`` on a
    complex-typed column — the query reds out as ``err`` with no hash
    comparison at all (the round-6 ``inverted_index_rare_terms`` row).
    The local gate used to canonicalize lists to tuples and pass, which
    made it LAXER than the driver's; ban the whole class here instead,
    same pattern as the HUGEINT rejection below.  Queries that compute a
    list (posting lists, centroids) must flatten it — ``array_join`` to
    a string, or explode to one row per element.
    """
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if complex_cols:
        raise AssertionError(
            f"{name}: complex-typed result column(s) {complex_cols} "
            "(array/map/struct) — the result-hash harness cannot "
            "canonicalize them; flatten with array_join() or explode"
        )


def run_spark(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def run_duck(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    # DuckDB types SUM(integer) as HUGEINT (int128).  Python fetchall()
    # converts it to a plain int — invisible here — but the driver's value
    # stringification renders int128 differently from Spark's BIGINT, so a
    # HUGEINT result column is a guaranteed hash mismatch at the driver
    # even when every value is identical (the round-2
    # props_schema_validation red row).  Ban it at the gate: wrap the
    # aggregate in CAST(... AS BIGINT).
    hugeint = [
        c
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper()
    ]
    if hugeint:
        raise AssertionError(
            f"oracle result has HUGEINT column(s) {hugeint}; "
            "wrap the aggregate in CAST(... AS BIGINT)"
        )
    # Same class of driver-hash hazard as HUGEINT: complex-typed oracle
    # columns (LIST/STRUCT/MAP) can't be canonicalized by the driver's
    # pandas harness.  The Spark side is checked by assert_scalar_schema;
    # ban the oracle side symmetrically so a drift can't hide.
    complex_cols = [
        c
        for c, t in zip(rel.columns, rel.types)
        if any(k in str(t).upper() for k in ("[]", "LIST", "STRUCT", "MAP"))
    ]
    if complex_cols:
        raise AssertionError(
            f"oracle result has complex-typed column(s) {complex_cols}; "
            "flatten with array_to_string() or UNNEST"
        )
    return list(rel.columns), rel.fetchall()


def run_spark_gated(spark, query, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Run the query's Spark side and assert every EXECUTED-PLAN
    structural budget (the 100 TB posture checks that ride along with
    every correctness collect).  Shared by assert_matches_oracle, the
    rows-only sweep leg, and the cached 10x sweep (tools/sweep.py),
    so no verification path can skip a budget."""
    sdf = query.fn(spark, sf_dir)
    assert_scalar_schema(query.name, sdf)
    scols, srows = run_spark(sdf)
    # The structural budgets on the just-executed plan (free —
    # run_spark already collected): rescans per table, rows through an
    # unpartitioned window, rows in a hint-forced broadcast.
    from mapreducer_spark.plans.inspect import check_plan_budgets

    check_plan_budgets(sdf, query.name)
    return scols, srows


def result_digest(cols: list[str], rows: list[tuple]) -> dict:
    """Stable digest of a normalized result — what the cached 10x sweep
    stores per (query, oracle-SQL hash, fixture fingerprint) so unchanged
    oracles need not re-run DuckDB (VERDICT r10 #4).  The hash is over
    the SAME canonicalization assert_matches_oracle compares with, so a
    cache-hit comparison is exactly as strict as a live one."""
    import hashlib

    norm = _normalize(cols, rows)
    return {
        "cols": sorted(cols),
        "n": len(rows),
        "hash": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def assert_matches_oracle(spark, query, sf_dir: str, max_report: int = 5) -> None:
    """query: a registry.Query with fn + oracle.  Raises AssertionError
    on any divergence (require_fresh_artifacts first)."""
    if query.oracle is None:
        raise AssertionError(f"{query.name}: no oracle SQL declared")
    require_fresh_artifacts(query, sf_dir)
    scols, srows = run_spark_gated(spark, query, sf_dir)
    con = duck_connection(sf_dir)
    try:
        dcols, drows = run_duck(con, query.oracle)
    finally:
        con.close()

    if sorted(scols) != sorted(dcols):
        raise AssertionError(
            f"{query.name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
        )
    if len(srows) != len(drows):
        raise AssertionError(
            f"{query.name}: row count mismatch spark={len(srows)} duck={len(drows)}"
        )
    s_norm = _normalize(scols, srows)
    d_norm = _normalize(dcols, drows)
    if s_norm != d_norm:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
        ][:max_report]
        raise AssertionError(
            f"{query.name}: value mismatch on {len([1 for a, b in zip(s_norm, d_norm) if a != b])}"
            f" rows; first diffs (row_idx, spark, duck): {diffs}"
        )
