"""CLI surface + salted-aggregation invariance + hypothesis-based
tokenizer parity with the reference's semantics."""

from __future__ import annotations

import io
import re
import subprocess
import sys
from contextlib import redirect_stdout

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mapreducer_spark.__main__ import main as cli_main
from mapreducer_spark.functions.agg import salted_group_sum
from mapreducer_spark.functions.text import SPARK_TOKEN_SPLIT_RE
from mapreducer_spark.sources import load_table


def test_cli_list_queries():
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli_main(["list-queries"])
    assert rc == 0
    out = buf.getvalue()
    assert "word_count" in out and "[oracle]" in out


def test_cli_unknown_query():
    rc = cli_main(["query", "no_such_query"])
    assert rc == 2


def test_cli_wordcount_subprocess(tmp_path):
    """The real user entry point: python -m mapreducer_spark wordcount."""
    out = tmp_path / "wc_out"
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreducer_spark",
            "--master",
            "local[2]",
            "--shuffle-partitions",
            "2",
            "wordcount",
            "--data",
            "fixtures/text",
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=180,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    lines = []
    for f in sorted(out.glob("part*")):
        lines += f.read_text().splitlines()
    assert "the : 7" in lines and "42 : 2" in lines


def test_salted_sum_equals_direct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    salted = {
        (r.o_orderpriority): r.total
        for r in salted_group_sum(
            o, ["o_orderpriority"], "o_totalprice", n_salts=8
        ).collect()
    }
    direct = {
        (r.o_orderpriority): r.total
        for r in o.groupBy("o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"))
        .collect()
    }
    assert salted == direct


# Pure-python restatement of the reference tokenizer
# (reference src/mapper.c:14-42: maximal alnum runs after towlower, with
# iswalnum Unicode-aware under setlocale) — the spec our Spark expression
# must match.  Python re has no \p{L}; [\W_]+ is the exact twin
# (functions/text.py PY_TOKEN_SPLIT_RE).
def _reference_tokenize(text: str) -> list[str]:
    return [t for t in re.split(r"[\W_]+", text.lower()) if t]


# ASCII + Cyrillic + a CJK slice: exercises the Unicode classes while
# avoiding the few codepoints where Java and Python LOWERCASING (not
# tokenization) disagree (e.g. U+0130 Turkish dotted I).
_TOKEN_ALPHABET = st.characters(
    min_codepoint=32, max_codepoint=126
) | st.characters(min_codepoint=0x400, max_codepoint=0x45F) | st.characters(
    min_codepoint=0x4E00, max_codepoint=0x4E2F
)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(alphabet=_TOKEN_ALPHABET, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_tokenizer_matches_reference_semantics(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = (
        df.select(
            F.explode(F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE)).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy("w")
        .count()
        .collect()
    )
    got_counts = {(r.w, r["count"]) for r in got}
    want: dict[str, int] = {}
    for t in texts:
        for tok in _reference_tokenize(t):
            want[tok] = want.get(tok, 0) + 1
    assert got_counts == set(want.items())


def test_global_row_number_matches_single_partition_window(spark, sf_dir):
    """Distributed two-phase ranking == the single-partition window it
    replaces, for a unique total order."""
    from pyspark.sql import Window

    from mapreducer_spark.functions.agg import global_row_number
    from mapreducer_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    got = {
        r.o_orderkey: r.rn
        for r in global_row_number(
            o, ["o_totalprice", "o_orderkey"], n_partitions=7
        ).collect()
    }
    w = Window.orderBy("o_totalprice", "o_orderkey")
    want = {
        r.o_orderkey: r.rn
        for r in o.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_global_running_sums_match_single_partition_windows(spark, sf_dir):
    """The r10 multi-value two-phase prefix sums == the single-partition
    windows they replace, for LONG and for decimal-exact sum_cast, plus
    the grand totals from the same per-partition collect."""
    import decimal

    from pyspark.sql import Window

    from mapreducer_spark.functions.agg import (
        global_running_sum_with_total,
        global_running_sums_with_totals,
    )
    from mapreducer_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.pmod(F.col("o_orderkey"), F.lit(97)).cast("long").alias("a"),
        F.col("o_custkey").cast("long").alias("b"),
    )
    wcum = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r.o_orderkey: (r.ca, r.cb)
        for r in o.select(
            "o_orderkey",
            F.sum("a").over(wcum).alias("ca"),
            F.sum("b").over(wcum).alias("cb"),
        ).collect()
    }
    summed, totals = global_running_sums_with_totals(
        o, ["o_orderkey"], {"ca": "a", "cb": "b"}, n_partitions=7
    )
    got = {r.o_orderkey: (r.ca, r.cb) for r in summed.collect()}
    assert got == want
    last = want[max(want)]
    assert (totals["ca"], totals["cb"]) == last

    # Decimal sum_cast: exact money prefix sums, Decimal grand total.
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("v")
    )
    want_d = {
        r.o_orderkey: r.cv
        for r in od.select(
            "o_orderkey", F.sum("v").over(wcum).alias("cv")
        ).collect()
    }
    summed_d, total_d = global_running_sum_with_total(
        od,
        ["o_orderkey"],
        "v",
        n_partitions=7,
        out_name="cv",
        sum_cast="decimal(38,2)",
    )
    got_d = {r.o_orderkey: r.cv for r in summed_d.collect()}
    assert got_d == want_d
    assert isinstance(total_d, decimal.Decimal)
    assert total_d == want_d[max(want_d)]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet=_TOKEN_ALPHABET, max_size=40),
        min_size=1,
        max_size=5,
    )
)
def test_tokenizer_three_way_engine_parity(spark, texts):
    """The tokenizer CONTRACT (functions/text.py) under random input:
    Spark's Java-regex split, DuckDB's RE2 split (the oracle side), and
    the Python-re twin must all produce identical token multisets —
    this is the invariant every text-family oracle depends on."""
    import duckdb

    from mapreducer_spark.functions.text import (
        ORACLE_TOKEN_SPLIT_RE,
        SPARK_TOKEN_SPLIT_RE,
    )

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    spark_toks = sorted(
        r.w
        for r in df.select(
            F.explode(F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE)).alias("w")
        )
        .where(F.length("w") > 0)
        .collect()
    )
    con = duckdb.connect()
    duck_toks = sorted(
        r[0]
        for r in con.execute(
            f"""
            SELECT unnest(string_split_regex(lower(t), '{ORACLE_TOKEN_SPLIT_RE}')) AS w
            FROM (SELECT unnest(?) AS t)
            """,
            [texts],
        ).fetchall()
        if r[0]
    )
    py_toks = sorted(tok for t in texts for tok in _reference_tokenize(t))
    assert spark_toks == duck_toks == py_toks


def test_cli_compact(spark, sf_dir, tmp_path):
    """CLI compact: maintenance pass reachable as a command."""
    import glob

    target = str(tmp_path / "cli_smallfiles")
    load_table(spark, sf_dir, "orders").repartition(8).write.parquet(target)
    assert len(glob.glob(f"{target}/part-*.parquet")) == 8
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli_main(
            ["--master", "local[4]", "compact", "--path", target]
        )
    assert rc == 0
    assert "1 file(s)" in buf.getvalue()
    assert len(glob.glob(f"{target}/part-*.parquet")) == 1


def test_salted_join_map_columns_and_tiebreaker(spark):
    """salted_join must (a) not fail analysis when the fact schema holds
    a map column (xxhash64 can't hash maps — they are excluded from the
    salt), (b) collapse EXACT-duplicate rows to one salt by default (the
    documented limitation), and (c) spread those same rows across salts
    when a varying tiebreaker column is supplied — all observed through
    the REAL salt expression (fact_salt), not a reimplementation."""
    from mapreducer_spark.functions.agg import fact_salt, salted_join

    fact = spark.createDataFrame(
        [(1, i, {"k": "v"}) for i in range(200)],
        "k long, seq long, props map<string,string>",
    )
    dim = spark.createDataFrame([(1, "one")], "dk long, name string")

    out = salted_join(fact, dim, "k", "dk", n_salts=8)
    assert out.count() == 200  # same result set as the plain join

    # Exact duplicates (seq constant): the default row-hash gives ONE
    # salt — zero skew relief, as documented.
    dup = fact.select("k", F.lit(0).alias("seq"), "props")
    n_dup_salts = (
        dup.select(fact_salt(dup, "k", 8).alias("s")).distinct().count()
    )
    assert n_dup_salts == 1

    # A varying tiebreaker spreads the same hot key over many salts.
    n_tb_salts = (
        fact.select(fact_salt(fact, "k", 8, tiebreaker="seq").alias("s"))
        .distinct()
        .count()
    )
    assert n_tb_salts == 8
    # and the join result is unchanged by the tiebreaker
    assert salted_join(fact, dim, "k", "dk", n_salts=8, tiebreaker="seq").count() == 200



def test_weighted_interleave_prefix_proportionality(spark, sf_dir):
    """Stride-scheduled interleave: every prefix of the global order
    holds each source close to its quota-proportional share (the whole
    point of interleaving vs concatenating sources), positions are a
    1..N permutation, and the order is deterministic across runs."""
    from collections import Counter

    from mapreducer_spark.operators.reshape import corpus_weighted_interleave

    rows = sorted(
        corpus_weighted_interleave(spark, sf_dir).collect(),
        key=lambda r: r.global_pos,
    )
    n = len(rows)
    assert [r.global_pos for r in rows] == list(range(1, n + 1))
    totals = Counter(r.source for r in rows)
    n_sources = len(totals)
    seen: Counter = Counter()
    for i, r in enumerate(rows, start=1):
        seen[r.source] += 1
        for s, c in seen.items():
            ideal = i * totals[s] / n
            assert abs(c - ideal) <= n_sources / 2 + 1, (i, s, c, ideal)
    rows2 = sorted(
        corpus_weighted_interleave(spark, sf_dir).collect(),
        key=lambda r: r.global_pos,
    )
    assert [(r.doc_id, r.source) for r in rows] == [
        (r.doc_id, r.source) for r in rows2
    ]


@given(
    total=st.integers(min_value=1, max_value=5000),
    n_tiles=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None)
def test_ntile_from_rn_matches_spec(total, n_tiles):
    """ntile_from_rn's pure arithmetic must reproduce SQL NTILE exactly
    for any (total, n_tiles): the first total % n buckets get one extra
    row, buckets are contiguous and ordered.  (Checked against a pure
    Python spec, not Spark, so hypothesis can sweep widely.)"""
    q, r = divmod(total, n_tiles)

    def spec(rn: int) -> int:
        # rows 1..total distributed: first r buckets size q+1, rest q.
        big = r * (q + 1)
        if q == 0:
            return rn  # fewer rows than tiles: bucket == row number
        if rn <= big:
            return (rn - 1) // (q + 1) + 1
        return r + (rn - big - 1) // q + 1

    sizes: dict[int, int] = {}
    prev = 0
    for rn in range(1, total + 1):
        b = spec(rn)
        assert b >= prev  # monotone, contiguous
        prev = b
        sizes[b] = sizes.get(b, 0) + 1
    expect_sizes = sorted(sizes.values(), reverse=True)
    # NTILE contract: sizes differ by at most 1, larger buckets first.
    assert expect_sizes == [q + 1] * r + [q] * (len(sizes) - r)


import pytest


@pytest.mark.parametrize(
    "n,tiles",
    [(457, 10), (1, 10), (9, 10), (10, 10), (11, 10), (100, 7), (5000, 32)],
)
def test_ntile_from_rn_matches_spark_ntile(spark, n, tiles):
    """The column expression itself vs Spark's NTILE across edge cases
    (fewer rows than tiles, exact multiples, off-by-one) — the spec test
    above sweeps the arithmetic; this pins the Spark expression to the
    builtin."""
    from pyspark.sql import Window

    from mapreducer_spark.functions.agg import ntile_from_rn

    df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
    w = Window.orderBy("rn")
    got = (
        df.withColumn("ours", ntile_from_rn(F.col("rn"), n, tiles))
        .withColumn("builtin", F.ntile(tiles).over(w))
        .where(F.col("ours") != F.col("builtin"))
        .count()
    )
    assert got == 0


def test_cli_snapshot_commands(spark, tmp_path, capsys):
    """snapshot-history / snapshot-read / snapshot-expire CLI over a
    committed table."""
    import json
    import os

    from mapreducer_spark.__main__ import main
    from mapreducer_spark.sources.snapshots import snapshot_write

    tdir = str(tmp_path / "snap")
    snapshot_write(
        spark.createDataFrame([(1, "x")], "id long, s string"), tdir
    )
    snapshot_write(
        spark.createDataFrame([(2, "y")], "id long, s string"), tdir
    )

    assert main(["snapshot-history", tdir]) == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [m["version"] for m in lines] == [0, 1]

    out = str(tmp_path / "export")
    assert main(["snapshot-read", tdir, "--version", "0", "--out", out]) == 0
    capsys.readouterr()
    got = [(r.id, r.s) for r in spark.read.parquet(out).collect()]
    assert got == [(1, "x")]

    # VACUUM via CLI: version 0 expires, latest survives, and an aged
    # orphan generation is swept with it.
    orphan = os.path.join(tdir, "gen-cliorphan000")
    os.makedirs(orphan)
    os.utime(orphan, (1, 1))
    assert main(["snapshot-expire", tdir, "--keep-last", "1"]) == 0
    assert "expired versions: [0]" in capsys.readouterr().out
    assert not os.path.exists(orphan)
    assert main(["snapshot-history", tdir]) == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [m["version"] for m in lines] == [1]


def test_session_memo_hits_and_evicts_stale_apps(spark):
    """functions.memo contract: same key -> same materialized frame
    (one build, also for a tuple of frames), entries from dead
    applications are evicted on insert so long-lived processes don't
    pin stale checkpoints, and the pin runs the plan budgets."""
    from mapreducer_spark.functions import memo

    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    a = memo.session_memo(spark, ("memo_test_k",), build)
    b = memo.session_memo(spark, ("memo_test_k",), build)
    assert a is b
    assert len(calls) == 1
    assert a.count() == 3

    memo._CACHE[("dead-app-id", "x")] = a
    memo.session_memo(spark, ("memo_test_k2",), lambda: spark.range(1))
    assert ("dead-app-id", "x") not in memo._CACHE

    # A tuple build: each frame pinned once, the same objects on a hit.
    pair_calls = []

    def build_pair():
        pair_calls.append(1)
        return spark.range(2), spark.range(4)

    p1 = memo.session_memo(spark, ("memo_test_pair",), build_pair)
    p2 = memo.session_memo(spark, ("memo_test_pair",), build_pair)
    assert isinstance(p1, tuple) and len(p1) == 2
    assert p2[0] is p1[0] and p2[1] is p1[1]
    assert len(pair_calls) == 1
    assert (p1[0].count(), p1[1].count()) == (2, 4)

    # The memo's pin is budget-inspected: an oversized hint-forced
    # broadcast inside a memoized build raises instead of hiding
    # behind the checkpoint.
    from pyspark.sql import functions as F

    def build_bad():
        base = spark.range(0, 9000)
        grower = spark.range(0, 9000).select(F.col("id").alias("id2"))
        return base.join(F.broadcast(grower), base.id == grower.id2)

    with pytest.raises(AssertionError, match="hint-forced"):
        memo.session_memo(spark, ("memo_test_bad",), build_bad)
    assert not [k for k in memo._CACHE if "memo_test_bad" in k]


def test_cli_curate_writes_snapshot_consistent_with_capstone(
    spark, sf_dir, tmp_path
):
    """The curate verb's survivor set must equal the oracle-checked
    curation_pipeline_summary numbers on the raw fixture (quality gate +
    exact dedup; the capstone's synthetic +1000000 copies are all exact
    dups of kept docs, so n_docs_out is identical), and the output must
    be a readable snapshot table.  --drop-substring-spans additionally
    empties fully-duplicated docs."""
    import json

    from mapreducer_spark.sources.snapshots import snapshot_read

    out = io.StringIO()
    with redirect_stdout(out):
        rc = cli_main(
            ["curate", str(tmp_path / "t1"), "--sf-dir", sf_dir]
        )
    assert rc == 0
    stats = json.loads(out.getvalue().strip().splitlines()[-1])
    from mapreducer_spark.registry import all_queries

    capstone = (
        all_queries()["curation_pipeline_summary"].fn(spark, sf_dir).collect()[0]
    )
    assert stats["docs_in"] == 500
    assert stats["docs_out"] == capstone.n_docs_out
    tbl = snapshot_read(spark, str(tmp_path / "t1"))
    assert tbl.count() == capstone.n_docs_out
    assert set(tbl.columns) == {"doc_id", "text"}

    out2 = io.StringIO()
    with redirect_stdout(out2):
        rc = cli_main(
            [
                "curate",
                str(tmp_path / "t2"),
                "--sf-dir",
                sf_dir,
                "--drop-substring-spans",
            ]
        )
    assert rc == 0
    stats2 = json.loads(out2.getvalue().strip().splitlines()[-1])
    assert stats2["docs_out"] <= stats["docs_out"]
    tbl2 = snapshot_read(spark, str(tmp_path / "t2"))
    assert tbl2.where("length(text) = 0").count() == 0


def test_catalog_is_current():
    """CATALOG.md must match the registry — regenerate with
    `python tools/gen_catalog.py` after adding queries."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from gen_catalog import render

    committed = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "CATALOG.md"),
        encoding="utf-8",
    ).read()
    assert committed == render(), (
        "CATALOG.md is stale — run `python tools/gen_catalog.py`"
    )


def test_cli_snapshot_diff(spark, tmp_path):
    """snapshot-diff CLI: CDC rows between two committed versions."""
    from mapreducer_spark.sources.snapshots import snapshot_write

    tdir = str(tmp_path / "snap_cli_diff")
    snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), tdir
    )
    snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "id long, s string"),
        tdir,
    )
    out = io.StringIO()
    with redirect_stdout(out):
        rc = cli_main(
            ["snapshot-diff", tdir, "0", "1", "--keys", "id", "--limit", "10"]
        )
    assert rc == 0
    text = out.getvalue()
    assert "update" in text and "insert" in text


def test_cli_snapshot_compact(spark, tmp_path, capsys):
    """snapshot-compact CLI verb over a multi-generation table."""
    from mapreducer_spark.__main__ import main
    from mapreducer_spark.sources.snapshots import (
        snapshot_history,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(spark.range(0, 10).selectExpr("id"), tdir, op="overwrite")
    snapshot_write(spark.range(10, 20).selectExpr("id"), tdir, op="append")
    assert main(["snapshot-compact", tdir]) == 0
    out = capsys.readouterr().out
    assert "compacted into version 2" in out
    assert snapshot_history(tdir)[-1]["op"] == "compact"


def test_cli_export_wds(spark, tmp_path, capsys):
    """export-wds CLI: corpus -> tar shards, manifest printed, shards
    readable back with one txt + one json file per document."""
    from mapreducer_spark.__main__ import main
    from mapreducer_spark.sources.wds import read_wds_shards
    from tests.conftest import SF_DIR

    out = str(tmp_path / "wds")
    rc = main(["export-wds", out, "--sf-dir", SF_DIR, "--n-shards", "4"])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "total samples:" in printed
    from pyspark.sql import functions as F

    back = read_wds_shards(spark, out + "/*.tar")
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    counts = {
        r["ext"]: r["n"]
        for r in back.groupBy("ext").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"txt": n_docs, "json": n_docs}


def test_cli_retrain_index(spark, tmp_path, capsys, monkeypatch):
    """retrain-index CLI: fresh index -> no-op with a message; unknown/
    stale fixture -> in-engine retrain writes the (isolated) artifact
    and the guard then serves the new index."""
    from mapreducer_spark.__main__ import main
    from mapreducer_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    # Fresh fixture: guard is satisfied, verb is a no-op.
    rc = main(["retrain-index", "--sf-dir", SF_DIR])
    assert rc == 0
    assert "fingerprint-fresh" in capsys.readouterr().out

    # Unknown fixture (isolated artifact paths): retrains and freezes.
    import shutil

    monkeypatch.setattr(
        sim, "_IVF_INDEX_PATH", str(tmp_path / "idx.json")
    )
    monkeypatch.setattr(
        sim, "_IVF_FINGERPRINT_PATH", str(tmp_path / "fp.json")
    )
    for fn in (sim._frozen_ivf_index, sim._frozen_fingerprints):
        fn.cache_clear()
    fx = tmp_path / "sfcli"
    fx.mkdir()
    shutil.copy(
        f"{SF_DIR}/embeddings.parquet", fx / "embeddings.parquet"
    )
    rc = main(["retrain-index", "--sf-dir", str(fx)])
    assert rc == 0
    assert "re-frozen" in capsys.readouterr().out
    assert sim.frozen_index_for(str(fx)) is not None
    for fn in (sim._frozen_ivf_index, sim._frozen_fingerprints):
        fn.cache_clear()


@given(
    xs=st.lists(
        st.floats(
            min_value=-1e7,
            max_value=1e7,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=80, deadline=None)
def test_fixed6_quantize_matches_duckdb_hypothesis(xs):
    """Property sweep of the r9 fixed6 quantization contract: for ANY
    finite double in the operating range, Python's evaluation of
    floor(x*1e6 + 0.5) (the exact spec both engines compile) equals
    DuckDB's — the cross-engine bit-determinism the scaled-long fast
    path rests on.  (Spark's side is pinned separately against DuckDB
    on adversarial tie neighborhoods in test_stats_invariants; here
    hypothesis sweeps the value space wide through the same reference
    implementation.)"""
    import math

    import duckdb

    con = duckdb.connect()
    got = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(x * 1000000 + 0.5) AS BIGINT) "
            "FROM (SELECT unnest(?) AS x)",
            [xs],
        ).fetchall()
    ]
    con.close()
    want = [int(math.floor(x * 1000000.0 + 0.5)) for x in xs]
    assert got == want


def test_cli_verify(spark, capsys):
    """verify CLI: a green query MATCHes; a rows-only query is labeled;
    unknown names are rejected with exit 2."""
    import json as _json

    from mapreducer_spark.__main__ import main

    rc = main(
        [
            "verify",
            "pricing_summary",
            "dedup_minhash_lsh",
            "--sf-dir",
            "/root/testdata/sf0.01",
        ]
    )
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    by_name = {r["query"]: r for r in lines}
    assert by_name["pricing_summary"]["status"] == "MATCH"
    assert by_name["dedup_minhash_lsh"]["status"] == "rows-only"

    assert main(["verify", "no_such_query"]) == 2


def test_driver_memory_sized_to_local_slots(monkeypatch):
    """Guide §5: the local-mode heap is sized to the task-slot count
    (512 MB/slot, floor 2g) so 32 concurrent partial-aggregate hash
    maps never share the 1 GiB -Xmx default (the r13 bench crash);
    non-local masters are left to the cluster's own sizing."""
    import os

    from mapreducer_spark.session import driver_memory_for

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory_for("local[32]") == "16g"
    assert driver_memory_for("local[8]") == "4g"
    assert driver_memory_for("local[1]") == "2g"
    assert driver_memory_for("local") == "2g"
    # local[N,maxFailures]: slots are the first field.
    assert driver_memory_for("local[8,3]") == "4g"
    assert driver_memory_for("local[32, 4]") == "16g"
    cpus = os.cpu_count() or 1
    assert driver_memory_for("local[*,2]") == f"{max(2, (cpus + 1) // 2)}g"
    # local-cluster runs executors in their own JVMs: not slot-sized.
    assert driver_memory_for("local-cluster[2,1,1024]") is None
    assert driver_memory_for(None) is None
    assert driver_memory_for("yarn") is None
    assert driver_memory_for("spark://host:7077") is None
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory_for("local[32]") == "3g"
