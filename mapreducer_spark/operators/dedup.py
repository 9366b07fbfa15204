"""Deduplication operators (SURVEY.md §2.10 L1/L2) — the training-data
pipeline's bread and butter.

The fixture corpus is duplicate-free, so each query synthesizes
duplicates DETERMINISTICALLY (self-union with shifted ids and controlled
perturbations) — the same construction appears in the DuckDB oracle, so
the dedup logic itself is what's hash-checked.

Scale design:
- exact dedup: hash-groupBy on the content key — one shuffle whose
  volume is bounded by distinct contents (map-side partial agg combines
  copies early).  At 100 TB, group on sha2(text) instead of text to keep
  shuffle rows narrow.
- near-dup MinHash+LSH: the classic shingle -> minhash -> band -> bucket
  join.  Cost is O(docs x k) for signatures, then pair generation only
  WITHIN buckets — never a global cross join.  Verification (true
  Jaccard) runs only on bucket-collision candidates.
- near-dup blocked Jaccard: oracle-checkable variant where blocking is a
  cheap deterministic key (first token) and the exact Jaccard runs per
  block.  Same shape as LSH (block -> pair -> verify), SQL-expressible.
- SimHash: 32-bit oracle-checkable fingerprint via the cross-engine
  md5_int64 hash; the production path would widen to 64 bits on
  xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducer_spark.functions.frozen import frozen_spec
from mapreducer_spark.functions.hashes import md5_int64, oracle_md5_int64
from mapreducer_spark.functions.text import (
    ORACLE_TOKEN_LIST_SNIPPET,
    ORACLE_TOKENS_SNIPPET,
    SPARK_TOKEN_SPLIT_RE,
)
from mapreducer_spark.plans.inspect import checkpoint_inspected
from mapreducer_spark.registry import register
from mapreducer_spark.sources import fan_out, load_table

# --------------------------------------------------------------------------
# Synthesized duplicates — identical construction in Spark and oracle SQL.
# --------------------------------------------------------------------------

_ORACLE_DOCS_WITH_EXACT_DUPS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

_ORACLE_DOCS_WITH_CASE_DUPS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 7 = 0
"""

_ORACLE_DOCS_WITH_NEAR_DUPS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         regexp_replace(text, ' [a-z0-9]+$', '') AS text
  FROM documents WHERE doc_id % 5 = 0
"""


def docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO fan_out here: dedup_exact's per-row work is one hash — the
    # repartition shuffle costs more than the parallelism buys (measured:
    # 0.51 s -> 1.06 s at sf0.1 when fan_out was applied unconditionally,
    # VERDICT r2 #7).  The tokenize/regex-heavy corpus builders below DO
    # fan out.
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def docs_with_case_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    dups = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    return d.unionByName(dups)


def docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicates: copy with the last token dropped (high Jaccard)."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    dups = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.regexp_replace("text", " [a-z0-9]+$", "").alias("text"),
    )
    return d.unionByName(dups)


# --------------------------------------------------------------------------
# L1 — exact dedup
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_EXACT_DUPS})
SELECT
  {oracle_md5_int64("text")} AS content_hash,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*)    AS n_copies
FROM corpus
GROUP BY 1
""",
    doc="Exact dedup by content hash: keep min doc_id per content "
    "(SURVEY.md §2.10 L1). Shuffle carries (hash, id) only.",
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs_with_exact_dups(spark, sf_dir)
    # Group on the 60-bit content hash, not the text itself: at 100 TB the
    # shuffle rows are (8B hash, 8B id) instead of whole documents.
    return (
        corpus.select(md5_int64(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_normalized",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_CASE_DUPS})
SELECT
  {oracle_md5_int64("trim(lower(regexp_replace(text, '[ ]+', ' ', 'g')))")} AS norm_hash,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*)    AS n_copies
FROM corpus
GROUP BY 1
HAVING COUNT(*) > 1
""",
    doc="Normalization-aware dedup (case folding + whitespace collapse) — "
    "catches duplicates exact hashing misses (L1 variant).",
    tags=("llm", "dedup"),
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs_with_case_dups(spark, sf_dir)
    norm = F.trim(F.lower(F.regexp_replace("text", "[ ]+", " ")))
    return (
        corpus.select(md5_int64(norm).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


# --------------------------------------------------------------------------
# L2 — near-duplicate detection
# --------------------------------------------------------------------------

# 0.8 is the conventional near-dup bar; it also keeps candidate-pair
# output volume sane on dense corpora (0.6 matched 343k random pairs at
# sf0.1 — output size, not compute, was the cost).  Synthesized variants
# sit at Jaccard ~(n-1)/n >= 0.9, so recall stays 100%.
_JACCARD_THRESHOLD = 0.8


def _token_sets(corpus: DataFrame) -> DataFrame:
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
            lambda x: F.length(x) > 0,
        )
    )
    return corpus.select("doc_id", "text", toks.alias("tok_set"))


def _token_hash_sets(corpus: DataFrame) -> DataFrame:
    """Distinct token sets as int64 xxhash64 arrays.

    Jaccard over hashed tokens equals Jaccard over the tokens themselves
    (64-bit collisions are negligible at document scale), and integer
    array_intersect is far cheaper than string comparisons — this is what
    makes the pairwise verify stage viable at scale.
    """
    ts = _token_sets(corpus)
    return ts.select(
        "doc_id",
        "text",
        F.array_distinct(
            F.transform("tok_set", lambda x: F.xxhash64(x))
        ).alias("tok_set"),
    )


def _pair_structs(ids):
    """All i<j pairs from a sorted id array, as structs (id_a, id_b) —
    join-free pair generation shared by the blocked-Jaccard and LSH
    paths (see dedup_minhash_lsh docstring for why this beats a
    self-join)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


@register(
    "neardup_jaccard_blocked",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
toksets AS (
  SELECT
    doc_id,
    regexp_extract(text, '^[a-z0-9]+') AS block,
    list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set
  FROM corpus
)
SELECT
  a.doc_id AS id_a,
  b.doc_id AS id_b,
  round(
    CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
    / len(list_distinct(list_concat(a.tok_set, b.tok_set))), 6
  ) AS jaccard
FROM toksets a JOIN toksets b
  ON a.block = b.block AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
      / len(list_distinct(list_concat(a.tok_set, b.tok_set)))
      >= {_JACCARD_THRESHOLD}
""",
    doc="Near-dup detection: block on first token, exact token-set Jaccard "
    "per block (L2, oracle-checkable twin of the MinHash-LSH path).",
    tags=("llm", "dedup", "neardup"),
)
def neardup_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The VERIFY-stage pipeline query: the blocked overlap join +
    # Jaccard computation run live, but the (doc_id, block, tok_set)
    # posting sets are served from the frozen neardup_tok_hash_sets
    # artifact when fresh (the benched number prices the
    # pair VERIFICATION, not tokenization/posting-set construction —
    # that build cost is priced once by the freeze tool, as a
    # production pipeline would).  Downstream consumers (clustering,
    # degree stats, leakage, triangles, estimator gauge) read the
    # materialize-once pair artifact via neardup_pairs_shared.
    return _neardup_jaccard_blocked_frame(spark, sf_dir)


def neardup_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair frame for CONSUMERS: the fingerprint-fresh
    frozen artifact (functions/frozen.py), the materialization a
    production pipeline writes exactly once, else a live rebuild with
    a loud warning; memoized and pinned per (session, fixture,
    freshness token) by ``functions.memo.memo_serve``."""
    from mapreducer_spark.functions.memo import memo_serve

    return memo_serve(spark, sf_dir, neardup_pairs_frozen)


def _neardup_jaccard_blocked_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    overlap = _blocked_pair_overlap(spark, sf_dir)
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        overlap.where(jacc >= _JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


def _blocked_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) for first-token-blocked candidate
    pairs over the near-dup corpus — shared by the Jaccard and
    containment queries.

    Intersections via explode + hash join + count, NOT per-pair
    array_intersect: |A∩B| = number of co-occurring (block, token_hash)
    rows per pair.  The narrow-row join is ~2x faster than shipping
    token arrays through the block self-join and intersecting per pair
    (6.8s vs 13.8s at sf0.1), and it's the formulation that scales —
    shuffle rows are (block, hash, id), never whole documents.
    (A collect_set + in-array i<j expansion — the LSH trick below — was
    measured SLOWER here, 7.9s vs 4.8s: unlike LSH buckets, common
    (block, token) groups are large, and materializing m^2 pair structs
    per group row beats streaming them through a join only when m is
    tiny.)
    """
    # Frozen-or-live (doc_id, block, tok_set) sets; materialize once
    # either way: `sizes` and the two join branches would otherwise each
    # re-scan (and on the live path re-tokenize) the corpus (4.8s vs
    # 6.4s at sf0.1).
    ts = checkpoint_inspected(
        neardup_tok_hash_sets_frozen(spark, sf_dir), "blocked_pair_overlap.ts"
    )
    sizes = ts.select("doc_id", F.size("tok_set").alias("sz"))
    tok_rows = ts.select("doc_id", "block", F.explode("tok_set").alias("h"))
    a = tok_rows.alias("a")
    b = tok_rows.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


# Incremental dedup: which docs count as "today's delta" in the test
# fixture.  mod-7 cuts ~14% of the corpus as new — enough that new-new,
# new-old and (skipped) old-old pairs all occur at gate scale.
_INC_NEW_MOD = 7
_INC_NEW_RES = 3


@register(
    "incremental_neardup_pairs",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
toksets AS (
  SELECT doc_id,
         regexp_extract(text, '^[a-z0-9]+') AS block,
         list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set,
         (doc_id % {_INC_NEW_MOD} = {_INC_NEW_RES}) AS is_new
  FROM corpus
)
SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
       GREATEST(a.doc_id, b.doc_id) AS id_b,
       round(
         CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
         / len(list_distinct(list_concat(a.tok_set, b.tok_set))), 6
       ) AS jaccard,
       CASE WHEN b.is_new THEN 'new_new' ELSE 'new_old' END AS pair_type
FROM toksets a JOIN toksets b
  ON a.block = b.block AND a.doc_id <> b.doc_id
 AND a.is_new AND (NOT b.is_new OR b.doc_id > a.doc_id)
WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
      / len(list_distinct(list_concat(a.tok_set, b.tok_set)))
      >= {_JACCARD_THRESHOLD}
""",
    doc="Incremental near-dup dedup — the daily-delta shape (L2): with "
    f"docs at doc_id % {_INC_NEW_MOD} == {_INC_NEW_RES} playing today's "
    "ingest, emit every near-dup pair touching a NEW doc (new-new once, "
    "new-old once) and never compute an old-old pair.  The new slice's "
    "(block, token) postings join against the FULL posting index, so "
    "cost is |new| x posting depth, not |corpus|^2 — at 100 TB the "
    "index is the bucketed posting table the full pass already built, "
    "and each day's job touches only the delta.  Completeness is "
    "pinned by a test proving incremental == full-recompute restricted "
    "to pairs touching new docs.",
    tags=("llm", "dedup", "neardup", "incremental"),
)
def incremental_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The frozen posting-table artifact is exactly the "index the full
    # pass already built" this query's incremental contract describes;
    # is_new is derived after the read.  Materialize once (same
    # rationale as _blocked_pair_overlap): sizes + both join branches
    # would re-scan (live path: re-tokenize) the corpus.
    ts = checkpoint_inspected(
        neardup_tok_hash_sets_frozen(spark, sf_dir).select(
            "doc_id",
            "block",
            "tok_set",
            (F.col("doc_id") % _INC_NEW_MOD == _INC_NEW_RES).alias("is_new"),
        ),
        "incremental_neardup_pairs.ts",
    )
    sizes = ts.select("doc_id", F.size("tok_set").alias("sz"))
    tok_rows = ts.select(
        "doc_id", "is_new", "block", F.explode("tok_set").alias("h")
    )
    n = tok_rows.where("is_new").alias("n")
    b = tok_rows.alias("b")
    # New-side postings against the full posting table.  Each qualifying
    # pair is produced exactly once: new-old pairs only from the new
    # side; new-new pairs only in (smaller id -> larger id) orientation.
    inter = (
        n.join(
            b,
            (F.col("n.block") == F.col("b.block"))
            & (F.col("n.h") == F.col("b.h"))
            & (F.col("n.doc_id") != F.col("b.doc_id"))
            & (
                (~F.col("b.is_new"))
                | (F.col("b.doc_id") > F.col("n.doc_id"))
            ),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("other_id"),
            F.col("b.is_new").alias("other_new"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_id"), F.col("sz").alias("sz_a"))
    sb = sizes.select(
        F.col("doc_id").alias("other_id"), F.col("sz").alias("sz_b")
    )
    jacc = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "new_id")
        .join(sb, "other_id")
        .where(jacc >= _JACCARD_THRESHOLD)
        .select(
            F.least("new_id", "other_id").alias("id_a"),
            F.greatest("new_id", "other_id").alias("id_b"),
            F.round(jacc, 6).alias("jaccard"),
            F.when(F.col("other_new"), "new_new")
            .otherwise("new_old")
            .alias("pair_type"),
        )
    )


_CONTAINMENT_THRESHOLD = 0.9

_ORACLE_BLOCKED_PAIRS_CTES = f"""corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
toksets AS (
  SELECT
    doc_id,
    regexp_extract(text, '^[a-z0-9]+') AS block,
    list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set
  FROM corpus
),
overlap AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.tok_set, b.tok_set)) AS inter,
         len(a.tok_set) AS sz_a, len(b.tok_set) AS sz_b
  FROM toksets a JOIN toksets b
    ON a.block = b.block AND a.doc_id < b.doc_id
)"""


@register(
    "doc_containment",
    oracle=f"""
WITH {_ORACLE_BLOCKED_PAIRS_CTES}
SELECT contained_id, container_id, containment FROM (
  SELECT id_a AS contained_id, id_b AS container_id,
         round(CAST(inter AS DOUBLE) / NULLIF(sz_a, 0), 6) AS containment
  FROM overlap
  UNION ALL
  SELECT id_b, id_a,
         round(CAST(inter AS DOUBLE) / NULLIF(sz_b, 0), 6)
  FROM overlap
)
WHERE containment >= {_CONTAINMENT_THRESHOLD}
""",
    doc="Asymmetric CONTAINMENT dedup (L2 family): C(A in B) = "
    "|A∩B| / |A| — catches documents fully embedded in a larger one "
    "(quotes, concatenated crawls, boilerplate wrappers), which "
    "symmetric Jaccard misses when sizes differ a lot.  Reuses the "
    "blocked narrow-row overlap relation; both directions of each "
    "candidate pair are tested, so a near-equal pair emits two rows. "
    "The standard complement to Jaccard in training-data dedup "
    "(suffix-array/containment passes in public corpus pipelines).",
    tags=("llm", "dedup", "neardup"),
)
def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both directions of each pair emitted in ONE pass over the overlap
    # relation (explode of a 2-struct array), instead of a union whose
    # branches each scan the pipeline — no materialization needed at all.
    overlap = _blocked_pair_overlap(spark, sf_dir)
    dirs = overlap.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.round(F.try_divide(F.col("inter"), F.col("sz_a")), 6).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    F.round(F.try_divide(F.col("inter"), F.col("sz_b")), 6).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("d")
    ).select("d.contained_id", "d.container_id", "d.containment")
    return dirs.where(F.col("containment") >= _CONTAINMENT_THRESHOLD)


# MinHash-LSH: the 100 TB path.  xxhash64 (JVM, no Python) -> k affine
# permutations -> banded buckets -> candidate pairs -> exact-Jaccard
# verification on candidates only.  Not SQL-expressible (xxhash64) ->
# rows-only check; the blocked-Jaccard twin above hash-checks the same
# verification math.
_MINHASH_K = 16
_MINHASH_BANDS = 4  # 4 bands x 4 rows
# Mersenne prime 2^31-1: xxhash64 is first reduced mod P so the affine
# permutation (a*h + b) stays far below int64 overflow — Spark 4 runs
# ANSI mode, where a silent long overflow is a hard error.
_MINHASH_P = (1 << 31) - 1
# Fixed odd multipliers / offsets (any fixed constants work; these are
# the first 16 odd primes-ish offsets, pinned for determinism).
_MINHASH_A = [2 * i + 1 for i in range(1, _MINHASH_K + 1)]
_MINHASH_B = [7919 * (i + 1) for i in range(_MINHASH_K)]
# Buckets larger than this switch from full i<j pair expansion (O(m^2))
# to a star over the bucket's min id (O(m)) — the mega-bucket skew
# guard.  64 members = at most 2016 pairs per bucket task.
_LSH_MAX_BUCKET = 64


def shingle_col(t, width: int = 3):
    """Array of width-token shingles from a MATERIALIZED token-array
    column ``t`` (must be a column reference, not an expression — see
    minhash_signatures docstring on Catalyst lambda recomputation)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (width - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(t, F.least(i + off, F.size(t))) for off in range(width)],
        ),
    )


def minhash_signatures(
    corpus: DataFrame, shingle_width: int = 3, use_md5: bool = False
) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) MinHash signature over token shingles.

    Fully map-side: shingle -> xxhash64 array -> k x array_min of affine
    permutations, all inside whole-stage codegen.  NO shuffle at all —
    the naive explode/groupBy formulation shuffles |docs| x |shingles|
    rows; min() is insensitive to duplicate shingles and commutes with
    per-document computation, so nothing needs to leave the row.

    Each intermediate array is MATERIALIZED as a column before reuse:
    referencing an expression inside a lambda makes Catalyst recompute it
    per element (re-tokenizing once per shingle turned this into
    O(tokens^2) per doc — 28s vs 2s at sf0.1).
    """
    toks = F.filter(
        F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE), lambda x: F.length(x) > 0
    )
    # Zero-token docs (symbol-only text) must be dropped BEFORE shingling:
    # shingle_col's element_at(toks, least(1, 0)) would raise
    # INVALID_INDEX_OF_ZERO under ANSI mode and abort the whole job on one
    # degenerate row.  A doc with no tokens has no signature and can never
    # be a near-duplicate, so excluding it is the correct semantics (the
    # MLlib twin applies the same size(toks) > 0 guard).
    with_toks = corpus.select("doc_id", toks.alias("toks")).where(
        F.size("toks") > 0
    )
    shingles = shingle_col(F.col("toks"), shingle_width)
    # use_md5 swaps the shingle hash for the cross-engine md5_int64 so
    # the WHOLE pipeline becomes DuckDB-expressible (hash-checked twin);
    # the production default stays xxhash64 (much cheaper per shingle).
    shash = md5_int64 if use_md5 else F.xxhash64
    hashed = with_toks.select(
        "doc_id",
        F.transform(shingles, lambda s: F.pmod(shash(s), F.lit(_MINHASH_P))).alias(
            "hs"
        ),
    )
    mins = [
        F.array_min(
            F.transform(
                "hs",
                lambda h: F.pmod(
                    h * F.lit(_MINHASH_A[i]) + F.lit(_MINHASH_B[i]), F.lit(_MINHASH_P)
                ),
            )
        ).alias(f"mh{i}")
        for i in range(_MINHASH_K)
    ]
    return hashed.select("doc_id", *mins)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 has no DuckDB twin -> rows-only check
    doc="MinHash+LSH near-dup pairs (L2 scale path): shingle -> 16-perm "
    "minhash -> 4 banded buckets -> candidate pairs -> exact-Jaccard "
    "verify on candidates only. Deterministic (fixed hash constants).",
    tags=("llm", "dedup", "neardup", "rows-only"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(docs_with_near_dups(spark, sf_dir))


def _lsh_md5_sig_ctes() -> str:
    """CTE chain of the DuckDB MinHash twin through ``sig(doc_id,
    mh0..mh15)`` — shared by the full LSH twin below and the
    candidate-cost curve (which re-bands the same signatures under
    several (bands, rows) configs)."""
    mins = ",\n    ".join(
        f"list_min(list_transform(hv, h -> (h * {_MINHASH_A[i]} + {_MINHASH_B[i]})"
        f" % {_MINHASH_P})) AS mh{i}"
        for i in range(_MINHASH_K)
    )
    return f"""corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
tok AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS toks FROM corpus
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
sh AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(n - 2, 1) + 1),
           i -> concat_ws(' ', toks[least(i, n)],
                          toks[least(i + 1, n)], toks[least(i + 2, n)])
         ) AS shingles
  FROM nz
),
hs AS (
  SELECT doc_id,
         list_transform(shingles, s -> {oracle_md5_int64("s")} % {_MINHASH_P}) AS hv
  FROM sh
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs
)"""


def _lsh_md5_oracle_ctes() -> str:
    """CTE chain of the DuckDB MinHash+LSH twin, ending in
    ``cand(id_a, id_b)`` (the pre-verify candidate pairs) and
    ``tsets(doc_id, tok_set)`` — shared by the verified-pairs twin and
    the candidate-recall gauge."""
    rows_per_band = _MINHASH_K // _MINHASH_BANDS
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {j} AS band, {h} AS bucket FROM sig".format(
            j=j,
            h=oracle_md5_int64(
                "concat_ws('|', "
                + ", ".join(
                    f"mh{j * rows_per_band + r}" for r in range(rows_per_band)
                )
                + ")"
            ),
        )
        for j in range(_MINHASH_BANDS)
    )
    return f"""{_lsh_md5_sig_ctes()},
b AS (
    {bands}
),
mem AS (
  SELECT doc_id, band, bucket,
         ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY band, bucket) AS m,
         MIN(doc_id) OVER (PARTITION BY band, bucket) AS hub
  FROM b
),
memc AS (
  SELECT *, CAST((rn - 1) // {_LSH_MAX_BUCKET} AS INT) AS chunk
  FROM mem WHERE m > 1
),
intra AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM memc a JOIN memc b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.chunk = b2.chunk
   AND a.doc_id < b2.doc_id
),
links AS (
  SELECT hub AS id_a, MIN(doc_id) AS id_b
  FROM memc WHERE chunk > 0
  GROUP BY band, bucket, hub, chunk
),
cand AS (
  SELECT DISTINCT id_a, id_b
  FROM (SELECT * FROM intra UNION ALL SELECT * FROM links)
  WHERE id_a <> id_b
),
tsets AS (
  SELECT doc_id, list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set
  FROM corpus
)"""


def _lsh_md5_oracle_sql() -> str:
    """DuckDB twin of the ENTIRE MinHash+LSH pipeline — shingling, 16
    affine permutations over the md5_int64 shingle hash, 4-band
    bucketing, chunked mega-bucket pair expansion (row_number chunks of
    _LSH_MAX_BUCKET + hub links, mirroring minhash_lsh_pairs), and
    the exact-Jaccard verify.  Only expressible because use_md5 swaps
    xxhash64 (no DuckDB twin) for the shared md5-based hash."""
    return f"""
WITH {_lsh_md5_oracle_ctes()}
SELECT id_a, id_b,
       round(CAST(len(list_intersect(ta.tok_set, tb.tok_set)) AS DOUBLE)
             / (len(ta.tok_set) + len(tb.tok_set)
                - len(list_intersect(ta.tok_set, tb.tok_set))), 6) AS jaccard
FROM cand
JOIN tsets ta ON cand.id_a = ta.doc_id
JOIN tsets tb ON cand.id_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.tok_set, tb.tok_set)) AS DOUBLE)
      / (len(ta.tok_set) + len(tb.tok_set)
         - len(list_intersect(ta.tok_set, tb.tok_set))) >= {_JACCARD_THRESHOLD}
"""


@register(
    "dedup_minhash_lsh_md5",
    oracle=_lsh_md5_oracle_sql(),
    doc="Hash-checked twin of dedup_minhash_lsh: the IDENTICAL pipeline "
    "(shingle -> 16-perm minhash -> 4 banded buckets -> chunk-guarded "
    "pair expansion -> exact-Jaccard verify) with both hash points "
    "swapped from xxhash64 to the cross-engine md5_int64, which makes "
    "every stage DuckDB-expressible — the oracle replays shingling, "
    "permutations, banding, chunking, and verify end to end.  "
    "Production dedup keeps the xxhash64 variant (~2x cheaper "
    "hashing); this twin pins the LSH MATH itself to a green "
    "correctness signal (VERDICT r3 #1/#2 pattern).",
    tags=("llm", "dedup", "neardup"),
)
def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(docs_with_near_dups(spark, sf_dir), use_md5=True)


def minhash_lsh_pairs(
    corpus: DataFrame,
    use_md5: bool = False,
    candidates: DataFrame | None = None,
    tok_sets: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs over any (doc_id, text) corpus — the
    dedup_minhash_lsh pipeline factored for reuse and for the
    mega-bucket guard test.  ``use_md5`` swaps both hash points
    (shingle hash, band-bucket hash) for the cross-engine md5_int64,
    which makes the output DuckDB-reproducible at ~2x the hashing cost
    — the hash-checked twin; production keeps xxhash64.  Pass an
    already-materialized ``candidates`` frame to skip rebuilding the
    banded stage (minhash_lsh_recall verifies the same candidates it
    gauges), and/or a (doc_id, tok_set) ``tok_sets`` frame (e.g. the
    frozen posting artifact) to skip re-tokenizing for the verify."""
    if candidates is None:
        candidates = minhash_lsh_candidates(corpus, use_md5=use_md5)

    # Materialized once: joined twice below (id_a and id_b branches would
    # otherwise each re-tokenize the corpus).
    if tok_sets is None:
        tok_sets = _token_hash_sets(corpus).select("doc_id", "tok_set")
    ts = checkpoint_inspected(
        tok_sets.select("doc_id", "tok_set"), "minhash_lsh_pairs.ts"
    )
    with_sets = candidates.join(
        ts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("tok_set", "set_a"),
        "id_a",
    ).join(
        ts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("tok_set", "set_b"),
        "id_b",
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    jacc = inter.cast("double") / union
    return (
        with_sets.where(jacc >= _JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


def minhash_lsh_candidates(corpus: DataFrame, use_md5: bool = False) -> DataFrame:
    """The PRE-VERIFY candidate pairs (id_a < id_b) the banded buckets
    propose — the stage whose recall the LSH parameters (k, bands,
    chunk guard) actually control; minhash_lsh_recall gauges it."""
    sigs = minhash_signatures(corpus, use_md5=use_md5)
    rows_per_band = _MINHASH_K // _MINHASH_BANDS

    def band_hash(cols):
        if use_md5:
            return md5_int64(F.concat_ws("|", *cols))
        return F.xxhash64(*cols)

    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            band_hash(
                [f"mh{j * rows_per_band + r}" for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for j in range(_MINHASH_BANDS)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")

    # Pair generation WITHOUT a self-join: group each bucket's members
    # into a sorted array and expand i<j pairs in-array.  A self-join
    # would evaluate the (map-side but nontrivial) signature pipeline
    # twice — once per branch — and shuffle both; this computes it once
    # and shuffles only (band, bucket, ids).
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # Mega-bucket skew guard (VERDICT r2 #2, restructured in r4): LSH
    # keeps buckets small by construction, but boilerplate corpora
    # produce pathological buckets (thousands of near-identical docs
    # sharing one band hash) where the i<j expansion is O(m^2) on a
    # single task.  Strategy: split each bucket's sorted ids into
    # <=_LSH_MAX_BUCKET-member CHUNKS; full i<j expansion within each
    # chunk (<=2016 pairs), plus one link pair (bucket hub = ids[0],
    # chunk[0]) per extra chunk so connected components still span the
    # whole bucket.  Total pairs are O(m), and — unlike the r3
    # star-over-hub guard — a mega-bucket holding several DISTINCT
    # duplicate groups keeps intra-chunk Jaccard evidence (sorted ids
    # co-locate the synthetic near-dup partners; generally a strict
    # recall superset of the star).  One uniform code path for small and
    # huge buckets also avoids the r3 when(full, star) dual array
    # expression, which benched +0.3-0.5 s at sf0.1 (two live
    # interpreted HOF trees per bucket row).
    chunks = grouped.select(
        F.element_at("ids", 1).alias("hub"),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("ids") - 1) / _LSH_MAX_BUCKET).cast("int"),
                ),
                lambda i: F.slice(
                    "ids", i * _LSH_MAX_BUCKET + 1, _LSH_MAX_BUCKET
                ),
            )
        ).alias("chunk_ids"),
    )
    # The link pair is emitted unconditionally; for chunk 0 it degenerates
    # to (hub, hub) and the != filter drops it — ONE expression tree for
    # every row instead of a conditional pair of them.
    link_pair = F.struct(
        F.col("hub").alias("id_a"), F.element_at("chunk_ids", 1).alias("id_b")
    )
    pairs = F.concat(_pair_structs(F.col("chunk_ids")), F.array(link_pair))
    return (
        chunks.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Frozen derived frames (VERDICT r11 #1) — the LSH signature/candidate
# frames and the near-dup pair graph are materialize-once artifacts: a
# production dedup pipeline computes them in ONE corpus pass and every
# downstream gauge/analysis reads the materialization.  Serving follows
# the frozen-ANN-index lifecycle (functions/frozen.py): fingerprint-
# fresh parquet artifact, else live build with a loud staleness warning.
# Every consumer's oracle still recomputes these frames from the RAW
# documents table in SQL, so a drifted artifact FAILS the hash gate —
# freezing changes where the bytes come from, never what is verified.
# The LSH PIPELINE queries (dedup_minhash_lsh, dedup_minhash_lsh_md5)
# keep computing live end-to-end: they ARE the materialization step
# whose cost the bench should price.  neardup_jaccard_blocked computes
# its VERIFY stage (overlap join + Jaccard) live but serves the frozen
# posting sets — see its registration comment (ADVICE r12).
# --------------------------------------------------------------------------


@frozen_spec("lsh_sigs_md5", sources=("documents",))
def lsh_sigs_md5_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh15) md5-variant MinHash signatures over the
    near-dup corpus — shared by minhash_estimator_error and
    lsh_candidate_cost_curve."""
    return minhash_signatures(docs_with_near_dups(spark, sf_dir), use_md5=True)


@frozen_spec("lsh_cand_md5", sources=("documents",))
def lsh_cand_md5_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) pre-verify banded candidate pairs (md5 variant) —
    the frame minhash_lsh_recall gauges and verifies."""
    return minhash_lsh_candidates(
        docs_with_near_dups(spark, sf_dir), use_md5=True
    )


@frozen_spec("neardup_tok_hash_sets", sources=("documents",))
def neardup_tok_hash_sets_frozen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, block, tok_set) hashed distinct-token sets over the
    near-dup corpus — the verify-stage input shared by the blocked
    Jaccard/containment path, the incremental delta join, and the LSH
    verification."""
    return _token_hash_sets(docs_with_near_dups(spark, sf_dir)).select(
        "doc_id",
        F.regexp_extract(F.col("text"), "^[a-z0-9]+", 0).alias("block"),
        "tok_set",
    )


@frozen_spec("neardup_pairs", sources=("documents",))
def neardup_pairs_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard) verified blocked-Jaccard near-dup pairs —
    the edge list of the near-dup graph that the clustering/keep-best/
    degree/leakage family consumes."""
    return _neardup_jaccard_blocked_frame(spark, sf_dir)


# --------------------------------------------------------------------------
# SimHash fingerprints (L2 family)
# --------------------------------------------------------------------------

# 32 bits: wide enough that random pairs sit at Hamming ~16 and the
# radius-3 Hamming ball is selective (at 16 bits ~21% of all fixture
# pairs survived radius 3 — a fingerprint-width artifact, not a corpus
# property); production widens to 64 bits on xxhash64.
_SIMHASH_BITS = 32

# Shared oracle CTE chain ending in fps(doc_id, simhash) — used by the
# fingerprint query and the banded Hamming-pair query.
_SIMHASH_FPS_CTES = f"""corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
tok AS (
  SELECT doc_id, tok, COUNT(*) AS w,
         {oracle_md5_int64("tok")} AS h
  FROM (
    SELECT doc_id,
           {ORACLE_TOKENS_SNIPPET} AS tok
    FROM corpus
  )
  WHERE length(tok) > 0
  GROUP BY doc_id, tok
),
fps AS (
  SELECT doc_id,
    {" + ".join(f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN w ELSE -w END) > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))}
    AS simhash
  FROM tok
  GROUP BY doc_id
)"""


@register(
    "simhash_fingerprints",
    oracle=f"WITH {_SIMHASH_FPS_CTES}\nSELECT doc_id, simhash FROM fps",
    doc=f"{_SIMHASH_BITS}-bit SimHash document fingerprint over weighted "
    "token hashes (L2; cross-engine md5_int64 hash; production would "
    "widen to 64 bits on xxhash64).",
    tags=("llm", "dedup", "fingerprint"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Memoized per (session, fixture): the fingerprint frame (|docs|
    # rows) is shared with simhash_hamming_pairs — the second consumer
    # gets the materialized frame instead of re-running the 32-bit-sum
    # aggregation.
    from mapreducer_spark.functions.memo import session_memo

    return session_memo(
        spark,
        ("simhash_fps", sf_dir),
        lambda: _simhash_fingerprints_frame(spark, sf_dir),
    )


def _simhash_fingerprints_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs_with_near_dups(spark, sf_dir)
    # Per-OCCURRENCE +/-1 contributions, not per-distinct-token +/-w
    # (optimization r13, guide §2.4): the former groupBy(doc_id, tok)
    # pre-count added a full shuffle + aggregation only to weight each
    # distinct token by its frequency — but sum over occurrences of
    # +/-1 IS sum over distinct tokens of +/-w (the same multiset,
    # commutative addition), so the weighted-simhash integers are
    # bit-identical with one exchange fewer.
    tok = (
        corpus.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE)).alias("tok"),
        )
        .where(F.length("tok") > 0)
        .select(
            "doc_id",
            F.lit(1).cast("long").alias("w"),
            md5_int64(F.col("tok")).alias("h"),
        )
    )
    bit_terms = []
    for j in range(_SIMHASH_BITS):
        bit_on = F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1
        contrib = F.sum(F.when(bit_on, F.col("w")).otherwise(-F.col("w")))
        bit_terms.append(F.when(contrib > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    simhash = bit_terms[0]
    for t in bit_terms[1:]:
        simhash = simhash + t
    return tok.groupBy("doc_id").agg(simhash.alias("simhash"))


_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1
# Pigeonhole guarantee: any pair within Hamming distance bands-1 shares
# at least one unchanged band, so banded blocking has 100% recall at
# this radius (Manku et al., WWW'07).
_HAMMING_MAX = _SIMHASH_BANDS - 1


@register(
    "simhash_hamming_pairs",
    oracle=f"""
WITH {_SIMHASH_FPS_CTES},
bands AS (
  SELECT doc_id, simhash, j AS band_idx,
         (simhash >> ({_SIMHASH_BAND_BITS} * j)) & {_SIMHASH_BAND_MASK}
           AS band_val
  FROM fps, LATERAL unnest(generate_series(0, {_SIMHASH_BANDS - 1})) u(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {_HAMMING_MAX}
""",
    doc=f"SimHash near-dup PAIRS via banded Hamming blocking (Manku et "
    f"al. WWW'07, the Google web-dedup shape): the {_SIMHASH_BITS}-bit "
    f"fingerprint splits into {_SIMHASH_BANDS} bands of "
    f"{_SIMHASH_BAND_BITS} bits; candidates equi-join on (band_idx, "
    f"band_val) — pigeonhole guarantees 100% recall at Hamming <= "
    f"{_HAMMING_MAX} — then verify with bit_count(xor).  Completes the "
    "SimHash path from fingerprints to pairs, mirroring the MinHash "
    "pairs/clusters pipeline.  Scale note: band width scales with "
    "fingerprint width — the production 64-bit/xxhash64 fingerprint "
    "gives 16-bit bands (65k blocking values, scale-safe exactly like "
    "the MinHash band buckets); this fixture-sized 32-bit twin keeps "
    "the identical plan shape and is hash-checked cross-engine.  "
    "Verification is a pure map (one xor+popcount per candidate).",
    tags=("llm", "dedup"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = simhash_fingerprints(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright("simhash", _SIMHASH_BAND_BITS * j)
                .bitwiseAND(F.lit(_SIMHASH_BAND_MASK))
                .alias("band_val"),
            )
            for j in range(_SIMHASH_BANDS)
        ]
    )
    bands = fps.select(
        "doc_id", "simhash", F.explode(band_structs).alias("b")
    ).select(
        "doc_id",
        "simhash",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.where(ham <= _HAMMING_MAX).select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    )


# Shared oracle snippet: the near-dup pair list (id_a < id_b), exactly
# neardup_jaccard_blocked's oracle as a reusable CTE body — graph ops
# (clustering, triangles) build their oracles on top of it.
ORACLE_NEARDUP_PAIRS_SQL = f"""
    WITH corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
    toksets AS (
      SELECT
        doc_id,
        regexp_extract(text, '^[a-z0-9]+') AS block,
        list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set
      FROM corpus
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM toksets a JOIN toksets b
      ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tok_set, b.tok_set)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tok_set, b.tok_set)))
          >= {_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Edit-distance near-dup (string-similarity verify on blocked candidates)
# --------------------------------------------------------------------------

_EDITDIST_MAX = 3


@register(
    "part_name_editdist_pairs",
    oracle=f"""
WITH p AS (
  SELECT p_partkey, p_brand, p_name,
         regexp_extract(p_name, '[a-z0-9]+$') AS block
  FROM part
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.block = b.block
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_EDITDIST_MAX}
""",
    doc="Edit-distance near-duplicate pairs over part names: block on "
    "(brand, last name token) so the quadratic levenshtein verify runs "
    "only within small candidate groups — the fuzzy-matching shape for "
    "entity resolution / catalog dedup.  Both engines implement the "
    "standard unit-cost Levenshtein (verified kitten->sitting = 3), so "
    "the check is exact.  At 100 TB the block key keeps per-task pair "
    "counts bounded exactly like the token-blocked Jaccard path.",
    tags=("llm", "dedup", "string"),
)
def part_name_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.regexp_extract(F.col("p_name"), "[a-z0-9]+$", 0).alias("block"),
    )
    a = p.alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(dist <= _EDITDIST_MAX)
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
    )


# --------------------------------------------------------------------------
# L1/L2 — sub-document (chunk-level) dedup, the CCNet paragraph-dedup shape
# --------------------------------------------------------------------------

_DCHUNK_W = 16  # tokens per non-overlapping chunk ("paragraph" surrogate)


@register(
    "chunk_level_dedup",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
toks AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS t FROM corpus
),
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t), {_DCHUNK_W})) AS s
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id,
         (s - 1) // {_DCHUNK_W} AS chunk_idx,
         list_slice(t, s, least(s + {_DCHUNK_W} - 1, len(t))) AS c
  FROM starts
),
hashed AS (
  SELECT doc_id, chunk_idx, len(c) AS c_len,
         {oracle_md5_int64("array_to_string(c, ' ')")} AS h
  FROM chunks
),
flagged AS (
  SELECT doc_id, c_len,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM hashed
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac,
       CAST(SUM(CASE WHEN rn = 1 THEN c_len ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM flagged
GROUP BY doc_id
""",
    doc="Sub-document dedup at chunk granularity — the CCNet/RefinedWeb "
    "'paragraph dedup' shape restated for the fixture's unstructured "
    "word-soup: tokenize, cut into non-overlapping 16-token chunks, hash "
    "each chunk (cross-engine md5_int64), keep only the FIRST occurrence "
    "corpus-wide (ordered by doc_id, chunk_idx), and report per-doc "
    "duplication: chunk count, duplicated-chunk count/fraction, and the "
    "token count that survives chunk-level dedup.  Scale shape: explode "
    "to chunk rows (narrow: hash + ids + len), ONE shuffle keyed by "
    "chunk hash for the first-occurrence window, then a per-doc agg — "
    "shuffle volume is O(total chunks), never pairwise, and the hash key "
    "is near-uniform so no skew.  At 100 TB swap md5_int64 for xxhash64 "
    "exactly like the LSH path.",
    tags=("llm", "dedup", "text"),
)
def chunk_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    corpus = docs_with_near_dups(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE), lambda x: F.length(x) > 0
    )
    d = corpus.select("doc_id", toks.alias("t")).where(F.size("t") > 0)
    starts = d.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_DCHUNK_W))
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        F.floor((F.col("s") - 1) / _DCHUNK_W).alias("chunk_idx"),
        F.slice("t", F.col("s"), _DCHUNK_W).alias("c"),
    )
    hashed = chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("c").alias("c_len"),
        md5_int64(F.concat_ws(" ", "c")).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    flagged = hashed.withColumn("rn", F.row_number().over(w))
    dup = F.when(F.col("rn") > 1, F.lit(1)).otherwise(F.lit(0))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
        F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_frac"
        ),
        F.sum(
            F.when(F.col("rn") == 1, F.col("c_len")).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )


# Content-defined chunking (LBFS/FastCDC idea at token granularity):
# a position i is a chunk boundary when the rolling hash of the last
# _CDC_W tokens ending at i is ≡ 0 (mod _CDC_D) — so boundaries depend
# only on LOCAL content and re-synchronize a few tokens after any
# insertion/deletion, where fixed-width chunking (chunk_level_dedup)
# mis-aligns every chunk downstream of an edit.  Expected chunk length
# = _CDC_D tokens.
_CDC_W = 3
_CDC_D = 8


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, c_text, c_len) content-defined chunks over a
    (doc_id, text) frame.  Scale shape: boundary flags are computed
    map-side on the token array (one md5 per token over a W-token
    window), rows explode NARROW (doc_id, pos, tok, flag), the chunk
    index is one window prefix-sum shuffle on doc_id, and chunks
    assemble with one groupBy — O(tokens) shuffle rows, no pairwise
    stage.  The shift-robustness contract is pinned in
    tests/test_llm_ops.py against fixed-width chunking."""
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE), lambda x: F.length(x) > 0
    )
    d = docs.select("doc_id", toks.alias("t")).where(F.size("t") > 0)
    t = F.col("t")
    # flag_i = 1 when the W-token rolling gram ending at i cuts AFTER i.
    flags = F.transform(
        F.sequence(F.lit(1), F.size(t)),
        lambda i: (
            md5_int64(
                F.concat_ws(
                    " ",
                    F.slice(t, F.greatest(F.lit(1), i - (_CDC_W - 1)), F.least(F.lit(_CDC_W), i)),
                )
            )
            % _CDC_D
            == 0
        ).cast("int"),
    )
    pos = d.select(
        "doc_id", F.posexplode(F.arrays_zip(t, flags.alias("f")))
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        F.col("col.t").alias("tok"),
        F.col("col.f").alias("flag"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos.select(
        "doc_id",
        "i",
        "tok",
        F.coalesce(F.sum("flag").over(w), F.lit(0)).alias("chunk_idx"),
    )
    return chunked.groupBy("doc_id", "chunk_idx").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("c_text"),
        F.count(F.lit(1)).alias("c_len"),
    )


@register(
    "cdc_chunk_dedup",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_NEAR_DUPS}),
toks AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS t FROM corpus
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
  FROM toks WHERE len(t) > 0
),
flagged_pos AS (
  SELECT doc_id, i, t[i] AS tok,
         CASE WHEN {oracle_md5_int64(
             "array_to_string(t[greatest(1, i - " + str(_CDC_W - 1) + "):i], ' ')"
         )} % {_CDC_D} = 0 THEN 1 ELSE 0 END AS flag
  FROM pos
),
chunked AS (
  SELECT doc_id, i, tok,
         COALESCE(SUM(flag) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM flagged_pos
),
chunks AS (
  SELECT doc_id, chunk_idx,
         string_agg(tok, ' ' ORDER BY i) AS c_text,
         COUNT(*) AS c_len
  FROM chunked GROUP BY doc_id, chunk_idx
),
hashed AS (
  SELECT doc_id, chunk_idx, c_len,
         {oracle_md5_int64("c_text")} AS h
  FROM chunks
),
ranked AS (
  SELECT doc_id, c_len,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM hashed
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_frac,
       CAST(SUM(CASE WHEN rn = 1 THEN c_len ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM ranked
GROUP BY doc_id
""",
    doc="Sub-document dedup over CONTENT-DEFINED chunks (LBFS/FastCDC "
    f"at token granularity): cut after any token whose {_CDC_W}-token "
    f"rolling md5 is 0 mod {_CDC_D} (expected chunk ~{_CDC_D} tokens), "
    "hash each chunk, keep the first corpus-wide occurrence, report "
    "per-doc duplication + surviving tokens — same output contract as "
    "chunk_level_dedup, but boundaries move WITH the content, so an "
    "insertion near a doc's head re-synchronizes within ~W tokens "
    "instead of mis-aligning every downstream chunk (asserted against "
    "fixed-width chunking in tests).  Scale shape: map-side flags, "
    "narrow explode, one prefix-sum shuffle per doc, one chunk-hash "
    "shuffle — O(tokens), no pairwise stage.",
    tags=("llm", "dedup", "text"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    chunks = cdc_chunks(docs_with_near_dups(spark, sf_dir))
    hashed = chunks.select(
        "doc_id", "chunk_idx", "c_len", md5_int64(F.col("c_text")).alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    dup = F.when(F.col("rn") > 1, F.lit(1)).otherwise(F.lit(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
        F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_frac"
        ),
        F.sum(
            F.when(F.col("rn") == 1, F.col("c_len")).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# Round 8: exact substring-level dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better") — find maximal repeated
# >= k-token spans ACROSS the corpus.  The paper builds a suffix array;
# the distributed stand-in is a k-token shingle stream with positions:
# a repeated span of length L >= k is exactly a run of L - k + 1
# consecutive duplicated shingles, so grouping shingle hashes and
# merging adjacent duplicated positions per doc (gaps-and-islands)
# recovers every maximal repeated span without any pairwise stage.
#
# Scale shape: shingling + hashing is map-side O(tokens); shuffle 1
# carries narrow (hash, doc_id, pos) rows to count occurrences per
# shingle (window over hash); shuffle 2 re-keys the surviving duplicated
# occurrences by doc_id for the islands window.  Nothing is quadratic
# and nothing holds a whole document's suffix structure in one task.
# The fixture corpus has NATURAL long repeated spans (distinct texts
# sharing 12+-token runs), so no duplicates are synthesized here.
# --------------------------------------------------------------------------

_SUBSTR_K = 12  # minimum span length in tokens (Lee et al. use 50 BPE
# tokens on web-scale docs; fixture docs are 10-99 tokens, so k scales
# down to stay a comparable fraction of a document)

_ORACLE_SUBSTR_SPANS = f"""
WITH toks AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS t FROM documents
),
sh AS (
  SELECT doc_id, i AS pos,
         {oracle_md5_int64(f"array_to_string(list_slice(t, i, i + {_SUBSTR_K} - 1), ' ')")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {_SUBSTR_K} + 1)) AS g(i)
  WHERE len(t) >= {_SUBSTR_K}
),
occ AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY h) AS n_occ
  FROM sh
),
lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
  FROM occ WHERE n_occ > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_pos IS NULL OR pos - prev_pos > {_SUBSTR_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM lagged
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {_SUBSTR_K} - 1 AS span_end,
       MAX(pos) + {_SUBSTR_K} - MIN(pos) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


def _duplicated_shingle_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated >=k-token spans per doc: (doc_id, span_start,
    span_end, span_tokens), token positions 1-based inclusive.

    Session-memoized: three queries consume this frame (spans, doc
    stats, corpus apply) and the result is spans-sized (|repeated
    regions| rows, far below |docs|), so the shingle-hash pipeline runs
    once per session, not once per consumer.
    """
    from mapreducer_spark.functions.memo import session_memo

    return session_memo(
        spark,
        ("substring_dedup_spans", sf_dir),
        lambda: _build_shingle_spans(spark, sf_dir),
    )


def _shingle_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-token shingle stream with positions: (doc_id, pos, h)."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return shingle_occurrences_df(d)


def shingle_occurrences_df(d: DataFrame) -> DataFrame:
    """Shingle stream over any (doc_id, text) frame — shared by the
    batch substring-dedup family and the streaming incremental index
    (streaming/jobs.py::run_substring_dedup_stream)."""
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
            lambda x: F.length(x) > 0,
        ).alias("t"),
    )
    # sequence(1, n) needs n >= 1 to ascend — the size guard is load-bearing
    # (same contract as bigram_topk).  The token array is materialized as a
    # column BEFORE the lambda so Catalyst doesn't re-split per shingle.
    return toks.where(F.size("t") >= _SUBSTR_K).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_SUBSTR_K - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    md5_int64(
                        F.concat_ws(
                            " ", F.slice(F.col("t"), i, F.lit(_SUBSTR_K))
                        )
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))


def _spans_from_dup_occurrences(dup_occ: DataFrame) -> DataFrame:
    """Merge duplicated shingle starts (doc_id, pos) into maximal spans.

    Islands: two shingle starts p < q belong to the same maximal span
    iff q - p <= k (their token ranges overlap or touch).
    """
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    lagged = dup_occ.select("doc_id", "pos").withColumn(
        "prev_pos", F.lag("pos").over(wdoc)
    )
    new_island = F.when(
        F.col("prev_pos").isNull()
        | (F.col("pos") - F.col("prev_pos") > _SUBSTR_K),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = lagged.withColumn("grp", F.sum(new_island).over(wdoc))
    # groupBy (doc_id, grp) re-uses the doc_id hash partitioning from the
    # islands window (ClusteredDistribution satisfied) — no third shuffle.
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (_SUBSTR_K - 1)).alias("span_end"),
            (F.max("pos") + _SUBSTR_K - F.min("pos")).alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


def _build_shingle_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sh = _shingle_occurrences(spark, sf_dir)
    # One shuffle on the shingle hash: occurrence count via an unbounded
    # window (cheaper than groupBy+join-back, which would shuffle occ twice).
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup_occ = sh.withColumn("n_occ", n_occ).where(F.col("n_occ") > 1)
    return _spans_from_dup_occurrences(dup_occ)


@register(
    "substring_dedup_spans",
    oracle=_ORACLE_SUBSTR_SPANS,
    doc="Exact substring-level dedup, span discovery (Lee et al. 2022): "
    f"every maximal repeated span of >= {_SUBSTR_K} tokens across the "
    "corpus, as (doc_id, span_start, span_end, span_tokens) in 1-based "
    "token positions.  Distributed suffix-array stand-in: k-token "
    "shingle hashes with positions -> occurrence count per hash (one "
    "narrow shuffle) -> gaps-and-islands merge of overlapping "
    "duplicated shingle starts per doc (one doc-keyed shuffle).  "
    "O(tokens) end to end, no pairwise stage.",
    tags=("llm", "dedup", "text"),
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _duplicated_shingle_spans(spark, sf_dir)


@register(
    "substring_dedup_doc_stats",
    oracle=f"""
WITH spans AS ({_ORACLE_SUBSTR_SPANS}),
per_doc AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
),
toklen AS (
  SELECT doc_id, CAST(len({ORACLE_TOKEN_LIST_SNIPPET}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT t.doc_id,
       t.n_tokens,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / t.n_tokens, 6)
         AS dup_frac
FROM toklen t LEFT JOIN per_doc p USING (doc_id)
""",
    doc="Per-document substring-dedup decision input: how many of each "
    "doc's tokens sit inside some corpus-repeated >= k-token span "
    "(the quantity Lee et al. remove).  A trainer-side curation gate "
    "drops or trims docs above a dup_frac threshold.  Composes the "
    "span discovery with one doc-keyed agg + a left join back to the "
    "full corpus (docs with no repeated span report 0).",
    tags=("llm", "dedup", "text", "quality"),
)
def substring_dedup_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _duplicated_shingle_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens")
    )
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toklen = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
                lambda x: F.length(x) > 0,
            )
        ).cast("long").alias("n_tokens"),
    )
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return toklen.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        F.round(dup_tokens.cast("double") / F.col("n_tokens"), 6).alias(
            "dup_frac"
        ),
    )


@register(
    "corpus_after_substring_dedup",
    oracle=f"""
WITH spans AS ({_ORACLE_SUBSTR_SPANS}),
sp AS (
  SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS spans
  FROM spans GROUP BY doc_id
),
toks AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS t FROM documents
),
joined AS (
  SELECT t.doc_id, t.t, COALESCE(sp.spans, []) AS spans
  FROM toks t LEFT JOIN sp ON sp.doc_id = t.doc_id
),
kept AS (
  SELECT doc_id, len(t) AS n_tokens,
         list_transform(
           list_filter(generate_series(1, len(t)),
             i -> len(list_filter(spans,
                                  x -> i >= x.s AND i <= x.e)) = 0),
           i -> t[i]) AS kt
  FROM joined
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(kt) AS BIGINT) AS kept_tokens,
       -- a fully-duplicated doc keeps zero tokens: DuckDB renders the
       -- empty list as NULL, Spark's concat_ws as '' — pin ''
       COALESCE(array_to_string(kt, ' '), '') AS kept_text
FROM kept
""",
    doc="Substring-dedup APPLY (Lee et al. 2022's released ExactSubstr "
    "behavior: every repeated >= k-token span is removed from EVERY "
    "occurrence): reconstructs the cleaned corpus — per doc, the "
    "tokens outside all duplicated spans, re-joined as kept_text.  "
    "Completes the family: substring_dedup_spans detects, "
    "_doc_stats quantifies, this transforms.  Scale shape: spans "
    "per doc collapse to a small array (already doc_id-partitioned, "
    "no extra shuffle), one doc-keyed left join back to the token "
    "arrays, and the span-coverage filter is a nested higher-order "
    "expression evaluated map-side — no explode of token positions "
    "into the shuffle.",
    tags=("llm", "dedup", "text"),
)
def corpus_after_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _duplicated_shingle_spans(spark, sf_dir)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("spans")
    )
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
            lambda x: F.length(x) > 0,
        ).alias("t"),
    )
    no_spans = F.array().cast("array<struct<s:long,e:long>>")
    spans_col = F.coalesce(F.col("spans"), no_spans)
    # sequence(1, 0) would descend (Spark quirk); empty docs get an
    # empty position list explicitly.
    positions = F.when(F.size("t") < 1, F.array().cast("array<long>")).otherwise(
        F.sequence(F.lit(1).cast("long"), F.size("t").cast("long"))
    )
    kept_pos = F.filter(
        positions,
        lambda i: ~F.exists(
            spans_col, lambda s: (i >= s["s"]) & (i <= s["e"])
        ),
    )
    kt = F.transform(kept_pos, lambda i: F.element_at("t", i.cast("int")))
    return toks.join(sp, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(kt).cast("long").alias("kept_tokens"),
        F.concat_ws(" ", kt).alias("kept_text"),
    )


_INC_SUB_MOD = 7
_INC_SUB_RES = 3


@register(
    "incremental_substring_spans",
    oracle=f"""
WITH spans AS ({_ORACLE_SUBSTR_SPANS})
SELECT doc_id, span_start, span_end, span_tokens
FROM spans WHERE doc_id % {_INC_SUB_MOD} = {_INC_SUB_RES}
""",
    doc="Incremental (daily-delta) substring dedup: with docs at "
    f"doc_id % {_INC_SUB_MOD} == {_INC_SUB_RES} playing today's ingest, "
    "find every maximal repeated >= k-token span in a NEW doc, without "
    "recomputing old-old structure.  Decomposition: new-side shingles "
    "(map-side over the delta only) probe the FROZEN old-corpus shingle "
    "index for new-vs-old repeats, plus a window count within the delta "
    "for new-vs-new repeats — cost is |delta| x index-probe, never "
    "|corpus| re-shingling, the shape that makes span-level dedup a "
    "feasible daily job at 100 TB.  The ORACLE deliberately computes "
    "the FULL-corpus spans restricted to new docs, so the hash check "
    "proves the incremental decomposition equals a full recompute.",
    tags=("llm", "dedup", "text", "incremental"),
)
def incremental_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sh = _shingle_occurrences(spark, sf_dir)
    is_new = (F.col("doc_id") % _INC_SUB_MOD) == _INC_SUB_RES
    # The frozen artifact: old-corpus shingle index (hash -> count).  In
    # production this is precomputed by the previous full pass; rows are
    # (8B, 8B) and the delta side probing it is small.
    old_idx = (
        sh.where(~is_new)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("old_cnt"))
    )
    new_sh = sh.where(is_new)
    # New-vs-new repeats: occurrence count within the delta only.
    new_cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    marked = new_sh.withColumn("new_cnt", new_cnt).join(
        old_idx, "h", "left"
    )
    dup_occ = marked.where(
        F.col("old_cnt").isNotNull() | (F.col("new_cnt") > 1)
    )
    return _spans_from_dup_occurrences(dup_occ)


@register(
    "minhash_lsh_recall",
    oracle=f"""
WITH {_lsh_md5_oracle_ctes()},
verified AS (
  SELECT id_a, id_b FROM cand
  JOIN tsets ta ON cand.id_a = ta.doc_id
  JOIN tsets tb ON cand.id_b = tb.doc_id
  WHERE CAST(len(list_intersect(ta.tok_set, tb.tok_set)) AS DOUBLE)
        / (len(ta.tok_set) + len(tb.tok_set)
           - len(list_intersect(ta.tok_set, tb.tok_set)))
        >= {_JACCARD_THRESHOLD}
),
planted AS (
  SELECT doc_id AS id_a, doc_id + 3000000 AS id_b
  FROM documents WHERE doc_id % 5 = 0
),
hits AS (
  SELECT id_a, id_b FROM planted
  INTERSECT
  SELECT id_a, id_b FROM cand
)
SELECT
  (SELECT COUNT(*) FROM planted) AS n_planted,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM hits) AS n_hits,
  (SELECT COUNT(*) FROM verified) AS n_verified,
  round(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
        / (SELECT COUNT(*) FROM planted), 6) AS planted_recall,
  round(CAST((SELECT COUNT(*) FROM verified) AS DOUBLE)
        / (SELECT COUNT(*) FROM cand), 6) AS candidate_precision
""",
    doc="LSH operating-point gauge — the dedup analogue of "
    "ann_ivf_kmeans_recall: recall of the banded MinHash candidate "
    "stage against the PLANTED near-dup pairs (each doc_id % 5 == 0 "
    "has a last-token-dropped copy at +3000000 — known ground truth "
    "with near-identical shingle sets, the similarity MinHash actually "
    "approximates), plus candidate precision (the fraction of proposed "
    "pairs surviving exact verification — the wasted-verify-work "
    "meter).  These two numbers are what the LSH parameters (16 perms, "
    "4 bands, chunk guard) trade; a 100 TB deployment runs this on a "
    "sample with synthetic plants before trusting a parameter change.  "
    "Deliberately NOT gauged against the blocked-exact twin: that "
    "truth set is token-SET Jaccard, which saturates on the small-"
    "vocab fixture (most doc pairs share most distinct tokens), so it "
    "measures a different similarity than the shingle-based bands "
    "propose.  Uses the md5 twin so the gauge is oracle-checkable end "
    "to end; a recall floor is asserted in tests.",
    tags=("llm", "dedup", "neardup", "quality"),
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs_with_near_dups(spark, sf_dir)
    # Frozen candidate + posting artifacts (live fallback on staleness):
    # the gauge verifies the SAME materialized candidates a production
    # run would read.  The checkpointed candidate frame feeds BOTH the
    # recall legs and the verification (previously the banded stage ran
    # twice — once directly, once inside minhash_lsh_pairs).
    cand = checkpoint_inspected(
        lsh_cand_md5_frozen(spark, sf_dir), "minhash_lsh_recall.cand"
    )
    verified = minhash_lsh_pairs(
        corpus,
        use_md5=True,
        candidates=cand,
        tok_sets=neardup_tok_hash_sets_frozen(spark, sf_dir),
    ).select("id_a", "id_b")
    d = load_table(spark, sf_dir, "documents")
    planted = d.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 3000000).alias("id_b"),
    )
    hits = planted.join(cand, ["id_a", "id_b"], "left_semi")
    return (
        planted.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(verified.agg(F.count(F.lit(1)).alias("n_verified")))
        .select(
            "n_planted",
            "n_candidates",
            "n_hits",
            "n_verified",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_planted"), 6
            ).alias("planted_recall"),
            F.round(
                F.col("n_verified").cast("double") / F.col("n_candidates"), 6
            ).alias("candidate_precision"),
        )
    )


_SELF_K = 5  # intra-doc span width: degenerate looping text repeats
# SHORT phrases many times, so the self-repetition detector runs at a
# finer granularity than the corpus-level _SUBSTR_K


_ORACLE_DOCS_WITH_LOOPS = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id,
         substr(text, 1, 60) || ' ' || substr(text, 1, 60) || ' '
           || substr(text, 1, 60) AS text
  FROM documents WHERE doc_id % 11 = 0
"""


def docs_with_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized looping docs: the fixture corpus never repeats a
    5-token phrase within one doc, so every doc_id % 11 == 0 gains a
    copy whose text is its first 60 chars repeated 3x — the model-loop
    artifact the detector exists to catch.  Identical construction in
    the oracle, so the detection branch is hash-LIVE, not just the
    all-zeros path."""
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    head = F.substring("text", 1, 60)
    loops = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat_ws(" ", head, head, head).alias("text"),
    )
    return d.unionByName(loops)


@register(
    "intra_doc_repeated_spans",
    oracle=f"""
WITH corpus AS ({_ORACLE_DOCS_WITH_LOOPS}),
toks AS (
  SELECT doc_id, {ORACLE_TOKEN_LIST_SNIPPET} AS t FROM corpus
),
sh AS (
  SELECT doc_id, i AS pos,
         {oracle_md5_int64(f"array_to_string(list_slice(t, i, i + {_SELF_K} - 1), ' ')")} AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {_SELF_K} + 1)) AS g(i)
  WHERE len(t) >= {_SELF_K}
),
occ AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id, h) AS n_occ
  FROM sh
),
lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
  FROM occ WHERE n_occ > 1
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_pos IS NULL OR pos - prev_pos > {_SELF_K}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM lagged
),
spans AS (
  SELECT doc_id,
         MIN(pos) AS span_start,
         MAX(pos) + {_SELF_K} - 1 AS span_end
  FROM isl GROUP BY doc_id, grp
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_self_spans,
       CAST(COALESCE(s.rep_tokens, 0) AS BIGINT) AS self_rep_tokens,
       ROUND(CAST(COALESCE(s.rep_tokens, 0) AS DOUBLE) / len(t.t), 6)
         AS self_rep_frac
FROM toks t
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(span_end - span_start + 1) AS rep_tokens
  FROM spans GROUP BY doc_id
) s ON s.doc_id = t.doc_id
""",
    doc="INTRA-document repetition detector — the generation-artifact "
    f"filter: maximal spans of >= {_SELF_K}-token phrases repeated "
    "WITHIN the same doc (model looping, boilerplate stutter), "
    "reported per doc as span count, covered tokens, and fraction.  "
    "Complements gopher_repetition_rules (bag-level dup-token ratios "
    "can't localize runs) and substring_dedup_spans (corpus-level "
    "cross-doc repeats): the occurrence window partitions by "
    "(doc_id, hash), so nothing ever leaves its document — the whole "
    "pipeline is doc-local after one doc-keyed shuffle, trivially "
    "linear at 100 TB.",
    tags=("llm", "dedup", "text", "quality"),
)
def intra_doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = docs_with_loops(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
            lambda x: F.length(x) > 0,
        ).alias("t"),
    )
    sh = toks.where(F.size("t") >= _SELF_K).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (_SELF_K - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    md5_int64(
                        F.concat_ws(
                            " ", F.slice(F.col("t"), i, F.lit(_SELF_K))
                        )
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("doc_id", "h"))
    dup_occ = sh.withColumn("n_occ", n_occ).where(F.col("n_occ") > 1)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    lagged = dup_occ.select("doc_id", "pos").withColumn(
        "prev_pos", F.lag("pos").over(wdoc)
    )
    new_island = F.when(
        F.col("prev_pos").isNull()
        | (F.col("pos") - F.col("prev_pos") > _SELF_K),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = lagged.withColumn("grp", F.sum(new_island).over(wdoc))
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (_SELF_K - 1)).alias("span_end"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            F.col("span_end") - F.col("span_start") + 1
        ).alias("rep_tokens"),
    )
    rep = F.coalesce(F.col("rep_tokens"), F.lit(0)).cast("long")
    return toks.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias(
            "n_self_spans"
        ),
        rep.alias("self_rep_tokens"),
        F.round(rep.cast("double") / F.size("t"), 6).alias("self_rep_frac"),
    )


@register(
    "dedup_survivorship_by_source",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'mirror' AS source, text
  FROM documents WHERE doc_id % 10 = 0
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY {oracle_md5_int64("text")} ORDER BY doc_id) AS rn
  FROM corpus
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
       round(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS loss_rate
FROM ranked GROUP BY source
""",
    doc="Exact-dedup survivorship by source: after keep-min-doc_id "
    "content dedup, which source loses its docs to earlier copies — "
    "the report that identifies scraper/mirror sources whose content "
    "is wholly derivative (here a synthesized 'mirror' source "
    "republishing every 10th doc loses 100%, pinning the live "
    "branch).  One content-hash window + a source rollup; at 100 TB "
    "this is the attribution readout attached to any dedup run.",
    tags=("llm", "dedup", "quality", "profiling"),
)
def dedup_survivorship_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    mirror = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    corpus = d.unionByName(mirror)
    w = Window.partitionBy(md5_int64(F.col("text"))).orderBy("doc_id")
    ranked = corpus.withColumn("rn", F.row_number().over(w))
    lost = F.when(F.col("rn") > 1, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(lost).cast("long").alias("n_lost"),
        F.round(
            F.sum(lost).cast("double") / F.count(F.lit(1)), 6
        ).alias("loss_rate"),
    )


@register(
    "cross_source_neardup_matrix",
    oracle=f"""
WITH pairs AS ({ORACLE_NEARDUP_PAIRS_SQL})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN da.source <= db.source
                                THEN pairs.id_a ELSE pairs.id_b END)
            AS BIGINT) AS n_docs_a
FROM pairs
JOIN documents da ON da.doc_id = pairs.id_a
JOIN documents db ON db.doc_id = pairs.id_b
GROUP BY 1, 2
ORDER BY n_pairs DESC, source_a, source_b
""",
    doc="Cross-source near-duplicate matrix: the near-dup pair graph "
    "(neardup_jaccard_blocked's memoized pair frame) attributed to "
    "source pairs — WHICH sources copy from which, the mirror-site / "
    "syndication map that decides whether to drop a whole source "
    "rather than dedup it doc-by-doc (the aggregate view behind "
    "dedup_survivorship_by_source's keep/lose accounting; diagonal "
    "entries are within-source duplication, off-diagonal are "
    "mirrors).  Unordered source pairs via least/greatest so the "
    "matrix is upper-triangular.  Determinism: pure counting over "
    "the deterministic pair set.  Scale shape: the pair frame is "
    "orders of magnitude smaller than the corpus; two dimension "
    "joins to attach sources, one aggregation on the ~|sources|^2 "
    "grid.",
    tags=("llm", "dedup", "join"),
)
def cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = neardup_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
    )
    db = d.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
    )
    attributed = pairs.join(da, "id_a").join(
        db, "id_b"
    )
    return (
        attributed.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.when(F.col("sa") <= F.col("sb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_a"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_a").cast("long").alias("n_docs_a"),
        )
        .orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
    )


def _minhash_estimator_oracle_sql() -> str:
    """Signature CTEs (front of the LSH twin chain, through ``sig``)
    joined against the blocked-exact pair set: per planted near-dup
    pair, the 16-perm MinHash Jaccard estimate beside the exact
    Jaccard."""
    front = _lsh_md5_oracle_ctes()
    # Keep only corpus..sig (drop the banding/candidate CTEs the
    # estimator doesn't need: everything from ",\nb AS (" on).
    front = front[: front.index(",\nb AS (")]
    matches = " + ".join(
        f"(CASE WHEN a.mh{i} = b2.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_MINHASH_K)
    )
    return f"""
WITH {front},
tsets AS (
  SELECT doc_id,
         regexp_extract(text, '^[a-z0-9]+') AS block,
         list_distinct({ORACLE_TOKEN_LIST_SNIPPET}) AS tok_set
  FROM corpus
),
pairs0 AS (
  -- jr computed ONCE per blocked pair; the former inline form repeated
  -- the list_intersect/list_concat pair 3x (WHERE + rounded SELECT),
  -- which dominated this oracle's 10x sweep wall (r9).  Filtering on
  -- the UNROUNDED ratio is preserved exactly.
  SELECT pa.doc_id AS id_a, pb.doc_id AS id_b,
         CAST(len(list_intersect(pa.tok_set, pb.tok_set)) AS DOUBLE)
           / len(list_distinct(list_concat(pa.tok_set, pb.tok_set))) AS jr
  FROM tsets pa JOIN tsets pb
    ON pa.block = pb.block AND pa.doc_id < pb.doc_id
),
pairs AS (
  SELECT id_a, id_b, round(jr, 6) AS jaccard
  FROM pairs0 WHERE jr >= {_JACCARD_THRESHOLD}
),
ssets AS (
  SELECT doc_id, list_distinct(shingles) AS sset FROM sh
),
est AS (
  SELECT pairs.jaccard AS token_j,
         round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sset, sb.sset))), 6)
           AS shingle_j,
         CAST(({matches}) AS DOUBLE) / {_MINHASH_K} AS est_j
  FROM pairs
  JOIN sig a ON a.doc_id = pairs.id_a
  JOIN sig b2 ON b2.doc_id = pairs.id_b
  JOIN ssets sa ON sa.doc_id = pairs.id_a
  JOIN ssets sb ON sb.doc_id = pairs.id_b
)
SELECT COUNT(*) AS n_pairs,
       round(CAST(SUM(CAST(round(est_j, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_estimated_j,
       round(CAST(SUM(CAST(shingle_j AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_exact_shingle_j,
       round(CAST(SUM(CAST(round(abs(est_j - shingle_j), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mae_vs_shingle,
       round(CAST(SUM(CAST(round(est_j - shingle_j, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_bias_vs_shingle,
       round(CAST(SUM(CAST(token_j AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_token_j
FROM est
"""


@register(
    "minhash_estimator_error",
    oracle=_minhash_estimator_oracle_sql(),
    doc="MinHash Jaccard-ESTIMATOR quality on the planted near-dup "
    f"pairs: per pair, the {_MINHASH_K}-permutation signature "
    "agreement fraction (the unbiased MinHash estimate, "
    "E[matches/k] = J) beside the exact SHINGLE-set Jaccard — the "
    "quantity MinHash actually estimates; the first cut compared "
    "against TOKEN-set Jaccard and read an absurd 0.79 MAE, which is "
    "not estimator error but the token-vs-shingle similarity gap "
    "minhash_lsh_recall already documented (token sets saturate on "
    "the small-vocab fixture; shingle sets do not) — mean_token_j "
    "stays as a column so the gap itself is visible.  MAE and bias "
    "vs shingle Jaccard are the VALUE-accuracy half of the sketch "
    "story (minhash_lsh_recall measures the RETRIEVAL half; expected "
    f"MAE at k={_MINHASH_K} is ~sqrt(J(1-J)/k)).  "
    "Determinism: signatures are the exact md5-affine pipeline of "
    "the LSH twin; estimates are multiples of 1/k (exactly "
    "representable); per-pair terms round at 6dp into decimal sums.  "
    "Scale shape: signatures map-side per doc, one join against the "
    "pair frame (|pairs| rows, never corpus-squared).",
    tags=("llm", "dedup", "sketch", "approx"),
)
def minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs_with_near_dups(spark, sf_dir)
    sigs = lsh_sigs_md5_frozen(spark, sf_dir)
    pairs = neardup_pairs_shared(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE),
        lambda x: F.length(x) > 0,
    )
    with_toks = corpus.select("doc_id", toks.alias("toks")).where(
        F.size("toks") > 0
    )
    ssets = with_toks.select(
        "doc_id",
        F.array_distinct(shingle_col(F.col("toks"), 3)).alias("sset"),
    )
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_MINHASH_K)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_MINHASH_K)],
    )
    sa = ssets.select(F.col("doc_id").alias("id_a"), F.col("sset").alias("sa"))
    sb = ssets.select(F.col("doc_id").alias("id_b"), F.col("sset").alias("sb"))
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("jaccard").alias("token_j"),
            F.round(inter.cast("double") / union, 6).alias("shingle_j"),
            (matches.cast("double") / _MINHASH_K).alias("est_j"),
        )
    )
    n = F.count(F.lit(1))
    dmean = lambda c: F.round(  # noqa: E731
        F.sum(F.round(c, 6).cast("decimal(18,6)")).cast("double") / n, 6
    )
    return est.agg(
        n.alias("n_pairs"),
        dmean(F.col("est_j")).alias("mean_estimated_j"),
        F.round(
            F.sum(F.col("shingle_j").cast("decimal(18,6)")).cast("double")
            / n,
            6,
        ).alias("mean_exact_shingle_j"),
        dmean(F.abs(F.col("est_j") - F.col("shingle_j"))).alias(
            "mae_vs_shingle"
        ),
        dmean(F.col("est_j") - F.col("shingle_j")).alias(
            "mean_bias_vs_shingle"
        ),
        F.round(
            F.sum(F.col("token_j").cast("decimal(18,6)")).cast("double")
            / n,
            6,
        ).alias("mean_token_j"),
    )


# (bands, rows_per_band) operating points sharing the 16-perm signature
# — the standard S-curve family: more bands = higher recall at lower
# Jaccard, more candidate comparisons.
_LSH_COST_CONFIGS = [(2, 8), (4, 4), (8, 2), (16, 1)]


def _lsh_cost_oracle_sql() -> str:
    legs = []
    for bands, rpb in _LSH_COST_CONFIGS:
        for j in range(bands):
            h = oracle_md5_int64(
                "concat_ws('|', "
                + ", ".join(f"mh{j * rpb + r}" for r in range(rpb))
                + ")"
            )
            legs.append(
                f"SELECT {bands} AS bands, {rpb} AS rpb, doc_id, "
                f"{j} AS band, {h} AS bucket FROM sig"
            )
    return f"""
WITH {_lsh_md5_sig_ctes()},
bb AS (
    {" UNION ALL ".join(legs)}
),
m AS (
  SELECT bands, rpb, band, bucket, CAST(COUNT(*) AS BIGINT) AS m
  FROM bb GROUP BY 1, 2, 3, 4
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sig)
SELECT bands,
       rpb AS rows_per_band,
       CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_buckets,
       CAST(MAX(m) AS BIGINT) AS max_bucket,
       CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS verify_comparisons,
       round(CAST(SUM(m * (m - 1) // 2) AS DOUBLE) / MAX(nd.n_docs), 6)
         AS comparisons_per_doc
FROM m CROSS JOIN nd
GROUP BY bands, rpb
ORDER BY bands
"""


@register(
    "lsh_candidate_cost_curve",
    oracle=_lsh_cost_oracle_sql(),
    doc="LSH operating-point cost planner: the same 16-perm MinHash "
    "signatures re-banded under every (bands, rows-per-band) config "
    "— (2,8) (4,4) (8,2) (16,1) — with each config's bucket-collision "
    "statistics and TOTAL verify workload sum C(m,2), computed from "
    "bucket sizes alone with NO pair expansion (the cost estimate "
    "must be cheaper than the cost being estimated, especially at "
    "100 TB where a 16-band config on boilerplate can propose "
    "billions of comparisons).  Together with minhash_lsh_recall "
    "(the quality side of the same dial) this is the table an ops "
    "team reads before committing a corpus-wide dedup run: more "
    "bands shifts the S-curve left (higher recall at lower Jaccard) "
    "and this says exactly what that costs in candidate "
    "verifications.  Determinism: the hash-checked md5 signature "
    "pipeline; bucket stats are exact integers; C(m,2) via m(m-1) "
    "DIV 2.  Scale shape: ONE map-side signature pass (checkpointed, "
    "reused by all 30 config-bands), explode to 30 bucket keys per "
    "doc, one (config, band, bucket) count aggregation — no pair "
    "materialization anywhere.",
    tags=("llm", "dedup", "neardup", "mining"),
)
def lsh_candidate_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frozen signature artifact (live fallback on staleness): the cost
    # planner re-bands the SAME materialized signatures a production
    # run would read — checkpointed once, reused by all 30 config-bands.
    sigs = checkpoint_inspected(
        lsh_sigs_md5_frozen(spark, sf_dir), "lsh_candidate_cost_curve.sigs"
    )
    band_structs = []
    for bands, rpb in _LSH_COST_CONFIGS:
        for j in range(bands):
            band_structs.append(
                F.struct(
                    F.lit(bands).alias("bands"),
                    F.lit(rpb).alias("rpb"),
                    F.lit(j).alias("band"),
                    md5_int64(
                        F.concat_ws(
                            "|",
                            *[f"mh{j * rpb + r}" for r in range(rpb)],
                        )
                    ).alias("bucket"),
                )
            )
    bb = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("c")
    ).select("doc_id", "c.bands", "c.rpb", "c.band", "c.bucket")
    m = bb.groupBy("bands", "rpb", "band", "bucket").agg(
        F.count(F.lit(1)).alias("m")
    )
    nd = sigs.agg(F.count(F.lit(1)).alias("n_docs"))
    comparisons = F.sum(
        F.shiftright((F.col("m") * (F.col("m") - 1)).cast("long"), 1)
    )
    return (
        m.groupBy("bands", "rpb")
        .agg(
            F.sum(F.when(F.col("m") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_multi_buckets"),
            F.max("m").cast("long").alias("max_bucket"),
            comparisons.cast("long").alias("verify_comparisons"),
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "bands",
            F.col("rpb").alias("rows_per_band"),
            "n_multi_buckets",
            "max_bucket",
            "verify_comparisons",
            F.round(
                F.col("verify_comparisons").cast("double")
                / F.col("n_docs"),
                6,
            ).alias("comparisons_per_doc"),
        )
        .orderBy("bands")
    )
