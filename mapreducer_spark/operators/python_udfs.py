"""Python extension-point surface (SURVEY.md §2.8 U1-U3).

The reference's extension points are the two binaries you swap: the
mapper UDTF (reference src/mapper.c:14-42) and the reducer UDAF
(reference src/reducer.c:8-43).  Spark-first equivalents, all
Arrow-batched (never row-at-a-time Python):

- U2 (custom grouped aggregation): ``applyInPandas`` over groups — the
  general form of the reducer contract ("all values for one key reach
  exactly one invocation, grouped", reference src/master_manager.c:36-46).
- U3 (scalar UDF): vectorized ``pandas_udf``.

Both queries intentionally reproduce results that built-ins can also
produce, with the SAME oracle SQL — proving the Python path is
correctness-equivalent, while the module docstring is clear that
built-ins are the preferred hot path at 100 TB.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from mapreducer_spark.functions.text import (
    ORACLE_TOKEN_LIST_SNIPPET,
    ORACLE_TOKENS_SNIPPET,
    PY_TOKEN_SPLIT_RE,
    SPARK_TOKEN_SPLIT_RE,
)
from mapreducer_spark.registry import register
from mapreducer_spark.sources import fan_out, fan_out_for_python, load_table

_ORACLE_WORD_COUNT = f"""
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT {ORACLE_TOKENS_SNIPPET} AS word
  FROM documents
)
WHERE length(word) > 0
GROUP BY word
"""


@register(
    "word_count_udaf",
    oracle=_ORACLE_WORD_COUNT,
    doc="U2: the reducer as a custom grouped UDAF (applyInPandas) — same "
    "oracle as the built-in word_count, proving the Python aggregation "
    "path. Partial map-side combine is preserved by pre-aggregating "
    "per partition before the grouped apply.",
    tags=("ref", "python", "agg"),
)
def word_count_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split(F.lower("text"), SPARK_TOKEN_SPLIT_RE)).alias("word")
    ).where(F.length("word") > 0)

    # Map-side combine first (the reference does the same per file,
    # src/mapper.c:74-88): the grouped-apply then reduces small partials,
    # not raw tokens — at scale this bounds the Python-side data by
    # distinct words x partitions.
    partials = words.groupBy(F.spark_partition_id().alias("pid"), "word").agg(
        F.count(F.lit(1)).alias("partial")
    )

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"word": [pdf["word"].iloc[0]], "cnt": [int(pdf["partial"].sum())]}
        )

    return partials.groupBy("word").applyInPandas(
        reduce_group, schema="word string, cnt long"
    )


@register(
    "token_count_pandas_udf",
    oracle=f"""
SELECT
  doc_id,
  CAST(len({ORACLE_TOKEN_LIST_SNIPPET}) AS BIGINT) AS n_tokens
FROM documents
""",
    doc="U3: vectorized scalar pandas_udf (Arrow-batched) computing token "
    "counts — same oracle as the built-in expression would produce. "
    "Python re lacks \\p{L}, so the UDF uses the [\\W_]+ twin "
    "(functions/text.py PY_TOKEN_SPLIT_RE).",
    tags=("python", "text"),
)
def token_count_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts through a scalar ``pandas_udf``.

    The scan is NOT fanned out to every core: each task a split adds
    costs about 0.12 s CPU, the Python worker's fixed cost per task plus
    its share of the repartition shuffle (see
    ``sources.tables._PY_UDF_TASK_BYTES``), against about 0.14 s of UDF
    body for the whole 0.6 MB of sf0.1 ``documents`` parquet.
    ``fan_out_for_python`` therefore allows one task per ~0.49 MB of
    input: sf0.1's table runs as one task with no shuffle, where a
    plain ``fan_out`` paid a repartition shuffle and one fixed cost per
    core.  Large inputs still fan out to cluster
    parallelism."""
    import re

    # Compiled once per executor; applied per Arrow batch.
    token_re = re.compile(PY_TOKEN_SPLIT_RE)

    @F.pandas_udf(LongType())
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: sum(1 for tok in token_re.split(t.lower()) if tok)
        ).astype("int64")

    d = fan_out_for_python(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", n_tokens("text").alias("n_tokens"))


@register(
    "order_minmax_norm_pandas",
    oracle="""
SELECT
  o_orderkey,
  o_orderpriority,
  round(
    CASE WHEN mx = mn THEN 0.5
         ELSE (o_totalprice - mn) / (mx - mn) END, 6) AS price_norm
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         MIN(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
         MAX(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
  FROM orders
)
""",
    doc="Grouped-map Python path (applyInPandas TRANSFORM, not just "
    "aggregation): per-priority min-max normalization of order prices — "
    "group in, frame out with the same cardinality. Min/max are exact "
    "(no float-order drift), so even the Python path hash-matches the "
    "SQL window formulation. The general escape hatch for per-group "
    "logic Spark expressions can't state; one shuffle on the group key.",
    tags=("python", "grouped-map"),
)
def order_minmax_norm_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def minmax_norm(pdf: pd.DataFrame) -> pd.DataFrame:
        mn = pdf["o_totalprice"].min()
        mx = pdf["o_totalprice"].max()
        if mx == mn:
            norm = pd.Series([0.5] * len(pdf))
        else:
            norm = (pdf["o_totalprice"] - mn) / (mx - mn)
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "price_norm": norm.round(6),
            }
        )

    return o.groupBy("o_orderpriority").applyInPandas(
        minmax_norm,
        schema="o_orderkey long, o_orderpriority string, price_norm double",
    )
