"""mapreducer_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the Mogby/MapReducer
reference (a C MapReduce word-count framework, see SURVEY.md) as an
idiomatic Spark DataFrame engine, extended with the relational, streaming
and LLM-data-pipeline operators a 100 TB training-data pipeline needs.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
    pyworker.py   Python worker daemon that keeps unchanged zip directories
    registry.py   declarative query registry (Spark fn + DuckDB oracle SQL)
    sources/      table loaders, text-corpus source, key:value text sink
    functions/    shared column expressions (tokenizer, cosine, hashes)
    operators/    one module per operator family from SURVEY.md §2
    streaming/    Structured Streaming wrappers (batch-mode checked)
    plans/        plan-inspection helpers (explain assertions for tests)
"""

__version__ = "0.1.0"
