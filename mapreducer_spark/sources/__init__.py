from mapreducer_spark.sources.tables import (
    TABLES,
    fan_out,
    fan_out_for_python,
    load_table,
    load_tables,
    read_parquet,
)

__all__ = [
    "TABLES",
    "fan_out",
    "fan_out_for_python",
    "load_table",
    "load_tables",
    "read_parquet",
]
