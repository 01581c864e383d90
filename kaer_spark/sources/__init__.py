from kaer_spark.sources.files import (
    read_parquet,
    write_bucketed,
)

__all__ = [
    "read_parquet",
    "write_bucketed",
]
