from .dbf import read_dbf
from .sink import (
    align_to_schema,
    path_exists,
    read_parquet,
    upsert_parquet,
    write_bucketed_table,
    write_jsonl,
    write_parquet,
)
from .sources import (
    TABLES,
    load_table,
    load_tables,
    read_csv,
    read_jdbc,
    read_json,
    register_views,
)

__all__ = [
    "TABLES",
    "align_to_schema",
    "load_table",
    "load_tables",
    "path_exists",
    "read_csv",
    "read_dbf",
    "read_jdbc",
    "read_json",
    "read_parquet",
    "register_views",
    "upsert_parquet",
    "write_bucketed_table",
    "write_jsonl",
    "write_parquet",
]
