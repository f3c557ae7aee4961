from parallel_mapreduce_spark.sources.tables import (  # noqa: F401
    TABLES,
    cut,
    load_table,
    read_csv,
    read_json,
    read_text_lines,
    register_views,
    table_bytes,
    write_bucketed,
    write_table,
)

__all__ = [
    "TABLES",
    "cut",
    "table_bytes",
    "load_table",
    "read_csv",
    "read_json",
    "read_text_lines",
    "register_views",
    "write_bucketed",
    "write_table",
]
