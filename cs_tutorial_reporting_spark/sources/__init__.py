from .readers import load_table, read_csv_staging, read_json_array, read_parquet_table
from .sinks import write_json_landing, write_table_append

__all__ = [
    "load_table",
    "read_csv_staging",
    "read_json_array",
    "read_parquet_table",
    "write_json_landing",
    "write_table_append",
]
