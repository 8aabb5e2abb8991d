from .maintenance import compact_parquet, input_bytes
from .tables import TABLES, load_table, register_views

__all__ = [
    "TABLES",
    "compact_parquet",
    "input_bytes",
    "load_table",
    "register_views",
]
