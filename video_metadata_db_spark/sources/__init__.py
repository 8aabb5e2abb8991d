from .export import read_training_shards, write_training_shards
from .maintenance import compact_parquet, input_bytes
from .tables import TABLES, load_table, load_tables, register_views

__all__ = [
    "TABLES",
    "compact_parquet",
    "input_bytes",
    "load_table",
    "load_tables",
    "read_training_shards",
    "register_views",
    "write_training_shards",
]
