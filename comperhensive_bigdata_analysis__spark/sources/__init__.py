"""Sources & sinks (SURVEY §2.1, S1-S13)."""

from .tables import TABLES, load_table, load_tables, register_all  # noqa: F401
from .ingest import (  # noqa: F401
    sanitize_name,
    sanitize_columns,
    preprocess,
    ingest_csv,
    ingest_folder,
)
from .jdbc import read_jdbc, write_jdbc  # noqa: F401
from .layout import compact, write_partitioned  # noqa: F401
