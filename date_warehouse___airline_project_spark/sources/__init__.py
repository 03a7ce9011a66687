from .catalog import TABLES, load_table, load_tables  # noqa: F401
from .merge_target import ParquetMergeTarget  # noqa: F401
