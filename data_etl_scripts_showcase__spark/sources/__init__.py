from .files import read_csv, read_json_archive, write_csv, write_json_archive
from .tables import TABLE_SCHEMAS, TABLES, footer_schema, load_table, register_views

__all__ = [
    "TABLES",
    "TABLE_SCHEMAS",
    "footer_schema",
    "load_table",
    "register_views",
    "read_csv",
    "write_csv",
    "read_json_archive",
    "write_json_archive",
]
