from .tables import load_table, load_tables, register_views, table_schema  # noqa: F401
