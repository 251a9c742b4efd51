from nosql_to_sql_migration_tool_spark.sources.registry import (
    TABLES,
    load_table,
    register_views,
)

__all__ = ["TABLES", "load_table", "register_views"]
