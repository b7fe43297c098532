"""Sinks: Postgres bulk injection + the surrounding DDL lifecycle
(the reference's inject-csv / handoff / index commands, SURVEY §3.3).
"""

from .postgres import (
    build_copy_sql,
    force_not_null_columns,
    inject_csv_files,
    list_candidate_files,
    validate_csv_header,
)
from .ddl import (
    create_index_sql,
    create_table_ddl,
    deployment_schema_sql,
    drop_index_sql,
    extract_index_sql,
    handoff_sql,
    list_entities,
)

__all__ = [
    "build_copy_sql",
    "force_not_null_columns",
    "inject_csv_files",
    "list_candidate_files",
    "validate_csv_header",
    "create_index_sql",
    "create_table_ddl",
    "deployment_schema_sql",
    "drop_index_sql",
    "extract_index_sql",
    "handoff_sql",
    "list_entities",
]
