from .jsonl import (
    CHANGE_JSON_SCHEMA,
    read_change_jsonl,
    typed_extract,
    check_contiguity,
)

__all__ = [
    "CHANGE_JSON_SCHEMA",
    "read_change_jsonl",
    "typed_extract",
    "check_contiguity",
]
