from .copy import CopySink
from .jdbc import JdbcSink, SchemaValidationError, validate_target_schema
from .staging import StagedLoad, clone_then_swap_ddl, swap_by_rename

__all__ = [
    "JdbcSink",
    "CopySink",
    "StagedLoad",
    "clone_then_swap_ddl",
    "swap_by_rename",
    "validate_target_schema",
    "SchemaValidationError",
]
