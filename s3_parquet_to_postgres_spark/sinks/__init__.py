from .copy import CopySink, SchemaValidationError, destination_types
from .staging import StagedLoad, clone_then_swap_ddl, swap_by_rename

__all__ = [
    "CopySink",
    "StagedLoad",
    "clone_then_swap_ddl",
    "swap_by_rename",
    "destination_types",
    "SchemaValidationError",
]
