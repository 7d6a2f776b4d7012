"""Plan-level helpers: ordinal synthesis for positional access, and explain
introspection used by the perf tests."""

from pandas_db_spark.plans.ordinal import ORDINAL_COL
from pandas_db_spark.plans.explain import (
    formatted_plan,
    pushed_filters,
    read_schema_columns,
    has_broadcast_join,
    wholestage_codegen_spans,
)

__all__ = [
    "ORDINAL_COL",
    "formatted_plan",
    "pushed_filters",
    "read_schema_columns",
    "has_broadcast_join",
    "wholestage_codegen_spans",
]
