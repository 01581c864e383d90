from kaer_spark.plans.inspect import (
    executed_plan,
    explain_summary,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "executed_plan",
    "explain_summary",
    "formatted_plan",
    "pushed_filters",
    "read_schema_columns",
    "has_broadcast_join",
]
