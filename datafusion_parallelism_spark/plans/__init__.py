"""Plan inspection & shaping (the Spark analog of the reference's
plan-shape assertions and config-driven plan forcing)."""

from .shaping import (  # noqa: F401
    checkpoint_pinned,
    explain_str,
    forced_join_strategy,
    join_kinds,
    kernel_fits,
    physical_plan_str,
    pushed_filters,
    read_schemas,
)
