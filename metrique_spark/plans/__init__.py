"""Physical-plan introspection and audit assertions."""

from metrique_spark.plans.audit import (  # noqa: F401
    executed_plan,
    static_plan,
    count_exchanges,
    broadcast_join_count,
    has_cartesian,
    pushed_filters,
    read_schemas,
)
