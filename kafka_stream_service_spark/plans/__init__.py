from .inspect import (  # noqa: F401
    count_shuffle_exchanges,
    normalize_plan,
    physical_plan,
    python_lane_offenders,
    single_partition_offenders,
)
