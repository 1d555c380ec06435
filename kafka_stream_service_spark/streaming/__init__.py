from .materialize import continuous_aggregate, read_continuous_aggregate  # noqa: F401
from .ops import (  # noqa: F401
    sessionized,
    stream_static_join,
    streaming_dedup,
    windowed_agg,
)
