from geofeaturegeneration_spark.streaming.asof import stream_asof_join
from geofeaturegeneration_spark.streaming.sessions import (
    stream_exact_dedup,
    stream_gap_sessions,
    stream_running_features,
)

__all__ = [
    "stream_gap_sessions",
    "stream_running_features",
    "stream_exact_dedup",
    "stream_asof_join",
]
