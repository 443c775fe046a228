"""real_time_sliding_window_spark — a PySpark-native streaming window engine.

A brand-new, Spark-first rebuild of the query capabilities of
``witomlin/real-time-sliding-window`` (reference: /root/reference, v1.5.0):
tumbling / sliding / session windows with event-time watermarks, a
per-conversation stateful ring buffer with maxDuration / maxData eviction and
EMIT/EVICT callback rows, a stateful stream-stream join, and an exactly-once
idempotent sink — over conversation-transcript tables at very large scale —
plus the large-scale training-data pipeline operators (chunking, drift,
profiling).

Nothing here is a port: the reference's schedulers, locks, observers and
bucket queues are replaced by Structured Streaming's trigger / state /
watermark machinery; windows are declared with the DataFrame API and
optimized by Catalyst.
"""

from real_time_sliding_window_spark.config import WindowSpec, ViewArgs
from real_time_sliding_window_spark.session import get_spark

__all__ = ["WindowSpec", "ViewArgs", "get_spark"]
__version__ = "0.1.0"
