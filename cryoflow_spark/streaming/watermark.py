"""Event-time watermark transform for streaming aggregations.

Options: ``column`` (required, event-time timestamp column),
``delay`` (required, e.g. ``"10 minutes"``).

Combine with the ``group_agg`` plugin using a window expression, e.g.
``group_by = ["window(ts, '5 minutes')"]`` — late rows beyond the
watermark are dropped and completed windows are emitted/pruned from
state, which is what bounds state size on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from cryoflow_spark.core.plugin import FrameData
from cryoflow_spark.plugins.transform.base import AnalyzedTransformPlugin


def _is_event_time(dtype) -> bool:
    """Spark's own event-time rule: a ``TIMESTAMP`` column, or a window
    struct whose ``end`` is one. ``TIMESTAMP_NTZ`` is rejected."""
    if isinstance(dtype, StructType):
        return "end" in dtype.fieldNames() and isinstance(
            dtype["end"].dataType, TimestampType
        )
    return isinstance(dtype, TimestampType)


class WatermarkPlugin(AnalyzedTransformPlugin):
    @property
    def name(self) -> str:
        return "watermark"

    def _transform(self, data: FrameData) -> FrameData:
        column = self.require_option("column")
        delay = self.require_option("delay")
        # Checked here rather than left to Spark, which only rejects the
        # column once a streaming query starts: the dry run replays this
        # method, so `check` fails where `run` would.
        dtype = data.select(F.col(column)).schema.fields[0].dataType
        if not _is_event_time(dtype):
            raise TypeError(
                f"watermark column '{column}' is {dtype.simpleString()}, "
                "not timestamp; add a cast step first, e.g. "
                f"casts = {{ {column} = \"timestamp\" }}"
            )
        return data.withWatermark(column, delay)
