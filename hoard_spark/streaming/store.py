"""The streaming stores' shared wiring.

Every persistent streaming store (``NearDupIndex``, ``VectorDupIndex``,
``NoveltyIndex``, ``ContainmentIndex``, ``AnnIndexStore``) exposes
``process_batch(df, batch_id)``, directly usable as a ``foreachBatch``
body; ``sink`` wires it to a streaming query, defined once here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


class MicroBatchStore:
    """Base of the streaming stores: subclasses define
    ``process_batch(df, batch_id)``."""

    def sink(self, stream: DataFrame, checkpoint: str) -> StreamingQuery:
        """writeStream.foreachBatch over ``process_batch``, draining what
        is available (``availableNow``) under ``checkpoint``."""
        return (
            stream.writeStream.foreachBatch(
                lambda b, bid: self.process_batch(b, bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
