"""Shared foreachBatch attachment — the one place the
writeStream/trigger/checkpoint boilerplate lives, so every micro-batch
stage (trainer, scorer, the door's gates, the composed pipeline)
starts its stream identically and trigger-option changes happen once.

``ForeachBatchStage`` is the one ``attach`` of every stage whose
stream is just "run ``process_batch`` per micro-batch"; stages with
their own attach contract (the trainer, scorer, SCD2 and the ANN
maintainer's replay guard) call ``attach_foreach_batch`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def attach_foreach_batch(
    stream_df: DataFrame,
    process_batch,
    checkpoint: str | None = None,
    trigger_seconds: int = 5,
    available_now: bool = False,
) -> StreamingQuery:
    """Start ``stream_df`` through ``process_batch``: 5 s
    processing-time trigger by default (the reference's
    ``StreamingContext(sc, 5)``), or ``available_now=True`` for a
    one-shot catch-up replay; ``checkpoint`` enables exactly-once
    restart."""
    w = stream_df.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


class ForeachBatchStage:
    """Mixin: ``attach`` starts ``docs`` through this stage's
    ``process_batch``, resolved on the instance at attach time (so a
    wrapped or patched instance attribute is the one that runs)."""

    def attach(
        self,
        docs: DataFrame,
        checkpoint: str | None = None,
        trigger_seconds: int = 5,
        available_now: bool = False,
    ) -> StreamingQuery:
        return attach_foreach_batch(
            docs, self.process_batch, checkpoint, trigger_seconds, available_now
        )
