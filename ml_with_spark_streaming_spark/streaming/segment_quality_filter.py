"""Ingest-time streaming segment-quality rewrite: q156's fine-grained
filtering (``operators/segment_dedup.py::segment_quality_rewrite``)
deployed as a micro-batch REWRITE stage.

Like ``StreamingSegmentDedup`` this stage rewrites rather than gates:
low-quality segments of an incoming document are cut and the document
continues through the pipeline as its surviving text (dropped entirely
only when no segment passes). Unlike segment dedup it carries NO
corpus state at all — the quality rational is a pure function of the
segment — so batch/stream parity is trivial and exact: the stage calls
the identical batch operator per micro-batch (pinned by
``tests/test_segment_quality_stream.py``).

Scale shape per batch: one segmentation pass, a codegen scoring
projection, one per-doc regroup — nothing joins corpus-sized state.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.operators.segment_dedup import (
    DEFAULT_WIDTH,
    segment_quality_rewrite,
)
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage


@dataclass
class StreamingSegmentQuality(ForeachBatchStage):
    """Per-micro-batch segment-quality rewrite. ``on_kept`` receives
    the REWRITTEN documents (original id, surviving text); docs with
    no passing segment are dropped. History rows:
    (batch_id, n_docs, n_segs, n_cut, n_docs_kept)."""

    history_keys = ("n_docs", "n_segs", "n_cut", "n_docs_kept")
    kept_key = "n_docs_kept"

    width: int = DEFAULT_WIDTH
    threshold_x100: int = 67
    id_col: str = "doc_id"
    text_col: str = "text"
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        rewritten = segment_quality_rewrite(
            batch_df,
            text_col=self.text_col,
            id_col=self.id_col,
            width=self.width,
            threshold_x100=self.threshold_x100,
        ).localCheckpoint(eager=True)
        stats = rewritten.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_segs"), F.lit(0)).alias("n_segs"),
            F.coalesce(F.sum(F.col("n_segs") - F.col("n_kept")), F.lit(0)).alias(
                "n_cut"
            ),
            F.coalesce(
                F.sum((F.col("n_kept") > 0).cast("long")), F.lit(0)
            ).alias("n_docs_kept"),
        ).collect()[0]  # bounded-collect: single aggregate row
        self.history.append(
            {
                "batch_id": batch_id,
                "n_docs": int(stats["n_docs"]),
                "n_segs": int(stats["n_segs"]),
                "n_cut": int(stats["n_cut"]),
                "n_docs_kept": int(stats["n_docs_kept"]),
            }
        )
        if self.on_kept is not None:
            kept = rewritten.filter(F.col("n_kept") > 0).select(
                F.col(self.id_col),
                F.col("text_kept").alias(self.text_col),
            )
            self.on_kept(kept, batch_id)
