"""Ingest-time streaming quality filter: the q112 classifier deployed
as a micro-batch gate.

A production corpus pipeline trains the quality scorer offline
(``operators/quality_clf.classifier_weights`` — one distributed
aggregation) and then applies the FROZEN weight table at ingest, so
low-quality documents never reach storage. This module is that apply
side: the ≤4096-row integer weight table rides along as a model
artifact (same role as the reference's pickled sklearn model,
TESTING .py:76, but a broadcastable TABLE instead of driver-side
numpy), each micro-batch is scored with the identical broadcast-join
plan the batch query uses, and per-batch keep stats accumulate for
monitoring.

Batch/stream parity is structural: ``flag`` calls the same
``feature_presence`` → ``classifier_scores`` operators as q112, so the
stream's verdict on any document equals the batch engine's verdict on
the same rows (pinned by ``tests/test_quality_filter_stream.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.operators.quality_clf import (
    classifier_scores,
    feature_presence,
)
from ml_with_spark_streaming_spark.streaming.flag_gate import FlagGate


def freeze_weights(weights_df: DataFrame) -> list[tuple[str, int]]:
    """Collect the trained (fb, w) table into the frozen artifact the
    filter ships with — ≤4096 rows (bounded by the bucket space), the
    ONLY thing that crosses the driver."""
    return [(r["fb"], int(r["w"])) for r in weights_df.collect()]  # bounded-collect: <=4096-row weight table


def weights_state(frozen: list[tuple[str, int]]) -> dict:
    """Frozen weights as a ModelRegistry state dict (npz-storable:
    a unicode bucket array + an int64 weight array) — the classifier
    checkpoints through the same S8 registry as the learners."""
    import numpy as np

    return {
        "fb": np.array([fb for fb, _ in frozen], dtype="U8"),
        "w": np.array([w for _, w in frozen], dtype=np.int64),
    }


def weights_from_state(state: dict) -> list[tuple[str, int]]:
    return [(str(fb), int(w)) for fb, w in zip(state["fb"], state["w"])]


@dataclass
class StreamingQualityFilter(FlagGate):
    """Apply a frozen quality-classifier weight table to a document
    stream; keep docs with positive score.

    ``on_kept`` (optional) receives the kept slice of each micro-batch
    as a DataFrame — the hook where a production pipeline writes the
    accepted documents to its sink. History rows record per-batch
    totals for monitoring drift in the keep rate.
    """

    weights: list[tuple[str, int]]
    id_col: str = "doc_id"
    text_col: str = "text"
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    @classmethod
    def from_registry(cls, registry, key: str, **kw) -> "StreamingQualityFilter":
        """Load a frozen weight checkpoint saved via
        ``registry.save(key, weights_state(frozen))`` — the reference's
        model-source role (TESTING .py:76) for the quality gate."""
        state = registry.load(key)
        if state is None:
            raise FileNotFoundError(f"no checkpoint for key {key!r} in {registry.root}")
        return cls(weights=weights_from_state(state), **kw)

    def _weights_df(self, spark) -> DataFrame:
        return spark.createDataFrame(self.weights or [("", 0)], "fb string, w long")

    def flag(self, batch_df: DataFrame) -> DataFrame:
        pres = feature_presence(batch_df, self.text_col, self.id_col)
        scores = classifier_scores(pres, self._weights_df(batch_df.sparkSession), self.id_col)
        return batch_df.join(scores, self.id_col, "left").withColumn(
            "_keep", F.coalesce(F.col("score"), F.lit(0)) > 0
        )
