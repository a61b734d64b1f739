"""Frozen-model streaming inference (Entry point C, `TESTING .py`).

Reference: loads ``PAC_3000.pkl`` once per batch (TESTING .py:76),
predicts, prints metrics, persists nothing. Engine: load the
checkpoint ONCE at attach time (the reference's per-batch reload is a
bug-shaped inefficiency), featurize each micro-batch with the
trainer's ``BatchPlan`` and score it in one Spark job, emit per-batch
metrics to the console and an in-memory history.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ml_with_spark_streaming_spark.streaming.foreach import attach_foreach_batch

from ml_with_spark_streaming_spark.functions.metrics import binary_metrics_from_cells
from ml_with_spark_streaming_spark.ml.registry import ModelRegistry
from ml_with_spark_streaming_spark.streaming.train import (
    BATCH_SHUFFLE_PARTITIONS,
    BatchPlan,
    batch_confs,
    confusion_cells,
)


@dataclass
class StreamingScorer:
    """Scores every micro-batch with a frozen model.

    Each batch is featurized by a ``BatchPlan`` built on the first
    batch (the same plan the trainer uses, so wire lines and (label,
    tweet) rows are both accepted and malformed records are
    quarantined, not dropped) and scored in ONE Spark job by
    ``BatchPlan.confusion_groups``, under the trainer's per-batch
    shuffle settings (``batch_confs``). Every well-formed row is
    scored: the metrics cover the whole batch, not the trainer's
    held-out fifth. An empty batch writes no history row."""

    model: object
    stem: bool = False  # TESTING .py hashes unstemmed tokens (TESTING .py:60)
    num_features: int = 2500
    history: list[dict] = field(default_factory=list)
    _plan: BatchPlan | None = field(default=None, init=False, repr=False)

    @classmethod
    def from_registry(cls, model: object, registry: ModelRegistry, key: str, best: bool = True, **kw) -> "StreamingScorer":
        state = registry.load(key, best=best) or registry.load(key, best=False)
        if state is None:
            raise FileNotFoundError(f"no checkpoint for key {key!r} in {registry.root}")
        model.set_state(state)
        return cls(model=model, **kw)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._plan is None:
            self._plan = BatchPlan(stem=self.stem, num_features=self.num_features)
        with batch_confs(batch_df.sparkSession, BATCH_SHUFFLE_PARTITIONS):
            groups = self._plan.confusion_groups(self.model, self._plan(batch_df))
        if not groups:
            return
        m = binary_metrics_from_cells(confusion_cells(groups, holdout_only=False))
        row = {"batch_id": batch_id, "batchsize": m.n, **m.as_row()}
        row["quarantined"] = sum(r["n"] for r in groups if r["_q"])
        self.history.append(row)

    def attach(
        self, lines: DataFrame, trigger_seconds: int = 5, console: bool = False
    ) -> StreamingQuery:
        """``console=True`` additionally prints each scored batch's
        metrics (S9 mapping — the reference's df.show / print(cm))."""
        def _body(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(batch_df, batch_id)
            if console and self.history:
                print(f"[score batch {batch_id}] {self.history[-1]}")

        return attach_foreach_batch(lines, _body, trigger_seconds=trigger_seconds)
