"""The stateless door gates' shared batch template.

A flag gate (quality, DSIR, entropy, perplexity, decontamination)
applies a frozen artifact to each document on its own, so its batch
work is the same five steps every time; only the scoring plan
differs. A gate subclasses ``FlagGate`` and supplies:

* ``flag(batch_df)`` — the batch rows joined to the gate's scores:
  every batch column, a keep column named ``keep_col`` (boolean or
  0/1) and the score columns. The join type (left or inner) is the
  gate's own choice;
* ``history_keys`` — the history row's keys in order. The template
  counts ``n_docs`` and ``n_kept``;
* ``extra_aggs()`` — one aggregate Column per other key, aliased to it.

``process_batch`` then runs ``isEmpty`` → ``persist`` → one aggregate
``collect`` → the history row (``int(v or 0)`` per key: a sum over no
rows is null) → ``on_kept`` with the kept slice (the rows whose keep
column is set, without the keep and score columns, so exactly the
batch's columns in the join's order) → ``unpersist``. ``on_kept`` runs
while the flagged frame is persisted, so whatever the hook does with
the slice reads cached rows instead of re-running the scoring plan;
the composed door relies on this by running each downstream gate
inside its upstream gate's ``on_kept``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage


class FlagGate(ForeachBatchStage):
    """Template for a stateless keep/reject gate; subclasses are
    dataclasses carrying ``on_kept`` and ``history`` fields."""

    keep_col = "_keep"
    history_keys: tuple[str, ...] = ("n_docs", "n_kept")
    kept_key = "n_kept"

    def flag(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def extra_aggs(self) -> list[Column]:
        return []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one pass for the stats; the kept slice re-filters the same
        # cached lineage
        flagged = self.flag(batch_df).persist()
        try:
            keep = F.col(self.keep_col)
            agg = flagged.agg(
                F.count("*").alias("n_docs"),
                F.sum(keep.cast("long")).alias("n_kept"),
                *self.extra_aggs(),
            ).collect()[0]  # bounded-collect: single aggregate row
            self.history.append(
                {"batch_id": batch_id, **{k: int(agg[k] or 0) for k in self.history_keys}}
            )
            if self.on_kept is not None:
                scores = [c for c in flagged.columns if c not in batch_df.columns]
                self.on_kept(
                    flagged.filter(keep.cast("boolean")).drop(self.keep_col, *scores),
                    batch_id,
                )
        finally:
            flagged.unpersist()
