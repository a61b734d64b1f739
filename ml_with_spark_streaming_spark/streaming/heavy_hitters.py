"""Streaming heavy-hitters monitor: mergeable Misra-Gries state over
micro-batches.

The ingest-side companion of q141 (operators/sketch.py): a corpus
pipeline wants to see boilerplate/template n-grams EMERGE while data
streams in — a rising heavy hitter is a new scraper template, a stuck
upstream dedup, or an injection campaign — without ever holding a
gram-cardinality table anywhere.

Per micro-batch the DISTRIBUTED work is exactly q141's two-pass shape
on the batch: per-partition MG candidate sketches, then exact batch
counts for candidates only (≤ partitions·k rows cross the driver — a
weight-table, the same O(model) contract as the learners). The DRIVER
keeps one k-bounded counter map merged across batches with the
classic mergeable-summaries step (Agarwal et al. 2012): add the batch
summary, and if more than k counters remain, subtract the (k+1)-th
largest value from all and drop the non-positive ones.

Guarantees carried across the whole stream (pinned by
tests/test_heavy_hitters_stream.py):

* estimates never exceed true counts (batch counts are exact; merges
  only subtract);
* true_count − est ≤ n_total/(k+1), so every gram with true count
  > n_total/(k+1) is IN the state — the stream-lifetime heavy-hitter
  set is never missed, no matter how it is split into batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.functions.text import clean_text_expr, tokens_expr
from ml_with_spark_streaming_spark.operators.dedup import shingles_expr
from ml_with_spark_streaming_spark.operators.sketch import mg_candidates
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage


@dataclass
class StreamingHeavyHitters(ForeachBatchStage):
    """k-bounded heavy-hitter state over a document stream."""

    k: int = 1023
    ngram: int = 2
    text_col: str = "text"
    counters: dict = field(default_factory=dict)
    n_total: int = 0
    history: list[dict] = field(default_factory=list)

    def _batch_summary(self, batch_df: DataFrame) -> tuple[list, int]:
        """(exact candidate counts, total gram count) for one batch —
        q141's candidate+verify shape scoped to the batch."""
        cands = mg_candidates(batch_df, self.text_col, self.k, self.ngram).distinct()
        toks = batch_df.select(
            tokens_expr(clean_text_expr(self.text_col)).alias("_t")
        ).repartition(8)
        grams = toks.select(
            F.explode(shingles_expr(F.col("_t"), self.ngram)).alias("gram")
        )
        grams = grams.persist()
        try:
            n_batch = grams.count()
            rows = (
                grams.join(F.broadcast(cands), "gram")
                .groupBy("gram")
                .agg(F.count("*").cast("long").alias("cnt"))
                .collect()  # bounded-collect: joined to the sketch's candidate set (k-bounded)
            )
        finally:
            grams.unpersist()
        return [(r["gram"], int(r["cnt"])) for r in rows], int(n_batch)

    def _merge(self, summary: list, n_batch: int) -> None:
        for gram, c in summary:
            self.counters[gram] = self.counters.get(gram, 0) + c
        self.n_total += n_batch
        if len(self.counters) > self.k:
            # subtract the (k+1)-th largest from all; keep positives
            sub = sorted(self.counters.values(), reverse=True)[self.k]
            self.counters = {
                g: c - sub for g, c in self.counters.items() if c - sub > 0
            }

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            self.history.append(
                {"batch_id": batch_id, "n_grams": 0, "state_size": len(self.counters)}
            )
            return
        summary, n_batch = self._batch_summary(batch_df)
        self._merge(summary, n_batch)
        self.history.append(
            {
                "batch_id": batch_id,
                "n_grams": n_batch,
                "state_size": len(self.counters),
            }
        )

    def heavy_hitters(self) -> list[tuple[str, int]]:
        """Grams whose ESTIMATE clears the stream-lifetime threshold
        n_total/(k+1) (estimates are lower bounds, so everything
        returned truly clears it), largest first."""
        thr = self.n_total / (self.k + 1)
        return sorted(
            ((g, c) for g, c in self.counters.items() if c > thr),
            key=lambda t: (-t[1], t[0]),
        )
