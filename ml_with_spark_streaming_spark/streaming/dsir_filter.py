"""Ingest-time streaming DSIR gate: the q135 importance-resampling
selector deployed as a micro-batch filter.

A production pipeline trains the DSIR weight table offline
(``operators/dsir.dsir_weight_table`` over the trusted corpus — a
DENSE ``n_buckets``-row integer table, complete by construction) and
applies the FROZEN table at ingest so off-distribution documents never
reach storage. This module is that apply side, in the same shape as
the quality and perplexity gates: the weight table rides along as a
model artifact (the reference's pickled-model role, ``TESTING
.py:76``, as a broadcastable table), each micro-batch is scored with
the IDENTICAL operator the batch query uses
(``dsir.dsir_score_against``), and per-batch keep stats accumulate for
drift monitoring — a falling keep rate means the incoming stream is
drifting away from the target distribution.

Batch/stream parity is structural, pinned by
``tests/test_dsir_filter_stream.py``: stream verdicts on any rows
equal ``dsir_score_against`` verdicts on the same rows under the same
frozen weights.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.operators.dsir import dsir_score_against
from ml_with_spark_streaming_spark.streaming.flag_gate import FlagGate


def freeze_weights(weights_df: DataFrame) -> list[tuple[int, int]]:
    """Collect the trained dense (bucket, w6) table into the frozen
    artifact the gate ships with — exactly ``n_buckets`` integer rows,
    the ONLY thing that crosses the driver."""
    return [(int(r["bucket"]), int(r["w6"])) for r in weights_df.collect()]  # bounded-collect: n_buckets rows


def weights_state(frozen: list[tuple[int, int]]) -> dict:
    """Frozen weights as a ModelRegistry state dict (npz-storable) —
    the gate checkpoints through the same S8 registry as the
    learners."""
    import numpy as np

    return {
        "bucket": np.array([b for b, _ in frozen], dtype=np.int64),
        "w6": np.array([w for _, w in frozen], dtype=np.int64),
    }


def weights_from_state(state: dict) -> list[tuple[int, int]]:
    return [(int(b), int(w)) for b, w in zip(state["bucket"], state["w6"])]


@dataclass
class StreamingDSIRFilter(FlagGate):
    """Apply a frozen DSIR weight table to a document stream; keep
    docs whose total log importance weight is positive (more
    target-like than raw-corpus-like — q135's rule).

    ``on_kept`` (optional) receives the kept slice of each micro-batch
    as a DataFrame. History rows record per-batch totals so a
    production monitor can watch the keep rate for input drift.
    """

    weights: list[tuple[int, int]]
    n_buckets: int = 512
    id_col: str = "doc_id"
    text_col: str = "text"
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    @classmethod
    def from_registry(cls, registry, key: str, **kw) -> "StreamingDSIRFilter":
        """Load a frozen weight checkpoint saved via
        ``registry.save(key, weights_state(frozen))``."""
        state = registry.load(key)
        if state is None:
            raise FileNotFoundError(f"no checkpoint for key {key!r} in {registry.root}")
        return cls(weights=weights_from_state(state), **kw)

    def _weights_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            self.weights or [(0, 0)], "bucket long, w6 long"
        )

    def flag(self, batch_df: DataFrame) -> DataFrame:
        scores = dsir_score_against(
            batch_df,
            self._weights_df(batch_df.sparkSession),
            text_col=self.text_col,
            id_col=self.id_col,
            n_buckets=self.n_buckets,
        ).select(self.id_col, "selected")
        return batch_df.join(scores, self.id_col, "left").withColumn(
            "_keep", F.coalesce(F.col("selected"), F.lit(0)) == 1
        )
