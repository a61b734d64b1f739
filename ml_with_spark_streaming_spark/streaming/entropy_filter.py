"""Ingest-time entropy gate: q153's character-bigram entropy deployed
as a micro-batch filter.

Low-entropy documents (template soup, repeated boilerplate, single-
character floods) are rejected at the door. Unlike the quality/
perplexity/DSIR gates this one carries NO model state — entropy is a
pure per-document functional — so the streaming deploy is the batch
operator applied per micro-batch verbatim, and stream verdicts equal
batch verdicts structurally (pinned by
``tests/test_entropy_filter_stream.py``).

Documents with fewer than 2 characters have no bigram distribution;
they are rejected (an empty/1-char document is never corpus-worthy,
and an undefined entropy must not default to "keep").
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.operators.textstats import char_bigram_entropy
from ml_with_spark_streaming_spark.streaming.flag_gate import FlagGate


@dataclass
class StreamingEntropyFilter(FlagGate):
    """Keep documents whose char-bigram entropy (micro-nats) is at
    least ``threshold_x1e6``. ``on_kept`` receives each batch's kept
    slice; ``history`` records per-batch totals for drift monitoring.
    """

    threshold_x1e6: int
    id_col: str = "doc_id"
    text_col: str = "text"
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    history_keys = ("n_docs", "n_kept", "n_unscored")

    def flag(self, batch_df: DataFrame) -> DataFrame:
        ent = char_bigram_entropy(batch_df, self.text_col, self.id_col)
        return batch_df.join(
            ent.select(self.id_col, "entropy_x1e6"), self.id_col, "left"
        ).withColumn(
            # no-bigram docs (entropy NULL) are rejected, never kept
            "_keep",
            F.coalesce(
                F.col("entropy_x1e6") >= F.lit(int(self.threshold_x1e6)),
                F.lit(False),
            ),
        )

    def extra_aggs(self) -> list[Column]:
        return [F.sum(F.col("entropy_x1e6").isNull().cast("long")).alias("n_unscored")]
