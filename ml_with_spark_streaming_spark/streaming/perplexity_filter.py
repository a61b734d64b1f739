"""Ingest-time streaming perplexity filter: the q131 bigram-LM scorer
deployed as a micro-batch gate (the CCNet at-the-door discipline:
documents a reference LM finds too improbable never reach storage).

The LM's count tables are trained ONCE — one distributed aggregation
pass over a reference corpus (``operators/lm.bigram_lm_counts``) or
loaded from persisted parquet artifacts (``save_model`` /
``from_model_path``) — and each micro-batch is scored with the
identical ``score_against_lm`` plan a batch scoring job uses, so the
stream's verdict on any document equals the batch engine's verdict on
the same rows (pinned by ``tests/test_lm.py``). Unlike the quality
classifier's ≤4096-row weight table, the bigram table is
vocab²-bounded (Zipf-truncated in practice) — it stays a DataFrame
joined by key, NEVER a driver collect; at 100 TB it is a bucketed
parquet artifact probed by two hash joins per drop.

Gate: keep documents with ``mean_nll_x1e6 <= threshold_x1e6`` (and,
by default, docs too short to score — a length gate is a different
filter's job).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.lineage import maybe_checkpoint
from ml_with_spark_streaming_spark.operators.lm import (
    bigram_lm_counts,
    score_against_lm,
)
from ml_with_spark_streaming_spark.functions.text import clean_text_expr, tokens_expr
from ml_with_spark_streaming_spark.streaming.flag_gate import FlagGate


def train_lm(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(uni, big, vocab) count artifacts from a reference corpus —
    one tokenize pass, three aggregates, all checkpointed."""
    toks = maybe_checkpoint(
        corpus.select(
            F.col(id_col), tokens_expr(clean_text_expr(text_col)).alias("_toks")
        ).filter(F.size("_toks") >= 2)
    )
    uni, big, vocab = bigram_lm_counts(toks)
    return uni, maybe_checkpoint(big), maybe_checkpoint(vocab)


@dataclass
class StreamingPerplexityFilter(FlagGate):
    """Apply a frozen bigram LM to a document stream; keep docs whose
    per-bigram mean NLL is at or below the threshold (micro-nats).

    ``on_kept`` receives each batch's accepted slice; ``history``
    records per-batch (n_docs, n_kept, n_unscored) for keep-rate drift
    monitoring. ``keep_unscored`` controls docs with < 2 tokens."""

    uni: DataFrame
    big: DataFrame
    vocab: DataFrame
    threshold_x1e6: int
    id_col: str = "doc_id"
    text_col: str = "text"
    keep_unscored: bool = True
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    history_keys = ("n_docs", "n_kept", "n_unscored")

    @classmethod
    def from_corpus(
        cls, corpus: DataFrame, threshold_x1e6: int, **kw
    ) -> "StreamingPerplexityFilter":
        uni, big, vocab = train_lm(
            corpus,
            text_col=kw.get("text_col", "text"),
            id_col=kw.get("id_col", "doc_id"),
        )
        return cls(uni=uni, big=big, vocab=vocab, threshold_x1e6=threshold_x1e6, **kw)

    def save_model(self, path: str) -> None:
        """Persist the count artifacts as parquet — the durable LM a
        restarted gate (or a different cluster) resumes from."""
        self.uni.write.mode("overwrite").parquet(f"{path}/uni")
        self.big.write.mode("overwrite").parquet(f"{path}/big")
        self.vocab.write.mode("overwrite").parquet(f"{path}/vocab")

    @classmethod
    def from_model_path(
        cls, spark, path: str, threshold_x1e6: int, **kw
    ) -> "StreamingPerplexityFilter":
        return cls(
            uni=spark.read.parquet(f"{path}/uni"),
            big=spark.read.parquet(f"{path}/big"),
            vocab=spark.read.parquet(f"{path}/vocab"),
            threshold_x1e6=threshold_x1e6,
            **kw,
        )

    def score_batch(self, batch_df: DataFrame) -> DataFrame:
        """The gate's scoring plan — exactly the batch operator."""
        return score_against_lm(
            batch_df, self.uni, self.big, self.vocab, self.text_col, self.id_col
        )

    def flag(self, batch_df: DataFrame) -> DataFrame:
        keep = F.when(
            F.col("n_bigrams") == 0, F.lit(self.keep_unscored)
        ).otherwise(F.col("mean_nll_x1e6") <= F.lit(self.threshold_x1e6))
        return batch_df.join(self.score_batch(batch_df), self.id_col).withColumn(
            "_keep", keep
        )

    def extra_aggs(self) -> list[Column]:
        return [F.sum((F.col("n_bigrams") == 0).cast("long")).alias("n_unscored")]
