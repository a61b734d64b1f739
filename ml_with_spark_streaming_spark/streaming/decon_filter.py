"""Ingest-time streaming decontamination: q101's 13-gram benchmark
overlap check deployed as a micro-batch gate.

The eval/benchmark n-gram key set is benchmark-sized by definition —
built once (``eval_ngrams``), checkpointed, and broadcast into every
micro-batch; the per-batch cost is one shingle explode over the batch
slice plus the broadcast join (``contamination_counts`` — the exact
plan the batch query q101 runs). Documents sharing ANY eval n-gram are
rejected before they reach storage (the GPT-3 appendix-C policy), so
benchmark material never enters the training corpus in the first
place.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.lineage import maybe_checkpoint
from ml_with_spark_streaming_spark.operators.decontaminate import (
    DEFAULT_NGRAM,
    contamination_counts,
    eval_ngrams,
    multi_contamination_counts,
    tagged_eval_ngrams,
)
from ml_with_spark_streaming_spark.streaming.flag_gate import FlagGate


@dataclass
class StreamingDecontaminationFilter(FlagGate):
    """Reject documents overlapping the eval set, per micro-batch.

    ``on_kept`` receives each batch's clean slice; ``history`` records
    per-batch (n_docs, n_contaminated, n_kept).
    """

    eval_grams: DataFrame
    id_col: str = "doc_id"
    text_col: str = "text"
    n: int = DEFAULT_NGRAM
    # registry mode (q160): eval_grams is the TAGGED gram table (one
    # 0/1 flag column per benchmark) and history rows carry per-
    # benchmark doc-hit counts; keep stays strict (clean of ALL)
    bench_names: list[str] | None = None
    on_kept: object = None
    history: list[dict] = field(default_factory=list)

    keep_col = "keep"

    @property
    def history_keys(self) -> tuple[str, ...]:
        return ("n_docs", "n_contaminated", "n_kept") + tuple(
            f"docs_hit_{b}" for b in self.bench_names or ()
        )

    @classmethod
    def from_eval_corpus(
        cls, eval_df: DataFrame, text_col: str = "text", n: int = DEFAULT_NGRAM, **kw
    ) -> "StreamingDecontaminationFilter":
        grams = maybe_checkpoint(eval_ngrams(eval_df, text_col, n))
        return cls(eval_grams=grams, text_col=text_col, n=n, **kw)

    @classmethod
    def from_registry(
        cls,
        benchmarks: dict[str, DataFrame],
        text_col: str = "text",
        n: int = DEFAULT_NGRAM,
        **kw,
    ) -> "StreamingDecontaminationFilter":
        """q160's benchmark-registry mode: screen every micro-batch
        against EVERY registered eval set in one pass — the tagged
        gram table broadcasts once, each benchmark costs one
        conditional sum, and the per-batch history attributes hits
        per benchmark (which eval set is leaking into the feed)."""
        tagged = maybe_checkpoint(tagged_eval_ngrams(benchmarks, text_col, n))
        return cls(
            eval_grams=tagged,
            bench_names=list(benchmarks),
            text_col=text_col,
            n=n,
            **kw,
        )

    def save_grams(self, path: str) -> None:
        """Persist the eval gram table as parquet — the durable
        artifact a restarted gate resumes from (grams are a function
        of the eval corpus AND of n, so the params sidecar records n;
        resuming with a different n would shingle batches into grams
        the stored set can never match)."""
        self.eval_grams.write.mode("overwrite").parquet(f"{path}/grams")
        self.eval_grams.sparkSession.createDataFrame(
            [(self.n,)], "n int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")

    @classmethod
    def from_grams_path(
        cls, spark, path: str, **kw
    ) -> "StreamingDecontaminationFilter":
        """Resume a gate from ``save_grams`` artifacts — no eval-corpus
        rescan. n comes from the sidecar; a conflicting override
        raises."""
        p = spark.read.parquet(f"{path}/params").collect()[0]  # bounded-collect: single-row params sidecar
        if "n" in kw and kw["n"] != int(p["n"]):
            raise ValueError(
                f"grams at {path} were built with n={int(p['n'])}; "
                f"got n={kw['n']} — rebuild the gram set or drop the override"
            )
        kw["n"] = int(p["n"])
        return cls(eval_grams=spark.read.parquet(f"{path}/grams"), **kw)

    def flag(self, batch_df: DataFrame) -> DataFrame:
        if self.bench_names is None:
            counts = contamination_counts(
                batch_df, self.eval_grams, self.text_col, self.id_col, self.n
            )
        else:
            counts = multi_contamination_counts(
                batch_df,
                self.eval_grams,
                self.bench_names,
                self.text_col,
                self.id_col,
                self.n,
            )
        hits = [f"n_hit_{b}" for b in self.bench_names or ()]
        return batch_df.join(counts.select(self.id_col, "keep", *hits), self.id_col)

    def extra_aggs(self) -> list[Column]:
        return [F.sum((F.col("keep") == 0).cast("long")).alias("n_contaminated")] + [
            F.sum((F.col(f"n_hit_{b}") > 0).cast("long")).alias(f"docs_hit_{b}")
            for b in self.bench_names or ()
        ]
