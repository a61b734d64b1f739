"""foreachBatch incremental-training loop (Entry point A semantics).

Reference lifecycle per 5 s micro-batch (PAC/passiveAgressiveModel.py:
36-137): DataFrame-ize → clean → tokenize → stopwords → stem →
HashingTF → label-index → collect → train_test_split(0.2, seed 42) →
partial_fit → predict → metrics → CSV append + best-F1 checkpoint.

Engine version: identical per-batch semantics, but every data-sized
step is a DataFrame op (see ml/incremental.py) and nothing except
O(num_features) state reaches the driver. Differences (deliberate,
SURVEY.md §7): deterministic label map, randomSplit instead of
sklearn's collected-array split, quarantine instead of blanket except,
empty-batch guard instead of schema-inference crash.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ml_with_spark_streaming_spark.streaming.foreach import attach_foreach_batch

from ml_with_spark_streaming_spark.functions.features import label_expr
from ml_with_spark_streaming_spark.functions.metrics import binary_metrics_from_cells
from ml_with_spark_streaming_spark.functions.text import (
    clean_text_expr,
    remove_stopwords_expr,
    stem_tokens_udf,
    tokens_expr,
)
from ml_with_spark_streaming_spark.ml.incremental import HashedFeatures
from ml_with_spark_streaming_spark.ml.registry import ModelRegistry
from ml_with_spark_streaming_spark.streaming.wire import WireParser

_METRICS_KEYS = [
    "batch_id", "f1", "maxf1", "acc", "precision", "recall",
    "batchsize", "rmse", "agreement", "quarantined",
]


# columns every feature-table row carries besides row_id, fi and cnt
_LABEL_COLS = ("target", "_holdout", "_q")


class BatchPlan:
    """The per-batch featurization, built once and applied to every
    micro-batch: parse → clean → tokenize → stop-words → (stem) →
    hashed TF, output ``(row_id, target, _holdout, _q, fi, cnt)``.

    Both input shapes go through the one plan: a frame of wire lines
    (a ``value`` column, parsed by ``WireParser``) or a frame of
    ``(label, tweet)`` rows. Its Column expressions are constructed in
    ``__init__``; calling the instance only applies them, so a trainer
    that keeps one plan pays the py4j calls of building the regex
    chain, the stop-word array, the stem UDF and the hash expressions
    once, not once per batch (they cost ~240 ms of driver time per
    3000-record batch when rebuilt).

    The featurization is ONE linear lineage (single scan, no union):
    quarantined rows (``parse_wire`` errors) ride through as zero-token
    docs flagged ``_q=true`` (their explode_outer emits the fi=-1
    sentinel row), so the feature table carries everything a batch
    needs — train/test features, labels, AND the quarantine counts.

    ``row_id`` is unique per row (monotonically_increasing_id);
    ``_holdout`` is a CONTENT hash of the text — the 80:20 split must
    not depend on partition layout the way seeded randomSplit does, or
    held-out metrics become irreproducible across runs (reference D3's
    seeded split on a collected array had the same order-dependence
    bug)."""

    def __init__(self, stem: bool = True, num_features: int = 2500) -> None:
        self._parse_wire = WireParser()
        self._plain = [F.col("label"), F.col("tweet"), F.lit(None).cast("string").alias("error")]
        q = F.col("error").isNotNull()
        target = F.when(~q, label_expr("label"))
        self._keep = q | (F.col("tweet").isNotNull() & target.isNotNull())
        self._base = [
            F.monotonically_increasing_id().alias("row_id"),
            target.alias("target"),
            ((~q) & (F.pmod(F.hash("tweet"), F.lit(5)) == 0)).alias("_holdout"),
            q.alias("_q"),
            F.when(q, F.array().cast("array<string>"))
            .otherwise(remove_stopwords_expr(tokens_expr(clean_text_expr("tweet"))))
            .alias("toks"),
        ]
        cols = [F.col(c) for c in ("row_id", *_LABEL_COLS)]
        self._stem = [*cols, stem_tokens_udf(F.col("toks")).alias("toks")] if stem else None
        self._hash = HashedFeatures(
            "toks", "row_id", num_features, extra_cols=_LABEL_COLS, doc_markers=True
        )
        # row filters and the confusion-group keys over the feature table
        self.clean_rows = F.col("_q") == F.lit(False)
        self.train_rows = self.clean_rows & ~F.col("_holdout")
        self._groups = [F.col(c) for c in ("target", "prediction", "_holdout", "_q")]
        self._count = F.count("*").alias("n")

    def __call__(self, batch_df: DataFrame) -> DataFrame:
        if "value" in batch_df.columns:
            parsed = self._parse_wire(batch_df)
        else:
            parsed = batch_df.select(*self._plain)
        base = parsed.filter(self._keep).select(*self._base)
        if self._stem is not None:
            base = base.select(*self._stem)
        return self._hash(base)

    def confusion_groups(self, model, feats: DataFrame) -> list:
        """ONE Spark job: score every row of this plan's feature table
        and count it into a confusion group keyed by (target,
        prediction, _holdout, _q). The groups yield the held-out or
        full-batch metrics, the batch size, the quarantine count, AND
        the empty-batch guard (zero groups ⇒ empty batch)."""
        pred = model.predict(feats, extra_cols=_LABEL_COLS, assume_unique=True)
        return (
            pred.groupBy(*self._groups)
            .agg(self._count)
            .collect()  # bounded-collect: confusion-matrix cells (classes^2 x 2 x quality)
        )


# Shuffle width for the per-micro-batch jobs (see
# StreamingTrainer.batch_shuffle_partitions).
BATCH_SHUFFLE_PARTITIONS = 4


@contextmanager
def batch_confs(spark, shuffle_partitions: int | None):
    """Pin ``spark.sql.shuffle.partitions`` to ``shuffle_partitions``
    and disable AQE for the duration of one micro-batch, restoring the
    session values on exit (no-op for None). With AQE off every shuffle
    runs inside its action's job instead of as a job of its own."""
    saved: dict[str, str] = {}
    if shuffle_partitions:
        for k, v in {
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.adaptive.enabled": "false",
        }.items():
            saved[k] = spark.conf.get(k)
            spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def confusion_cells(groups: list, holdout_only: bool) -> dict[tuple[float, float], int]:
    """``{(target, prediction): n}`` over the non-quarantined groups
    (the held-out ones only when ``holdout_only``)."""
    cells: dict[tuple[float, float], int] = {}
    for r in groups:
        if not r["_q"] and (r["_holdout"] or not holdout_only):
            key = (float(r["target"]), float(r["prediction"]))
            cells[key] = cells.get(key, 0) + r["n"]
    return cells


@dataclass
class StreamingTrainer:
    """Drives one incremental learner from a line stream.

    ``model`` is any of the ml/incremental learners (duck-typed:
    update/predict/get_state/set_state). Supervised models split each
    batch ~80:20 on a content hash (reference D3's seeded split,
    made layout-independent) and report held-out metrics; KMeans
    trains on the full batch and reports the permutation-invariant
    agreement (SURVEY.md §3 B fix).
    """

    model: object
    registry: ModelRegistry
    key: str
    stem: bool = True
    supervised: bool = True
    num_features: int = 2500
    # Shuffle width for the per-micro-batch jobs. A 5 s trigger's batch
    # is bounded by arrival rate, so its aggregations are tiny relative
    # to the session-level shuffle width (sized for the big batch
    # queries): at the session default of 32 the per-batch fixed cost
    # was dominated by empty-task scheduling and AQE replanning —
    # measured p50 per batch at payload 1000: 32-way+AQE 1.21 s,
    # 4-way no-AQE 0.70 s. When set, process_batch pins
    # spark.sql.shuffle.partitions to this value and disables AQE for
    # the duration of the batch (restored in finally; note the confs
    # are session-scoped, so concurrent foreground queries sharing the
    # session would briefly see them). None = leave session settings
    # (use on a shared cluster or with very large triggers).
    batch_shuffle_partitions: int | None = BATCH_SHUFFLE_PARTITIONS
    history: list[dict] = field(default_factory=list)
    best_f1: float = 0.0
    _plan: BatchPlan | None = field(default=None, init=False, repr=False)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch body — also callable directly on any batch
        DataFrame of wire lines (``value``) or of (label, tweet) rows.

        The featurization is the trainer's ``BatchPlan``, built on the
        first batch and reused: each later batch only applies its
        Column expressions to the new frame.

        Exactly TWO Spark jobs per batch, empty or not (the round-3
        shape was three — a parse-stats job, the update aggregation,
        and the predict+metrics job cost ~2.5 s fixed at payload 1000):

        1. the model-update aggregation, which also materializes the
           cached feature table (parse → clean → stem → explode run
           once here);
        2. ``BatchPlan.confusion_groups``: ONE scoring pass over the
           full cached table whose groups yield the held-out metrics,
           the batch-size, the quarantine count, AND the empty-batch
           guard (zero groups ⇒ empty batch, no metrics row).

        Scoring train rows too costs one cached-scan of the 80% side
        but saves a whole job's scheduling + a join + two shuffles; a
        batch whose every row is malformed still writes its metrics row
        (batchsize 0, quarantined n). A batch containing ONLY
        null-label/null-text rows (dropped by P2, not quarantined)
        writes no metrics row — such rows are never counted in any
        metric."""
        with batch_confs(batch_df.sparkSession, self.batch_shuffle_partitions):
            if self._plan is None:
                self._plan = BatchPlan(stem=self.stem, num_features=self.num_features)
            feats = self._plan(batch_df).persist()
            try:
                keep = self._plan.train_rows if self.supervised else self._plan.clean_rows
                self.model.update(feats.filter(keep), doc_markers=True)
                groups = self._plan.confusion_groups(self.model, feats)
                if not groups:  # reference crashes then swallows; we guard
                    return
                # malformed records are COUNTED into the metrics row, not
                # silently discarded (SURVEY.md §5: quarantine, don't drop)
                n_quarantined = sum(r["n"] for r in groups if r["_q"])
                if self.supervised:
                    m = binary_metrics_from_cells(confusion_cells(groups, holdout_only=True))
                    row = {"batch_id": batch_id, "batchsize": m.n, **m.as_row()}
                    f1 = m.f1
                else:
                    cells = confusion_cells(groups, holdout_only=False)
                    n_ok = sum(cells.values())
                    same = sum(n for (t, p), n in cells.items() if t == p)
                    f1 = max(same / n_ok, 1.0 - same / n_ok) if n_ok else 0.0
                    row = {"batch_id": batch_id, "batchsize": n_ok, "agreement": f1}
                self.best_f1 = max(self.best_f1, f1)
                row["maxf1"] = self.best_f1
                row["quarantined"] = n_quarantined
                self.history.append(row)
                self.registry.save(self.key, self.model.get_state(), meta=row)
                self.registry.save_if_best(self.key, self.model.get_state(), f1, meta=row)
                self._append_metrics(row)
            finally:
                feats.unpersist()

    def _append_metrics(self, row: dict) -> None:
        """S6 mapping: append-only per-batch metrics record (CSV, same
        column intent as the reference's *_stats_<bs>.csv)."""
        path = os.path.join(self.registry.root, f"{self.key}_stats.csv")
        new = not os.path.exists(path)
        with open(path, "a") as f:
            if new:
                f.write(",".join(_METRICS_KEYS) + "\n")
            f.write(",".join(str(row.get(k, "")) for k in _METRICS_KEYS) + "\n")

    def attach(
        self,
        lines: DataFrame,
        trigger_seconds: int = 5,
        checkpoint: str | None = None,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Start the stream: 5 s processing-time trigger (reference
        StreamingContext(sc, 5)), or ``available_now=True`` for a
        one-shot catch-up replay that processes everything currently
        available in rate-limited batches and then terminates — the
        backfill/cron-retrain mode the DStream design had no answer
        for."""
        return attach_foreach_batch(
            lines, self.process_batch, checkpoint, trigger_seconds, available_now
        )
