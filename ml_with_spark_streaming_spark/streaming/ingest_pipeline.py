"""The composed ingest door: the gates a production corpus runs at
write time, per micro-batch, as one stage list.

Stage order (optional stages run only when configured): text dedup
(``StreamingIngestDedup``, q105; novelty first, so no later gate
scores a document about to be discarded) → embedding dedup
(``StreamingEmbeddingDedup``; catches a paraphrase sharing no shingle
with the corpus) → segment dedup (``StreamingSegmentDedup``, q137's
boilerplate REWRITE, so every later gate scores the text that would be
stored; rows are ``(id_col, text_col)`` from here on) → segment quality
(``StreamingSegmentQuality``, q156's REWRITE) → decontamination (q101)
→ quality (the frozen q112 weights; always configured) → perplexity
(the frozen q131 bigram LM) → DSIR (q135, last: the most selective).
Then ``StreamingANNIndexMaintainer`` appends the accepted ids' vectors,
taken from the original batch because the rewrites drop the vector
column, to the serving IVF artifact, and ``on_accepted`` gets the
accepted slice. Every gate is the exact batch operator, so stream
verdicts equal batch verdicts.

The gate protocol: ``process_batch(df, batch_id)``, an ``on_kept``
hook, a ``history`` that gains one row per batch, ``history_keys``
(that row's keys) and ``kept_key`` (the key counting the rows handed
to ``on_kept``). The runner walks the stage list recursively, and
stage i + 1 runs INSIDE stage i's ``on_kept``. That continuation shape
is deliberate: a gate keeps its scored frame persisted only while
``on_kept`` runs, and text dedup grows its index after ``on_kept``
returns, so a runner that took each kept slice back and ran the next
gate afterwards would recompute the dedup plan (75-85% of a batch) for
every downstream action. The runner's one piece of per-stage knowledge
is the embedding gate's hand-off of ``(id, vec)`` rows, semi-joined
back to the document rows by id.

A stage whose upstream gate kept 0 rows (read off that gate's new
history row, no Spark job) does not run; it records an all-zero row
under its own ``history_keys``, so every history stays index-aligned
with the ledger. The ledger row per batch (``n_in``, an ``n_after_*``
column per ledger stage, ``n_accepted``) is read off the histories;
an unconfigured stage's column repeats the count before it, so the
funnel never increases. A user hook already on a stage's ``on_kept``
is still called with its kept slice before the door moves on.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.streaming.ann_index_maintainer import (
    StreamingANNIndexMaintainer,
)
from ml_with_spark_streaming_spark.streaming.decon_filter import (
    StreamingDecontaminationFilter,
)
from ml_with_spark_streaming_spark.streaming.dsir_filter import StreamingDSIRFilter
from ml_with_spark_streaming_spark.streaming.embedding_dedup_filter import (
    StreamingEmbeddingDedup,
)
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage
from ml_with_spark_streaming_spark.streaming.ingest_dedup import StreamingIngestDedup
from ml_with_spark_streaming_spark.streaming.perplexity_filter import (
    StreamingPerplexityFilter,
)
from ml_with_spark_streaming_spark.streaming.quality_filter import StreamingQualityFilter
from ml_with_spark_streaming_spark.streaming.segment_dedup_filter import (
    StreamingSegmentDedup,
)
from ml_with_spark_streaming_spark.streaming.segment_quality_filter import (
    StreamingSegmentQuality,
)


@dataclass
class StreamingIngestPipeline(ForeachBatchStage):
    """Run the door's configured gates over one document stream.

    ``on_accepted`` receives each batch's fully-accepted slice (novel,
    clean of eval overlap, high-quality, AND in-distribution under the
    reference LM) — the write-to-storage hook.
    """

    dedup: StreamingIngestDedup
    quality: StreamingQualityFilter
    embdedup: StreamingEmbeddingDedup | None = None
    segdedup: StreamingSegmentDedup | None = None
    segquality: StreamingSegmentQuality | None = None
    decon: StreamingDecontaminationFilter | None = None
    perplexity: StreamingPerplexityFilter | None = None
    dsir: StreamingDSIRFilter | None = None
    # the serving-index stage AFTER acceptance: each batch's
    # fully-accepted vectors are appended to the persisted IVF artifact
    # (and refit on drift when the maintainer is armed) — the index a
    # deployment probes always reflects exactly the accepted corpus
    ann_maintainer: StreamingANNIndexMaintainer | None = None
    # one coalesce+checkpoint at the door: micro-batches are
    # scheduling-bound on wide default partitionings (the embedding
    # gate's measured lesson), and checkpointing here makes the source
    # parse exactly once instead of per-stage. None disables.
    batch_partitions: int | None = 8
    on_accepted: object = None
    ledger: list[dict] = field(default_factory=list)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        weights: list[tuple[str, int]],
        eval_corpus: DataFrame | None = None,
        embedding_corpus: DataFrame | None = None,
        embedding_threshold: float = 0.95,
        embedding_verify_mode: str = "broadcast",
        embedding_bucket_partitions: int | None = None,
        vec_col: str = "embedding",
        segment_width: int | None = None,
        segment_quality_threshold_x100: int | None = None,
        perplexity_threshold_x1e6: int | None = None,
        dsir_weights: list[tuple[int, int]] | None = None,
        dsir_n_buckets: int = 512,
        ann_n_centroids: int | None = None,
        ann_refit_skew_threshold: float | None = None,
        on_accepted: object = None,
        **dedup_kw,
    ) -> "StreamingIngestPipeline":
        # all gates must read the same columns
        col_kw = {k: dedup_kw[k] for k in ("id_col", "text_col") if k in dedup_kw}
        decon = (
            StreamingDecontaminationFilter.from_eval_corpus(
                eval_corpus, text_col=col_kw.get("text_col", "text"),
                id_col=col_kw.get("id_col", "doc_id"),
            )
            if eval_corpus is not None
            else None
        )
        ppl = (
            StreamingPerplexityFilter.from_corpus(
                corpus, threshold_x1e6=perplexity_threshold_x1e6, **col_kw
            )
            if perplexity_threshold_x1e6 is not None
            else None
        )
        dsir = (
            StreamingDSIRFilter(
                weights=dsir_weights, n_buckets=dsir_n_buckets, **col_kw
            )
            if dsir_weights is not None
            else None
        )
        embdedup = (
            StreamingEmbeddingDedup.from_corpus(
                embedding_corpus,
                id_col=col_kw.get("id_col", "doc_id"),
                vec_col=vec_col,
                threshold=embedding_threshold,
                verify_mode=embedding_verify_mode,
                bucket_partitions=embedding_bucket_partitions,
            )
            if embedding_corpus is not None
            else None
        )
        segdedup = (
            StreamingSegmentDedup.from_corpus(corpus, width=segment_width, **col_kw)
            if segment_width is not None
            else None
        )
        segquality = (
            StreamingSegmentQuality(
                width=segment_width if segment_width is not None else 10,
                threshold_x100=segment_quality_threshold_x100,
                **col_kw,
            )
            if segment_quality_threshold_x100 is not None
            else None
        )
        ann = None
        if ann_n_centroids is not None:
            if embedding_corpus is None:
                raise ValueError("ann_n_centroids requires embedding_corpus")
            from ml_with_spark_streaming_spark.operators.ann_index import IVFIndex

            idc = col_kw.get("id_col", "doc_id")
            ann = StreamingANNIndexMaintainer(
                index=IVFIndex.build(
                    embedding_corpus,
                    n_centroids=ann_n_centroids,
                    c_id=idc,
                    c_vec=vec_col,
                ),
                id_col=idc,
                vec_col=vec_col,
                corpus=embedding_corpus,
                refit_skew_threshold=ann_refit_skew_threshold,
            )
        return cls(
            dedup=StreamingIngestDedup.from_corpus(corpus, **dedup_kw),
            quality=StreamingQualityFilter(weights=weights, **col_kw),
            embdedup=embdedup,
            segdedup=segdedup,
            segquality=segquality,
            decon=decon,
            perplexity=ppl,
            dsir=dsir,
            ann_maintainer=ann,
            on_accepted=on_accepted,
        )

    def save_state(self, path: str) -> None:
        """Persist the WHOLE door as one unit: every configured gate's
        index/model artifacts (each via its own ``save_*`` contract,
        so compaction + params sidecars apply) plus one pipeline
        manifest carrying the stage configuration, the frozen scalar
        weights, and the ledger. The manifest is written LAST and
        atomically (tmp + rename): a crash mid-save leaves no
        committed manifest, and ``from_state`` refuses to resume from
        an uncommitted directory — the SCD2 state discipline applied
        to the composed pipeline."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        self.dedup.save_index(os.path.join(path, "dedup_index"))
        if self.embdedup is not None:
            self.embdedup.save_index(os.path.join(path, "emb_index"))
        if self.segdedup is not None:
            self.segdedup.save_index(os.path.join(path, "seg_index"))
        if self.decon is not None:
            self.decon.save_grams(os.path.join(path, "decon_grams"))
        if self.perplexity is not None:
            self.perplexity.save_model(os.path.join(path, "ppl_model"))
        if self.ann_maintainer is not None:
            self.ann_maintainer.save(os.path.join(path, "ann_index"))
        manifest = {
            "id_col": self.dedup.id_col,
            "text_col": self.dedup.text_col,
            "dedup": {
                "grow_index": self.dedup.grow_index,
                "compact_every": self.dedup.compact_every,
                "bloom_prefilter": self.dedup.bloom_prefilter,
            },
            "quality": {"weights": [[fb, int(w)] for fb, w in self.quality.weights]},
            "embdedup": (
                None
                if self.embdedup is None
                else {
                    "vec_col": self.embdedup.vec_col,
                    "grow_index": self.embdedup.grow_index,
                    "compact_every": self.embdedup.compact_every,
                    "dim": self.embdedup.dim,
                    "verify_mode": self.embdedup.verify_mode,
                    # bucket_partitions rides in the gate's own params
                    # sidecar (save_index) and is restored from it
                }
            ),
            "segdedup": (
                None
                if self.segdedup is None
                else {
                    "grow_index": self.segdedup.grow_index,
                    "compact_every": self.segdedup.compact_every,
                }
            ),
            "segquality": (
                None
                if self.segquality is None
                else {
                    "width": self.segquality.width,
                    "threshold_x100": self.segquality.threshold_x100,
                }
            ),
            "decon": (
                None
                if self.decon is None
                else {"bench_names": self.decon.bench_names}
            ),
            "perplexity": (
                None
                if self.perplexity is None
                else {
                    "threshold_x1e6": self.perplexity.threshold_x1e6,
                    "keep_unscored": self.perplexity.keep_unscored,
                }
            ),
            "dsir": (
                None
                if self.dsir is None
                else {
                    "weights": [[int(b), int(w)] for b, w in self.dsir.weights],
                    "n_buckets": self.dsir.n_buckets,
                }
            ),
            "ann_maintainer": (
                None
                if self.ann_maintainer is None
                else {
                    "vec_col": self.ann_maintainer.vec_col,
                    "refit_skew_threshold": self.ann_maintainer.refit_skew_threshold,
                }
            ),
            "ledger": self.ledger,
        }
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))

    @classmethod
    def from_state(
        cls,
        spark,
        path: str,
        corpus: DataFrame,
        on_accepted: object = None,
        ann_corpus: DataFrame | None = None,
    ) -> "StreamingIngestPipeline":
        """Resume the whole door from ``save_state`` artifacts — no
        corpus/eval/LM rescans; every gate loads its persisted index
        or frozen weights, and the ledger continues where it left off.
        ``corpus`` is the stored document corpus (the text-dedup
        gate's verify side — in production the durable doc store, so
        it is an input here, not part of the state dir)."""
        import json
        import os

        mpath = os.path.join(path, "MANIFEST.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"no committed pipeline manifest at {mpath} — "
                "save_state did not complete"
            )
        with open(mpath) as f:
            m = json.load(f)
        col_kw = {"id_col": m["id_col"], "text_col": m["text_col"]}
        dedup = StreamingIngestDedup.from_index_path(
            spark,
            corpus,
            os.path.join(path, "dedup_index"),
            grow_index=m["dedup"]["grow_index"],
            compact_every=m["dedup"]["compact_every"],
            bloom_prefilter=m["dedup"]["bloom_prefilter"],
            **col_kw,
        )
        quality = StreamingQualityFilter(
            weights=[(fb, int(w)) for fb, w in m["quality"]["weights"]], **col_kw
        )
        embdedup = None
        if m["embdedup"] is not None:
            embdedup = StreamingEmbeddingDedup.from_index_path(
                spark,
                os.path.join(path, "emb_index"),
                id_col=m["id_col"],
                vec_col=m["embdedup"]["vec_col"],
                grow_index=m["embdedup"]["grow_index"],
                compact_every=m["embdedup"]["compact_every"],
                dim=m["embdedup"]["dim"],
                verify_mode=m["embdedup"].get("verify_mode", "broadcast"),
            )
        segdedup = None
        if m["segdedup"] is not None:
            segdedup = StreamingSegmentDedup.from_index_path(
                spark,
                os.path.join(path, "seg_index"),
                grow_index=m["segdedup"]["grow_index"],
                compact_every=m["segdedup"]["compact_every"],
                **col_kw,
            )
        segquality = None
        if m["segquality"] is not None:
            segquality = StreamingSegmentQuality(
                width=m["segquality"]["width"],
                threshold_x100=m["segquality"]["threshold_x100"],
                **col_kw,
            )
        decon = None
        if m["decon"] is not None:
            decon = StreamingDecontaminationFilter.from_grams_path(
                spark,
                os.path.join(path, "decon_grams"),
                bench_names=m["decon"]["bench_names"],
                **col_kw,
            )
        ppl = None
        if m["perplexity"] is not None:
            ppl = StreamingPerplexityFilter.from_model_path(
                spark,
                os.path.join(path, "ppl_model"),
                threshold_x1e6=m["perplexity"]["threshold_x1e6"],
                keep_unscored=m["perplexity"]["keep_unscored"],
                **col_kw,
            )
        dsir = None
        if m["dsir"] is not None:
            dsir = StreamingDSIRFilter(
                weights=[(int(b), int(w)) for b, w in m["dsir"]["weights"]],
                n_buckets=m["dsir"]["n_buckets"],
                **col_kw,
            )
        ann = None
        if m.get("ann_maintainer") is not None:
            # the refit corpus resumes as (stored base corpus vectors =
            # the saved index's own accepted set is already inside the
            # artifact's `accepted` table; base vectors must be re-
            # supplied like `corpus` is for the text gate) — callers
            # pass them via ann_corpus when refit stays armed
            ann = StreamingANNIndexMaintainer.from_index_path(
                spark,
                os.path.join(path, "ann_index"),
                id_col=m["id_col"],
                vec_col=m["ann_maintainer"]["vec_col"],
                corpus=ann_corpus,
                refit_skew_threshold=(
                    m["ann_maintainer"]["refit_skew_threshold"]
                    if ann_corpus is not None
                    else None
                ),
                save_path=os.path.join(path, "ann_index"),
            )
        pipe = cls(
            dedup=dedup,
            quality=quality,
            embdedup=embdedup,
            segdedup=segdedup,
            segquality=segquality,
            decon=decon,
            perplexity=ppl,
            dsir=dsir,
            ann_maintainer=ann,
            on_accepted=on_accepted,
        )
        pipe.ledger.extend(m["ledger"])
        return pipe

    def _slots(self) -> list[tuple[object, str | None]]:
        """Every stage in door order with the ledger column recording
        its kept count (None: the stage has no column of its own).
        Unconfigured stages are None."""
        return [
            (self.dedup, "n_after_dedup"),
            (self.embdedup, "n_after_embdedup"),
            (self.segdedup, "n_after_rewrite"),
            (self.segquality, "n_after_segquality"),
            (self.decon, "n_after_decon"),
            (self.quality, "n_after_quality"),
            (self.perplexity, None),
            (self.dsir, None),
        ]

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if self.batch_partitions is not None:
            batch_df = batch_df.coalesce(self.batch_partitions).localCheckpoint(
                eager=True
            )
        slots = self._slots()
        stages = [stage for stage, _ in slots if stage is not None]

        def _run(i: int, df: DataFrame, bid: int) -> None:
            if i == len(stages):
                self._accept(batch_df, df, bid)
                return
            stage = stages[i]
            if i > 0 and stages[i - 1].history[-1][stages[i - 1].kept_key] == 0:
                stage.history.append(
                    {"batch_id": bid, **dict.fromkeys(stage.history_keys, 0)}
                )
                _run(i + 1, df, bid)
                return
            hook = stage.on_kept

            def on_kept(kept_df: DataFrame, b: int) -> None:
                if stage is self.embdedup:
                    idc = stage.id_col
                    kept_df = df.join(kept_df.select(idc), idc, "semi")
                if hook is not None:
                    hook(kept_df, b)
                _run(i + 1, kept_df, b)

            stage.on_kept = on_kept
            try:
                stage.process_batch(df, bid)
            finally:
                stage.on_kept = hook

        _run(0, batch_df, batch_id)
        n = self.dedup.history[-1]["n_docs"]
        row = {"batch_id": batch_id, "n_in": n}
        for stage, col in slots:
            if stage is not None:
                n = stage.history[-1][stage.kept_key]
            if col is not None:
                row[col] = n
        row["n_accepted"] = n
        self.ledger.append(row)

    def _accept(self, batch_df: DataFrame, final_df: DataFrame, bid: int) -> None:
        if self.ann_maintainer is not None:
            # the ACCEPTED ids' vectors, taken from the ORIGINAL batch
            idc = self.ann_maintainer.id_col
            vecs = batch_df.select(idc, self.ann_maintainer.vec_col).join(
                F.broadcast(final_df.select(idc)), idc, "semi"
            )
            self.ann_maintainer.process_batch(vecs, bid)
        if self.on_accepted is not None:
            self.on_accepted(final_df, bid)
