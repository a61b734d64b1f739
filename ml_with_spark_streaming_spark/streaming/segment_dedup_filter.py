"""Ingest-time streaming segment dedup: q137's paragraph-level cut
deployed as a micro-batch REWRITE stage.

Unlike the document gates (quality/decon/perplexity/DSIR keep or drop
whole docs), this stage rewrites: segments of an incoming document
that already exist anywhere in the corpus — or earlier in the same
drop — are cut, and the document continues through the pipeline as its
surviving text (dropped entirely only when nothing survives). This is
how boilerplate is kept out of a growing corpus at the door instead of
by periodic batch sweeps.

The corpus state is ONE artifact: the distinct segment-hash set
(16-hex md5 prefixes — the same narrow keys as q137). Per batch the
work is one segmentation pass over the drop, one window for
within-batch first-occurrence, one hash join against the index, one
per-doc regroup; accepted batches append their NOVEL surviving-segment
hashes as materialized slices, and ``compact()`` merges slices back
into the base index every ``compact_every`` accepted batches (the
q105-gate compaction discipline, so plan depth never grows with gate
lifetime).

Batch/stream parity is structural and EXACT (pinned by
tests/test_segment_dedup_stream.py): processing drops b1, b2, ... via
this gate yields, for every batch document, byte-identical rewritten
text to running the batch operator ``segment_dedup`` over
corpus ∪ b1 ∪ b2 ∪ ... with ids ordered corpus < b1 < b2 — growing the
index with surviving segments only is exactly union-first-occurrence
semantics, because a segment cut from a drop was cut precisely when
its hash was already indexed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.lineage import maybe_checkpoint
from ml_with_spark_streaming_spark.operators.segment_dedup import (
    DEFAULT_WIDTH,
    segment_table,
)
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage


def _seg_hash(para: Column) -> Column:
    return F.substring(F.md5(F.encode(para, "UTF-8")), 1, 16)


def build_segment_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """The distinct segment-hash set of the existing corpus — one
    segmentation pass; checkpointed (at scale: persisted parquet,
    bucketed by hash, appended per accepted drop)."""
    segs = segment_table(corpus, text_col, id_col, width)
    return maybe_checkpoint(segs.select(_seg_hash(F.col("para")).alias("h")).distinct())


@dataclass
class StreamingSegmentDedup(ForeachBatchStage):
    """Per-micro-batch segment-level rewrite against the corpus
    segment-hash index. ``on_kept`` receives the REWRITTEN documents
    (original id, surviving text) — fully-boilerplate docs are dropped.
    History rows: (batch_id, n_docs, n_segs, n_cut, n_docs_kept)."""

    history_keys = ("n_docs", "n_segs", "n_cut", "n_docs_kept")
    kept_key = "n_docs_kept"

    seg_index: DataFrame
    width: int = DEFAULT_WIDTH
    id_col: str = "doc_id"
    text_col: str = "text"
    grow_index: bool = True
    compact_every: int = 8
    on_kept: object = None
    history: list[dict] = field(default_factory=list)
    _slices: list[DataFrame] = field(default_factory=list)
    _accepted_since_compact: int = 0

    @classmethod
    def from_corpus(cls, corpus: DataFrame, **kw) -> "StreamingSegmentDedup":
        col_kw = {k: kw[k] for k in ("text_col", "id_col", "width") if k in kw}
        return cls(seg_index=build_segment_index(corpus, **col_kw), **kw)

    def _full_index(self) -> DataFrame:
        idx = self.seg_index
        for s in self._slices:
            idx = idx.unionByName(s)
        return idx

    def compact(self) -> None:
        """Merge accepted-slice hashes into the base index and reset
        the union — verdicts are invariant (set union is the state)."""
        if not self._slices:
            return
        self.seg_index = maybe_checkpoint(self._full_index().distinct())
        self._slices = []
        self._accepted_since_compact = 0

    def save_index(self, path: str) -> None:
        """Persist the (possibly grown) segment-hash set as parquet —
        the durable artifact a restarted gate resumes from. Compacts
        first, so the artifact is always one merged table; a params
        sidecar stores the segment width (hashes are a function of the
        segmentation, so resuming with a different width would
        silently never match)."""
        self.compact()
        self.seg_index.write.mode("overwrite").parquet(f"{path}/seg_index")
        self.seg_index.sparkSession.createDataFrame(
            [(self.width,)], "width int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")

    @classmethod
    def from_index_path(cls, spark, path: str, **kw) -> "StreamingSegmentDedup":
        """Resume a gate from a persisted index (``save_index``) — no
        corpus rescan. Width comes from the params sidecar; passing a
        conflicting width raises."""
        p = spark.read.parquet(f"{path}/params").collect()[0]  # bounded-collect: single-row params sidecar
        if "width" in kw and kw["width"] != int(p["width"]):
            raise ValueError(
                f"index at {path} was built with width={int(p['width'])}; "
                f"got width={kw['width']} — rebuild the index or drop the override"
            )
        kw["width"] = int(p["width"])
        return cls(seg_index=spark.read.parquet(f"{path}/seg_index"), **kw)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            self.history.append(
                {
                    "batch_id": batch_id,
                    "n_docs": 0,
                    "n_segs": 0,
                    "n_cut": 0,
                    "n_docs_kept": 0,
                }
            )
            return
        id_col = self.id_col
        segs = segment_table(batch_df, self.text_col, id_col, self.width).withColumn(
            "h", _seg_hash(F.col("para"))
        )
        w = W.partitionBy("h").orderBy(id_col, "pos")
        idx = self._full_index().withColumn("_seen", F.lit(1))
        # materialized once: both the per-doc regroup and the
        # novel-hash slice consume it
        marked = maybe_checkpoint(
            segs.withColumn("_first", F.row_number().over(w) == 1)
            .join(idx, "h", "left")
            .withColumn("keep", F.col("_first") & F.col("_seen").isNull())
        )
        per_doc = marked.groupBy(id_col).agg(
            F.sort_array(F.collect_list(F.struct("pos", "keep", "para"))).alias("_s")
        )
        kept_arr = F.filter(F.col("_s"), lambda s: s["keep"])
        docs = per_doc.select(
            F.col(id_col),
            F.size("_s").cast("long").alias("n_segs"),
            F.size(kept_arr).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(kept_arr, lambda s: s["para"]), " "
            ).alias("text_kept"),
        )
        docs = docs.persist()
        try:
            agg = docs.agg(
                F.count("*").alias("nd"),
                F.sum("n_segs").alias("ns"),
                F.sum(F.col("n_segs") - F.col("n_kept")).alias("nc"),
                F.sum((F.col("n_kept") > 0).cast("long")).alias("nk"),
            ).collect()[0]  # bounded-collect: single aggregate row
            n_in = batch_df.count()
            self.history.append(
                {
                    "batch_id": batch_id,
                    "n_docs": int(n_in),
                    "n_segs": int(agg["ns"] or 0),
                    "n_cut": int(agg["nc"] or 0),
                    "n_docs_kept": int(agg["nk"] or 0),
                }
            )
            if self.grow_index:
                novel = (
                    marked.filter("keep").select(F.col("h")).distinct()
                )
                self._slices.append(maybe_checkpoint(novel))
                self._accepted_since_compact += 1
                if self._accepted_since_compact >= self.compact_every:
                    self.compact()
            if self.on_kept is not None:
                kept_docs = docs.filter(F.col("n_kept") > 0).select(
                    F.col(id_col), F.col("text_kept").alias(self.text_col)
                )
                self.on_kept(kept_docs, batch_id)
        finally:
            docs.unpersist()
