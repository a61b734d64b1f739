"""Ingest-time streaming dedup: q105's new-batch-vs-corpus gates
deployed as a micro-batch stage.

A production corpus pipeline maintains two append-only index artifacts
— the exact-fingerprint set and the MinHash LSH band table — and checks
every ingest drop against them BEFORE the documents reach storage
(the "per-drop cost is signatures over the new slice + two hash joins"
shape the q105 docstring describes). This module is that apply side:

* ``build_corpus_index`` builds both artifacts in one signature pass
  over the existing corpus (in production they are persisted, bucketed
  by hash, and appended per accepted drop — here they are checkpointed
  DataFrames);
* ``StreamingIngestDedup.process_batch`` runs the identical gate plan
  the batch query (q105) uses on each micro-batch: exact = fingerprint
  semi-join against the index; near = batch-side LSH bands hash-joined
  to the corpus band table, candidates verified with exact Jaccard
  (``jaccard_verify`` — token sets semi-joined down to candidate ids,
  so the static corpus is never rescanned beyond the candidates).

Batch/stream parity is structural — the same operators produce the
verdict, pinned by ``tests/test_ingest_dedup_stream.py``. Document ids
must be globally unique across corpus and stream (true of any
production doc-id scheme; q105's unified table makes the same
assumption).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage

from ml_with_spark_streaming_spark.lineage import maybe_checkpoint
from ml_with_spark_streaming_spark.operators.dedup import (
    jaccard_verify,
    lsh_bands,
    minhash_signatures,
)
from ml_with_spark_streaming_spark.operators.bloom import (
    bloom_build,
    bloom_or,
    bloom_probe,
    bloom_words,
)
from ml_with_spark_streaming_spark.operators.textstats import fingerprint_expr


def build_corpus_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """The two dedup index artifacts over the existing corpus:
    ``(fp_index, band_index)`` — distinct 8-token-prefix fingerprints,
    and the (band_idx, band_hash, id) MinHash band table. One
    fingerprint pass + one signature pass; both checkpointed (at scale:
    persisted parquet, bucketed by fp / band_hash, appended per drop)."""
    fps = corpus.select(fingerprint_expr(text_col, 8).alias("fp")).distinct()
    banded = lsh_bands(
        minhash_signatures(corpus, text_col, id_col, k=k), id_col, k, bands
    )
    return maybe_checkpoint(fps), maybe_checkpoint(banded)


@dataclass
class StreamingIngestDedup(ForeachBatchStage):
    """Per-micro-batch dedup gate against the corpus index.

    Duplicates are caught across THREE scopes: vs the corpus index,
    WITHIN the batch (keep-first by id — two copies of a novel doc in
    one drop admit only the first), and vs previously-ACCEPTED batches
    (``grow_index=True``, the default, appends each accepted batch's
    fingerprints and bands as ONE materialized slice — at scale the
    append to the persisted index files). ``compact()`` merges the
    accumulated slices back into single index tables every
    ``compact_every`` accepted batches and before ``save_index``, so
    neither plan depth nor artifact file count grows with the life of
    the gate; verdicts are compaction-invariant (pinned by test).

    ``on_kept`` (optional) receives each batch's accepted slice — the
    write-to-storage hook. ``history`` records per-batch totals
    (n_docs / n_exact / n_near / n_kept) for drift monitoring.
    """

    history_keys = ("n_docs", "n_exact", "n_near", "n_kept")
    kept_key = "n_kept"

    corpus: DataFrame
    fp_index: DataFrame
    band_index: DataFrame
    id_col: str = "doc_id"
    text_col: str = "text"
    threshold: float = 0.9
    k: int = 16
    bands: int = 4
    grow_index: bool = True
    on_kept: object = None
    history: list[dict] = field(default_factory=list)
    # accepted docs' (id, text) — the verify side for near-dup matches
    # against previously-accepted batches (grown with the index; at
    # scale this IS the stored corpus the index points into)
    accepted_docs: DataFrame | None = None
    # merge accepted-batch slices back into one materialized index
    # table every N accepted batches (None disables auto-compaction;
    # compact() can still be called explicitly). Each accepted batch
    # appends ONE checkpointed slice to the index union — O(batch)
    # per-batch cost — but the union's plan depth and pinned slice
    # count grow until compact() collapses them.
    compact_every: int | None = 16
    # Bloom prefilter over the fingerprint index: per batch, only docs
    # whose fingerprint is bloom-POSITIVE enter the exact-index join —
    # in the steady state where most ingest is novel, the join input
    # shrinks to the (actual duplicates + ~fp-rate) slice, and at
    # production scale the definite-negative docs never touch the
    # persisted index at all. No false negatives by construction, so
    # the gate's verdicts are prefilter-invariant (pinned by test).
    # The bitmap is sized from the initial index with 16 bits/key
    # headroom; grow-on-accept ORs each accepted slice's words in
    # (O(bitmap) per batch, corpus-size-independent). Growth can only
    # saturate the filter — a perf regression, never a correctness one.
    bloom_prefilter: bool = False
    _bloom_knob: DataFrame | None = field(default=None, init=False, repr=False)
    _bloom_bitmap: DataFrame | None = field(default=None, init=False, repr=False)
    _since_compact: int = field(default=0, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.bloom_prefilter:
            knob, bitmap = bloom_build(self.fp_index, "fp", bits_per_key=16)
            self._bloom_knob = maybe_checkpoint(knob)
            self._bloom_bitmap = maybe_checkpoint(bitmap)

    @classmethod
    def from_corpus(cls, corpus: DataFrame, **kw) -> "StreamingIngestDedup":
        idx_kw = {k: kw[k] for k in ("id_col", "text_col", "k", "bands") if k in kw}
        fp_index, band_index = build_corpus_index(corpus, **idx_kw)
        return cls(corpus=corpus, fp_index=fp_index, band_index=band_index, **kw)

    def compact(self) -> None:
        """Merge the accepted-batch slices back into ONE materialized
        table per index artifact and reset the union chain.

        The grow-on-accept path appends one checkpointed slice per
        accepted batch; without compaction a long-running gate
        accumulates an unbounded union — plan depth, task count, and
        pinned slice RDDs all grow with batches ingested, and a
        save_index/resume cycle inherits the fragmentation as one
        parquet file-set per slice. Compaction re-materializes each
        union into a single checkpointed table (the old slice RDDs
        unpin once unreferenced), so probe-join plan depth returns to
        O(1). At scale this is the index-file rewrite every corpus
        store performs (merge small appended segments into the base);
        here it is a localCheckpoint of the union. Runs automatically
        every ``compact_every`` accepted batches and before
        ``save_index``; verdict-neutral by construction — the union's
        CONTENT is unchanged (pinned by
        tests/test_ingest_dedup_stream.py)."""
        self.fp_index = maybe_checkpoint(self.fp_index)
        self.band_index = maybe_checkpoint(self.band_index)
        if self.accepted_docs is not None:
            self.accepted_docs = maybe_checkpoint(self.accepted_docs)
        self._since_compact = 0

    def save_index(self, path: str) -> None:
        """Persist the (possibly grown) index artifacts as parquet —
        the durable form a restarted gate resumes from, written after
        a drop completes so accepted docs' entries survive.
        Compacts first: the parquet artifacts are always the merged
        single-table form, never one file-set per accepted slice. The grown
        ``accepted_docs`` table is included (it is the verify side for
        near-dup checks against accepted content), as is a params
        sidecar (k/bands/threshold): band hashes are a function of
        k and bands, so resuming with different knobs would silently
        never match the stored bands."""
        self.compact()
        self.fp_index.write.mode("overwrite").parquet(f"{path}/fp_index")
        self.band_index.write.mode("overwrite").parquet(f"{path}/band_index")
        acc = self.accepted_docs
        if acc is None:
            acc = self.corpus.select(self.id_col, self.text_col).limit(0)
        acc.write.mode("overwrite").parquet(f"{path}/accepted_docs")
        spark = self.corpus.sparkSession
        spark.createDataFrame(
            [(self.k, self.bands, float(self.threshold))],
            "k int, bands int, threshold double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")

    @classmethod
    def from_index_path(
        cls, spark, corpus: DataFrame, path: str, **kw
    ) -> "StreamingIngestDedup":
        """Resume a gate from persisted index artifacts (``save_index``)
        — no corpus rescan; the signature/fingerprint passes happened
        when the index was built. k/bands/threshold come from the
        saved params sidecar; passing conflicting values raises (a
        mismatched k or bands would make every stored band hash
        unmatchable — a silently broken gate)."""
        p = spark.read.parquet(f"{path}/params").collect()[0]  # bounded-collect: single-row params sidecar
        saved = {"k": int(p["k"]), "bands": int(p["bands"]), "threshold": float(p["threshold"])}
        for name, val in saved.items():
            if name in kw and kw[name] != val:
                raise ValueError(
                    f"index at {path} was built with {name}={val}; "
                    f"got {name}={kw[name]} — rebuild the index or drop the override"
                )
            kw[name] = val
        accepted = spark.read.parquet(f"{path}/accepted_docs")
        return cls(
            corpus=corpus,
            fp_index=spark.read.parquet(f"{path}/fp_index"),
            band_index=spark.read.parquet(f"{path}/band_index"),
            accepted_docs=None if accepted.isEmpty() else accepted,
            **kw,
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idc, txc = self.id_col, self.text_col
        # at-least-once sources can replay a record INTO the same
        # micro-batch: identical rows with the same id are one logical
        # document, not duplicates of each other — collapse them first
        # (ids are assumed immutable: same id -> same text)
        batch_df = batch_df.dropDuplicates([idc]).persist()
        try:
            fps = batch_df.select(idc, fingerprint_expr(txc, 8).alias("fp"))
            # exact: vs the index, OR a later copy within this batch
            # (keep-first by id — row_number over the batch's fp groups)
            wfp = W.partitionBy("fp").orderBy(idc)
            fps = fps.withColumn("_rn", F.row_number().over(wfp))
            probe_fps = fps
            if self.bloom_prefilter:
                # definite-new fingerprints (bloom-negative) skip the
                # index join entirely; no false negatives, so nothing
                # a prefilter-less gate would flag can slip through
                pos_fp = (
                    bloom_probe(
                        fps.select("fp").distinct(),
                        "fp",
                        self._bloom_knob,
                        self._bloom_bitmap,
                    )
                    .filter(F.col("bloom_positive") == 1)
                    .select("fp")
                )
                probe_fps = fps.join(pos_fp, "fp", "left_semi")
            exact_ids = (
                probe_fps.join(self.fp_index, "fp", "left_semi")
                .select(idc)
                .unionByName(fps.filter(F.col("_rn") > 1).select(idc))
                .distinct()
                .withColumn("_exact", F.lit(1))
            )
            new_bands = lsh_bands(
                minhash_signatures(batch_df, txc, idc, k=self.k), idc, self.k, self.bands
            )
            nb1 = new_bands.select(F.col(idc).alias("id1"), "band_idx", "band_hash")
            # near candidates: vs the corpus index, plus EARLIER (lower
            # id) docs of this same batch
            cand = (
                nb1.join(
                    self.band_index.select(
                        F.col(idc).alias("id2"), "band_idx", "band_hash"
                    ),
                    ["band_idx", "band_hash"],
                )
                .select("id1", "id2")
                .unionByName(
                    nb1.join(
                        new_bands.select(
                            F.col(idc).alias("id2"), "band_idx", "band_hash"
                        ),
                        ["band_idx", "band_hash"],
                    )
                    .filter(F.col("id1") > F.col("id2"))
                    .select("id1", "id2")
                )
                .distinct()
            )
            both = batch_df.select(idc, txc).unionByName(
                self.corpus.select(idc, txc)
            )
            if self.accepted_docs is not None:
                both = both.unionByName(self.accepted_docs)
            near_ids = (
                jaccard_verify(cand, both, txc, idc, threshold=self.threshold)
                .select(F.col("id1").alias(idc))
                .distinct()
                .withColumn("_near", F.lit(1))
            )
            flagged = (
                batch_df.join(exact_ids, idc, "left")
                .join(near_ids, idc, "left")
                .withColumn(
                    "_keep", F.col("_exact").isNull() & F.col("_near").isNull()
                )
            ).persist()
            try:
                agg = flagged.agg(
                    F.count("*").alias("n"),
                    F.sum(F.coalesce("_exact", F.lit(0))).alias("ex"),
                    F.sum(F.coalesce("_near", F.lit(0))).alias("nr"),
                    F.sum(F.col("_keep").cast("long")).alias("kept"),
                ).collect()[0]  # bounded-collect: single aggregate row
                self.history.append(
                    {
                        "batch_id": batch_id,
                        "n_docs": int(agg["n"]),
                        "n_exact": int(agg["ex"] or 0),
                        "n_near": int(agg["nr"] or 0),
                        "n_kept": int(agg["kept"] or 0),
                    }
                )
                if self.on_kept is not None:
                    self.on_kept(
                        flagged.filter("_keep").drop("_keep", "_exact", "_near"),
                        batch_id,
                    )
                if self.grow_index:
                    # accepted docs join the index, so duplicates of an
                    # accepted doc in LATER batches are rejected too.
                    # Only the NEW slice is checkpointed (it derives
                    # from the transient batch_df, which unpersists at
                    # batch end, so it must materialize NOW): per-batch
                    # cost is O(batch), not O(grown index). The union
                    # itself stays lazy; compact() periodically
                    # collapses the slice chain (at scale: the append
                    # to + rewrite of the persisted index files).
                    # No distinct: kept fps can be in neither the index
                    # (they'd have been flagged exact) nor each other
                    # (keep-first admits one doc per fp) — the union is
                    # duplicate-free by construction, and a per-batch
                    # distinct would shuffle the WHOLE grown index.
                    kept_ids = flagged.filter("_keep").select(idc)
                    kept_fps = maybe_checkpoint(
                        fps.join(kept_ids, idc, "left_semi").select("fp")
                    )
                    self.fp_index = self.fp_index.unionByName(kept_fps)
                    if self.bloom_prefilter:
                        # OR the accepted slice's words in — the bitmap
                        # stays ONE unique-word table (probe invariant),
                        # at O(bitmap)+O(batch) cost per accepted batch
                        self._bloom_bitmap = maybe_checkpoint(
                            bloom_or(
                                self._bloom_bitmap,
                                bloom_words(kept_fps, "fp", self._bloom_knob),
                            )
                        )
                    self.band_index = self.band_index.unionByName(
                        maybe_checkpoint(new_bands.join(kept_ids, idc, "left_semi"))
                    )
                    kept_docs = maybe_checkpoint(
                        flagged.filter("_keep").select(idc, txc)
                    )
                    self.accepted_docs = (
                        kept_docs
                        if self.accepted_docs is None
                        else self.accepted_docs.unionByName(kept_docs)
                    )
                    self._since_compact += 1
                    if (
                        self.compact_every is not None
                        and self._since_compact >= self.compact_every
                    ):
                        self.compact()
            finally:
                flagged.unpersist()
        finally:
            batch_df.unpersist()
