"""Ingest-time streaming dedup for the EMBEDDING modality: q100's
sign-LSH near-dup gate deployed as a micro-batch stage — the vector
sibling of ``streaming/ingest_dedup.py``'s text gate.

A production pipeline that stores embeddings alongside documents wants
the same at-the-door discipline for vectors it has for text: maintain
a persisted signature index over the accepted corpus, and check every
ingest drop against it BEFORE the vectors reach storage. This module
is that apply side:

* the index artifact is the per-vector band-signature table
  ``(vec_id, band_idx, band_bits)`` (``operators/similarity.py::
  signlsh_bands`` — the grouped form of which is exactly q100's
  candidate-bucket stage), checkpointed here, persisted/bucketed by
  ``(band_idx, band_bits)`` at scale;
* per micro-batch: signatures over the NEW slice only (seeded
  hyperplanes, so batch-side and index-side bits agree exactly), a
  hash join against the index yields candidate (batch, corpus) id
  pairs, and exact cosine over just those candidates gives the
  verdict — the batch never sees the corpus beyond its candidates.

Two selectable CANDIDATE-VERIFY implementations with identical
candidate generation and threshold semantics (mode parity is pinned
batch-by-batch by ``tests/test_embedding_dedup_stream.py``). One
caveat keeps that parity fixture-true rather than bitwise-structural:
broadcast mode folds the cosine in numpy float64 BLAS while join mode
folds it in Spark SQL expressions, so a different summation ORDER can
round differently in the last ulp — a vector sitting EXACTLY at the
threshold could in principle flip between modes. Real thresholds
(e.g. 0.9) on real data sit far from any ulp boundary; the pinned
fixtures include margin accordingly:

* ``verify_mode="broadcast"`` (default — the small/medium-corpus fast
  path): the reference vectors live in a driver-side CHUNK LIST of
  numpy matrices, each chunk shipped to executors as its own
  broadcast; one Arrow ``mapInPandas`` computes every batch row's
  cosines against its candidates' rows. An accepted batch broadcasts
  ONLY its own delta chunk — O(batch) driver copy and network, never
  a regrowing-matrix rebroadcast; ``compact()`` merges the chunks
  into one broadcast every ``compact_every`` accepted batches, so the
  O(corpus) reship is amortized exactly like the signature-index
  compaction it rides on. Driver RAM is corpus × dim × 8 B — the
  budget cap that makes this the SMALL-corpus mode.
* ``verify_mode="join"`` (the 100 TB path): candidates are joined to
  the corpus VECTOR TABLE — the batch side broadcasts (batch-bounded)
  and the corpus side streams through the hash join with no shuffle;
  nothing corpus-sized is ever collected to the driver or broadcast.
  With ``bucket_partitions=N`` the table carries (and ``save_index``
  persists, partitioned by) an id-hash bucket column ``_vb``, and the
  verify first filters to the batch's candidate buckets — a STATIC
  partition predicate, so the parquet scan reads only those
  directories instead of the whole corpus per micro-batch
  (partition-pruned plan pinned by test); accepted batches extend the
  table with appended slices, the same segment discipline as the
  band index.

Scopes, mirroring the text gate's contract:

* vs the CORPUS index (and, with ``grow_index=True``, vs every
  previously-accepted batch — each accepted batch appends one
  checkpointed signature slice + its vectors);
* WITHIN the batch, near-duplicates of the batch's FIRST vector per
  full-signature bucket (bit-identical signatures across ALL bands →
  candidate; exact cosine >= threshold vs the bucket's first →
  verdict; keep-first by id). The cosine verify matters: a full
  signature is a 32-bit hash of the vector, and two distinct
  sub-threshold vectors collide on all bits with small but real
  probability — without the verify one would be silently dropped.
  Two near vectors that land in DIFFERENT signature buckets are both
  admitted (and the second drop of either is then rejected against
  the grown index) — same documented semantics as the text gate.

Batch/stream parity is structural: the gate's candidate and verify
stages are the q100 operators; pinned by
``tests/test_embedding_dedup_stream.py``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.lineage import maybe_checkpoint
from ml_with_spark_streaming_spark.operators.similarity import (
    dot_expr,
    norm_expr,
    safe_denom,
    signlsh_bands,
)
from ml_with_spark_streaming_spark.streaming.foreach import ForeachBatchStage

_VERIFY_MODES = ("broadcast", "join")


def _make_verify_fn(chunk_bcasts, batch_bcast, id_col: str, threshold: float):
    """mapInPandas verifier for broadcast mode: for each batch row,
    exact float64 cosine of its vector against its candidate refs'
    rows in the broadcast reference CHUNKS; emit the id iff any ref
    clears the threshold. The input rows carry ONLY (id, candidate-ref
    ids) — the vectors come from the broadcasts, so the pair fan-out
    never serializes a vector. Each ref id is looked up across the
    chunk list (bounded by compact_every + 1 chunks between
    compactions); an id that appears in SEVERAL chunks (or several
    rows of one chunk — the corpus table keeps every row of a re-sent
    id) contributes ALL its vectors, exactly like the join-mode verify
    against the corpus table. safe_denom twin: zero norms divide as
    1."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        chunks = [bc.value for bc in chunk_bcasts]  # [(pos, mat, norms)]
        bvecs = batch_bcast.value
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                vecs, nrms = [], []
                for r in pdf["_refs"][i]:
                    for pos, mat, norms in chunks:
                        for j in pos.get(r, ()):
                            vecs.append(mat[j])
                            nrms.append(norms[j])
                if not vecs:
                    continue
                v = np.asarray(bvecs[pdf[id_col][i]], dtype=np.float64)
                nv = np.linalg.norm(v)
                m = np.stack(vecs)
                nm = np.asarray(nrms)
                cos = (m @ v) / (np.where(nm == 0, 1, nm) * (nv if nv else 1.0))
                if (cos >= threshold).any():
                    out.append(pdf[id_col][i])
            yield pd.DataFrame({id_col: out})

    return fn


def _cosine_np(a, b) -> float:
    """Driver-side float64 cosine, safe-denom twin of ``dot_expr /
    (safe_denom(norm) * safe_denom(norm))``."""
    import numpy as np

    va = np.asarray(a, dtype=np.float64)
    vb = np.asarray(b, dtype=np.float64)
    na = np.linalg.norm(va) or 1.0
    nb = np.linalg.norm(vb) or 1.0
    return float(va @ vb / (na * nb))


@dataclass
class StreamingEmbeddingDedup(ForeachBatchStage):
    """Per-micro-batch vector near-dup gate against the corpus
    signature index. ``on_kept`` receives each batch's accepted slice;
    ``history`` records (n_vecs / n_exact / n_near / n_kept)."""

    history_keys = ("n_vecs", "n_exact", "n_near", "n_kept")
    kept_key = "n_kept"

    corpus: DataFrame  # (id_col, vec_col) — the verify side
    band_index: DataFrame  # (id_col, band_idx, band_bits)
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    threshold: float = 0.95
    n_planes: int = 32
    bands: int = 4
    seed: int = 42
    dim: int | None = None
    grow_index: bool = True
    # candidate-verify implementation: "broadcast" (driver chunk list +
    # Arrow verify — the fast path while corpus × dim × 8 B fits a
    # driver RAM budget) or "join" (corpus vector table joined to the
    # broadcast batch side — the 100 TB path, nothing corpus-sized on
    # the driver). Verdict-parity pinned by test (fixture-true; see
    # the module doc's float-summation-order caveat for exact-at-
    # threshold vectors).
    verify_mode: str = "broadcast"
    # join-mode scan pruning: with N set, the vector table carries a
    # ``_vb = pmod(xxhash64(id), N)`` column, ``save_index`` persists
    # it PARTITIONED by _vb, and the verify filters the table to the
    # batch's candidate buckets before the join — the parquet scan
    # reads only those partitions (partition-pruned, pinned by test)
    # instead of the whole corpus per micro-batch. The candidate
    # bucket set is batch-bounded by construction.
    bucket_partitions: int | None = None
    on_kept: object = None
    history: list[dict] = field(default_factory=list)
    # merge accepted-batch slices back into one materialized table
    # every N accepted batches (the text gate's compaction contract:
    # without it a long-running gate's union chain grows per batch).
    # In broadcast mode this also merges the reference chunks into one
    # broadcast — the only time the full matrix ships.
    compact_every: int | None = 16
    # micro-batches are scheduling-bound, not compute-bound: a 500-row
    # batch spread over local[32]'s 32 default partitions pays ~0.5 s
    # of task scheduling PER ACTION (measured), so the batch is
    # coalesced to this many partitions at gate entry. None disables
    # (e.g. for genuinely large per-trigger volumes).
    batch_partitions: int | None = 8
    _since_compact: int = field(default=0, init=False, repr=False)
    # broadcast-mode state: a LIST of reference chunks, each one
    # broadcast handle whose value is (id->row dict, float64 matrix,
    # precomputed norms). Chunk 0 is the corpus (built once, O(corpus)
    # — the documented driver-RAM budget of this mode); every accepted
    # batch appends its own O(batch) delta chunk; compact() merges.
    # Always None in join mode (pinned by test).
    _ref_chunks: list | None = field(default=None, init=False, repr=False)

    # observability for the pruning pin: the bucket values the last
    # join-mode verify confined its corpus scan to (None = unpruned)
    _last_join_buckets: list | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.verify_mode not in _VERIFY_MODES:
            raise ValueError(
                f"verify_mode must be one of {_VERIFY_MODES}, got "
                f"{self.verify_mode!r}"
            )
        if self.bucket_partitions is not None:
            if self.verify_mode != "join":
                raise ValueError(
                    "bucket_partitions prunes the join-mode corpus scan; "
                    "broadcast mode never scans the corpus per batch — "
                    "set verify_mode='join' or drop bucket_partitions"
                )
            if "_vb" not in self.corpus.columns:
                self.corpus = self.corpus.withColumn(
                    "_vb", self._vb_expr(F.col(self.id_col))
                )

    def _vb_expr(self, col: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(col), F.lit(self.bucket_partitions)).cast("int")

    def _corpus_cols(self) -> list:
        cols = [self.id_col, self.vec_col]
        if self.bucket_partitions is not None:
            cols.append("_vb")
        return cols

    @classmethod
    def from_corpus(cls, corpus: DataFrame, **kw) -> "StreamingEmbeddingDedup":
        sig_kw = {
            k: kw[k]
            for k in ("n_planes", "bands", "seed", "dim")
            if k in kw
        }
        id_col = kw.get("id_col", "vec_id")
        vec_col = kw.get("vec_col", "embedding")
        idx = maybe_checkpoint(
            signlsh_bands(corpus, c_id=id_col, c_vec=vec_col, **sig_kw)
        )
        return cls(corpus=corpus, band_index=idx, **kw)

    def compact(self) -> None:
        """Re-materialize the grown index union into single
        checkpointed tables (the text gate's compaction: plan depth
        and pinned slice RDDs return to O(1); verdict-neutral — the
        union's CONTENT is unchanged, pinned by test). In broadcast
        mode, also merge the reference chunks into ONE broadcast — the
        amortization point for the full-matrix reship (ADVICE: never
        per accepted batch). At scale this is the segment-merge every
        vector store runs."""
        self.band_index = maybe_checkpoint(self.band_index)
        self.corpus = maybe_checkpoint(self.corpus.select(*self._corpus_cols()))
        if self._ref_chunks is not None and len(self._ref_chunks) > 1:
            import numpy as np

            sc = self.corpus.sparkSession.sparkContext
            vals = [bc.value for bc in self._ref_chunks]
            mat = np.concatenate([m for _p, m, _n in vals])
            norms = np.concatenate([n for _p, _m, n in vals])
            # merge the row-LIST maps: a duplicated id keeps every row
            # across chunks (compaction stays verdict-neutral)
            pos: dict = {}
            off = 0
            for p, m, _n in vals:
                for k, rows_ in p.items():
                    pos.setdefault(k, []).extend(off + j for j in rows_)
                off += len(m)
            merged = sc.broadcast((pos, mat, norms))
            for bc in self._ref_chunks:
                bc.unpersist()
            self._ref_chunks = [merged]
        self._since_compact = 0

    def save_index(self, path: str) -> None:
        """Persist the (possibly grown) artifacts: the band-signature
        table, the vector table (the verify side), and a params
        sidecar — band bits are a function of (n_planes, bands, seed),
        so resuming with different knobs would silently never match."""
        self.compact()
        self.band_index.write.mode("overwrite").parquet(f"{path}/band_index")
        w = self.corpus.select(*self._corpus_cols()).write.mode("overwrite")
        if self.bucket_partitions is not None:
            # the layout the join-mode pruning reads: one directory per
            # id-hash bucket, so the per-batch verify scan is confined
            # to the candidates' partitions
            w = w.partitionBy("_vb")
        w.parquet(f"{path}/vectors")
        spark = self.corpus.sparkSession
        spark.createDataFrame(
            [
                (
                    self.n_planes,
                    self.bands,
                    self.seed,
                    float(self.threshold),
                    self.bucket_partitions,
                )
            ],
            "n_planes int, bands int, seed int, threshold double, "
            "bucket_partitions int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")

    @classmethod
    def from_index_path(cls, spark, path: str, **kw) -> "StreamingEmbeddingDedup":
        """Resume a gate from ``save_index`` artifacts — no corpus
        rescan. Knobs come from the params sidecar; conflicting
        overrides raise (mismatched planes/bands/seed make every
        stored signature unmatchable — a silently broken gate)."""
        # bounded-collect: params sidecar is a single-row table
        p = spark.read.parquet(f"{path}/params").collect()[0]
        saved = {
            "n_planes": int(p["n_planes"]),
            "bands": int(p["bands"]),
            "seed": int(p["seed"]),
            "threshold": float(p["threshold"]),
        }
        if "bucket_partitions" in p.__fields__ and p["bucket_partitions"] is not None:
            bp = int(p["bucket_partitions"])
            mode = kw.get("verify_mode")
            if mode == "broadcast":
                # explicit opt-out: resume UNBUCKETED — broadcast mode
                # never scans the corpus per batch, the knob is moot
                # (and __post_init__ would refuse the combination)
                kw.pop("bucket_partitions", None)
            else:
                if mode is None:
                    # a bucketed artifact is a join-mode artifact: the
                    # knob exists only to prune the join-mode scan
                    kw["verify_mode"] = "join"
                if (
                    "bucket_partitions" in kw
                    and kw["bucket_partitions"] != bp
                ):
                    raise ValueError(
                        f"index at {path} was built with bucket_partitions={bp}; "
                        f"got bucket_partitions={kw['bucket_partitions']} — the _vb "
                        "partition values are a function of it; rebuild the index "
                        "or drop the override"
                    )
                kw["bucket_partitions"] = bp
        for name, val in saved.items():
            if name in kw and kw[name] != val:
                raise ValueError(
                    f"index at {path} was built with {name}={val}; "
                    f"got {name}={kw[name]} — rebuild the index or drop the override"
                )
            kw[name] = val
        return cls(
            corpus=spark.read.parquet(f"{path}/vectors"),
            band_index=spark.read.parquet(f"{path}/band_index"),
            **kw,
        )

    def _cosine(self, v1, v2) -> F.Column:
        return dot_expr(v1, v2) / (
            safe_denom(norm_expr(v1)) * safe_denom(norm_expr(v2))
        )

    # -- broadcast-mode reference chunks ------------------------------
    @staticmethod
    def _make_chunk(rows, dim):
        """(id -> ROW LIST, matrix, norms): the pos map carries every
        row of an id, so a re-sent id's old AND new vectors both
        verify — the same any-row semantics the join mode gets from
        the corpus table keeping both rows."""
        import numpy as np

        pos: dict = {}
        for i, r in enumerate(rows):
            pos.setdefault(r[0], []).append(i)
        mat = (
            np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
            if rows
            else np.zeros((0, dim or 1))
        )
        return pos, mat, np.linalg.norm(mat, axis=1)

    def _ensure_ref_chunks(self, sc) -> None:
        if self._ref_chunks is None:
            # bounded-collect: broadcast verify_mode is BY CONTRACT the
            # small-corpus path (driver RAM budget corpus x dim x 8 B,
            # module doc) and this init runs ONCE per gate life; the
            # scale path is verify_mode="join", which never collects
            rows = self.corpus.select(self.id_col, self.vec_col).collect()
            self._ref_chunks = [sc.broadcast(self._make_chunk(rows, self.dim))]

    def _grow_ref_chunks(self, sc, kept_rows) -> None:
        """Ship ONLY the accepted batch's delta as a new chunk —
        O(batch) driver copy + network; the existing chunks are
        untouched (no vstack of history, no full rebroadcast).
        compact() merges chunks back to one."""
        if not kept_rows:
            return
        self._ref_chunks = self._ref_chunks + [
            sc.broadcast(self._make_chunk(kept_rows, self.dim))
        ]

    # -- candidate verify, per mode ------------------------------------
    def _near_ids_broadcast(self, cand, b, bvecs, sc) -> set:
        """Exact cosine verify over candidates, broadcast mode. The
        pair fan-out is batch x dozens (8-bit bands give ~corpus/256
        refs per band per row), so attaching vectors per pair would
        push pair-count x dim doubles through the plan — instead the
        candidate ref LISTS are grouped per batch row (ints only) and
        one mapInPandas computes each row's cosines against the
        broadcast reference chunks (float64, safe-denom —
        bit-identical math)."""
        from pyspark.sql.types import StructField, StructType

        self._ensure_ref_chunks(sc)
        batch_bcast = sc.broadcast(bvecs)
        cand_sets = cand.groupBy(self.id_col).agg(
            F.collect_set(f"_ref_{self.id_col}").alias("_refs")
        )
        if self.batch_partitions is not None:
            cand_sets = cand_sets.coalesce(self.batch_partitions)
        verify = _make_verify_fn(
            list(self._ref_chunks), batch_bcast, self.id_col, self.threshold
        )
        # bounded-collect: near-duplicate ids are a subset of the batch
        near = {
            r[0]
            for r in cand_sets.mapInPandas(
                verify,
                StructType([StructField(self.id_col, b.schema[self.id_col].dataType)]),
            ).collect()  # bounded-collect: subset of the batch
        }
        batch_bcast.unpersist()
        return near

    def _near_ids_join(self, cand, b) -> set:
        """Exact cosine verify over candidates, join mode: candidates
        (with the batch vector attached from the broadcast batch side)
        join the corpus VECTOR TABLE on the ref id — the corpus-sized
        side streams through a hash join against the batch-bounded
        broadcast side; nothing corpus-sized reaches the driver, and
        the corpus is never shuffled. With ``bucket_partitions`` the
        scan is additionally confined to the candidates' id-hash
        partitions via a static isin predicate (module doc)."""
        ref_id = f"_ref_{self.id_col}"
        bv = b.withColumnRenamed(self.vec_col, "_bv")
        rv = self.corpus
        if self.bucket_partitions is not None:
            # confine the corpus scan to the candidates' id-hash
            # buckets: the isin filter is a static partition predicate,
            # so a partitioned vector table reads ONLY those dirs.
            # bounded-collect: distinct candidate buckets, batch-bounded
            vals = sorted(
                r[0]
                for r in cand.select(
                    self._vb_expr(F.col(ref_id)).alias("_vb")
                ).distinct().collect()
            )
            self._last_join_buckets = vals
            rv = rv.filter(F.col("_vb").isin(vals))
        rv = rv.select(
            F.col(self.id_col).alias(ref_id), F.col(self.vec_col).alias("_rv")
        )
        pairs = F.broadcast(cand.join(bv, self.id_col))
        near = (
            pairs.join(rv, ref_id)
            .filter(self._cosine(F.col("_bv"), F.col("_rv")) >= F.lit(self.threshold))
            .select(self.id_col)
            .distinct()
        )
        # bounded-collect: near-duplicate ids are a subset of the batch
        return {r[0] for r in near.collect()}

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(self.id_col, self.vec_col)
        if self.batch_partitions is not None:
            b = b.coalesce(self.batch_partitions)
        b = b.localCheckpoint(eager=True)
        n_in = b.count()
        if n_in == 0:
            self.history.append(
                {"batch_id": batch_id, "n_vecs": 0, "n_exact": 0, "n_near": 0, "n_kept": 0}
            )
            return
        if self.dim is None:
            # resolve once — a per-batch None would cost signlsh_bands
            # a first() action on EVERY batch
            self.dim = len(b.select(self.vec_col).first()[0])

        # ONE signature pass per batch: the bands=1 projection over the
        # seeded planes yields the full n_planes-bit string; the banded
        # index form is a JVM-side substring explode of it (band j ==
        # planes [j*rows, (j+1)*rows) — identical bits to a direct
        # banded call, pinned by test_embedding_dedup_stream).
        rows_per_band = self.n_planes // self.bands
        full_sig = maybe_checkpoint(
            signlsh_bands(
                b,
                n_planes=self.n_planes,
                bands=1,
                c_id=self.id_col,
                c_vec=self.vec_col,
                seed=self.seed,
                dim=self.dim,
            ).select(self.id_col, F.col("band_bits").alias("_sig"))
        )
        bb = (
            full_sig.select(
                self.id_col,
                "_sig",
                F.explode(F.sequence(F.lit(0), F.lit(self.bands - 1))).alias(
                    "band_idx"
                ),
            )
            .select(
                self.id_col,
                F.col("band_idx").cast("int").alias("band_idx"),
                F.expr(
                    f"substring(_sig, band_idx * {rows_per_band} + 1, {rows_per_band})"
                ).alias("band_bits"),
            )
        )

        # the batch's vectors, once, on the driver: the intra-batch
        # exact verify reads them in place, broadcast mode re-ships
        # them as the verify's batch side, and accepted rows become the
        # delta chunk — all without re-collecting.
        # bounded-collect: one micro-batch of vectors, O(batch) by
        # definition of the trigger
        sc = b.sparkSession.sparkContext
        bvecs = {r[0]: r[1] for r in b.collect()}

        # intra-batch duplicates: identical full signatures nominate a
        # candidate pair (id, bucket-first), keep-first by id — but a
        # full signature is a 32-bit hash, NOT vector equality, so the
        # exact cosine verifies each pair before anything is dropped
        # (two distinct sub-threshold vectors collide on all bits with
        # ~(1 - theta/pi)^n_planes probability). Signatures are
        # batch-count short strings, so the grouping+verify runs on the
        # driver against the collected batch — zero extra jobs.
        # bounded-collect: one signature row per batch row
        sig_rows = full_sig.collect()
        by_sig: dict = {}
        for r in sig_rows:
            by_sig.setdefault(r["_sig"], []).append(r[0])
        exact_drop_ids = set()
        for ids in by_sig.values():
            if len(ids) < 2:
                continue
            first = min(ids)
            for i in ids:
                if i != first and _cosine_np(bvecs[i], bvecs[first]) >= self.threshold:
                    exact_drop_ids.add(i)

        # candidates vs index: shared (band_idx, band_bits) bucket.
        # The BATCH side is the broadcast: a checkpointed batch has no
        # size stats, so without the hint Catalyst sort-merge-joins and
        # shuffles the whole corpus-sized index EVERY batch — the
        # broadcast keeps the index scan shuffle-free (and at scale,
        # bucket-pruned: the index is stored bucketed by
        # (band_idx, band_bits), so only matching buckets are read)
        ref_id = f"_ref_{self.id_col}"
        cand = (
            F.broadcast(bb)
            .join(
                self.band_index.withColumnRenamed(self.id_col, ref_id),
                ["band_idx", "band_bits"],
            )
            .select(self.id_col, ref_id)
        )
        if self.verify_mode == "join":
            near_drop_ids = self._near_ids_join(cand, b)
        else:
            near_drop_ids = self._near_ids_broadcast(cand, b, bvecs, sc)
        n_exact = len(exact_drop_ids)
        n_near = len(near_drop_ids)

        drop_ids = exact_drop_ids | near_drop_ids
        kept_rows = [(i, v) for i, v in bvecs.items() if i not in drop_ids]
        if drop_ids:
            from pyspark.sql.types import StructField, StructType

            drops_df = b.sparkSession.createDataFrame(
                [(i,) for i in sorted(drop_ids)],
                StructType([StructField(self.id_col, b.schema[self.id_col].dataType)]),
            )
            kept = b.join(
                F.broadcast(drops_df), self.id_col, "anti"
            ).localCheckpoint(eager=True)
        else:
            kept = b
        n_kept = n_in - len(drop_ids)
        self.history.append(
            {
                "batch_id": batch_id,
                "n_vecs": n_in,
                "n_exact": int(n_exact),
                "n_near": int(n_near),
                "n_kept": int(n_kept),
            }
        )
        if self.grow_index and n_kept:
            kept_sig = maybe_checkpoint(
                bb.join(F.broadcast(kept.select(self.id_col)), self.id_col)
            )
            self.band_index = self.band_index.unionByName(kept_sig)
            kept_slice = kept.select(self.id_col, self.vec_col)
            if self.bucket_partitions is not None:
                kept_slice = kept_slice.withColumn(
                    "_vb", self._vb_expr(F.col(self.id_col))
                )
            self.corpus = self.corpus.select(*self._corpus_cols()).unionByName(
                kept_slice
            )
            if self._ref_chunks is not None:
                # broadcast mode only: ship the delta chunk from the
                # already-collected batch vectors (no extra job)
                self._grow_ref_chunks(sc, kept_rows)
            self._since_compact += 1
            if self.compact_every is not None and self._since_compact >= self.compact_every:
                self.compact()
        if self.on_kept is not None:
            self.on_kept(kept, batch_id)
