"""Incremental learners with distributed per-batch passes.

Design (SURVEY.md §7 step 5): MLlib has no ``partial_fit``, so each
learner keeps a tiny driver-side state vector — O(num_features), i.e.
2×2500 doubles for the reference's configuration — and updates it from
ONE distributed aggregation per batch. The data-sized work (feature
hashing, dot products, gradient terms) is all DataFrame ops:

* features live as an exploded ``(row_id, feature_idx, cnt)`` table —
  sparse, shuffled by hash, never densified;
* model application (dot product per row) is a **broadcast join**
  against the ≤num_features-row weights table, then
  ``groupBy(row_id).sum()`` — at 100 TB the weights broadcast to every
  executor and no all-to-all shuffle of the data side is keyed by
  anything but row_id;
* the per-batch state delta (sufficient statistics / gradient /
  centroid sums) comes back as ≤ num_features × n_classes rows.

Feature hashing note: term → ``pmod(hash(term), num_features)`` —
Spark SQL's builtin murmur3(seed 42). This is the engine's hashing
scheme; it is NOT bit-identical to ``pyspark.ml.HashingTF`` (which
uses a different murmur3 byte-variant), but has identical semantics
(hash-bucketed term frequencies, reference dimensionality 2500 from
PAC/passiveAgressiveModel.py:69). The MLlib-pipeline batch path
(functions/features.py) keeps real HashingTF; the incremental path
uses the SQL-native scheme so every hot-path expression stays in
whole-stage codegen.

Online-update semantics vs the reference: sklearn ``partial_fit``
consumes samples *sequentially within a batch*, so its result depends
on intra-batch row order — unreproducible on a distributed shuffle-
ordered batch. The engine defines the batch-parallel equivalents
(documented deviation, FIXTURES.md):
* BernoulliNB — EXACT: sufficient statistics are additive, so
  distributed counting gives bit-for-bit the same model as any
  sequential order;
* PA / SGD — one mini-batch gradient step per batch (average
  gradient at the batch-start weights), the standard parallel
  formulation of the same online rule;
* MiniBatchKMeans — per-batch assignment at batch-start centroids,
  then the sklearn mini-batch center update with per-center
  learning rate 1/total_count.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NUM_FEATURES = 2500  # reference: HashingTF(numFeatures=2500)


_DOC_MARKER = "\x00doc"  # NUL-prefixed: can never appear as a real token


class HashedFeatures:
    """Explode a token-array column into the sparse TF triple table
    ``(<id_col>, [extra_cols...,] fi, cnt)``; the Column expressions are
    built once, and calling the instance on a frame applies them.

    One narrow explode + one hash-shuffled count — the canonical
    sparse representation every learner here consumes.

    Rows with NO valid tokens (empty text after cleaning, or all
    stop-words) emit one sentinel row ``fi = -1`` instead of vanishing:
    sklearn predicts such rows from the all-zero vector and counts them
    in every metric denominator, so dropping them would silently skew
    batchsize/accuracy/F1 versus the reference. Learners ignore fi=-1
    in weight updates; scoring joins find no fi=-1 weight and fall back
    to the bias/prior, which IS the zero-vector prediction.

    ``doc_markers=True`` additionally emits exactly ONE ``fi = -2`` row
    per input document. A downstream counting aggregation can then read
    per-class DOC counts off the fi=-2 groups of a plain
    ``groupBy(label, fi).count()`` instead of needing a
    grouping-sets + count_distinct plan (Expand + a distinct-agg
    exchange pair per job — measurable on the 5 s streaming trigger
    budget). Marker rows carry weight 0 in every scoring path (all
    lookups gate on ``fi >= 0``), so they are invisible outside the
    counting use."""

    def __init__(
        self,
        terms_col: str = "terms",
        id_col: str = "row_id",
        num_features: int = NUM_FEATURES,
        extra_cols: tuple[str, ...] = (),
        doc_markers: bool = False,
    ) -> None:
        toks = F.array_remove(F.col(terms_col) if isinstance(terms_col, str) else terms_col, "")
        if doc_markers:
            toks = F.concat(F.array(F.lit(_DOC_MARKER)), toks)
        keep = [F.col(c) for c in (id_col, *extra_cols)]
        self._explode = [*keep, F.explode_outer(toks).alias("_t")]
        self._keys = [
            *keep,
            F.when(F.col("_t") == _DOC_MARKER, F.lit(-2))
            .when(F.col("_t").isNull(), F.lit(-1))
            .otherwise(F.pmod(F.hash("_t"), F.lit(num_features)))
            .alias("fi"),
        ]
        self._count = F.count("*").alias("cnt")

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.select(*self._explode).groupBy(*self._keys).agg(self._count)


def hashed_features(
    df: DataFrame,
    terms_col: str = "terms",
    id_col: str = "row_id",
    num_features: int = NUM_FEATURES,
    extra_cols: tuple[str, ...] = (),
    doc_markers: bool = False,
) -> DataFrame:
    """The sparse TF triple table of ``df`` (see ``HashedFeatures``)."""
    return HashedFeatures(terms_col, id_col, num_features, extra_cols, doc_markers)(df)


def _weights_df(spark: SparkSession, w: np.ndarray, col: str = "w") -> DataFrame:
    """≤num_features-row (fi, w) table from a dense numpy vector —
    zero entries dropped so the broadcast side stays minimal."""
    rows = [(int(i), float(v)) for i, v in enumerate(w) if v != 0.0]
    return spark.createDataFrame(rows or [(0, 0.0)], f"fi int, {col} double")


# Weight vectors up to this size are applied as an ARRAY-LITERAL lookup
# (``element_at(<array literal>, fi+1)``) instead of a broadcast join,
# saving a per-batch ``createDataFrame`` (driver-side row pickling) and a
# whole broadcast-exchange stage per scoring job. The array literal is
# delivered as ONE ``from_json`` string literal: building a 2500-element
# ``F.lit(list)`` costs ~1.2 s of element-wise py4j calls per batch,
# while a single JSON string costs ~1 py4j call and constant-folds into
# the same array literal at optimization time (measured p50 per scoring
# job at payload 1000: lit-list 1.28 s, from_json 0.41 s, Arrow
# broadcast join 0.41 s with one extra stage). JSON shortest-repr
# round-trips IEEE doubles exactly, so no precision is lost. Above the
# threshold (wide feature spaces) the broadcast-join form wins; both
# paths share the same semantics.
_LITERAL_WEIGHTS_MAX = 65536


def _weight_lookup(w: np.ndarray, fi_col: str = "fi"):
    """Column expr: w[fi] with 0.0 for the fi=-1 sentinel (and any
    out-of-range index)."""
    import json

    arr = F.from_json(F.lit(json.dumps([float(v) for v in w])), "array<double>")
    return F.when(
        F.col(fi_col) >= 0, F.element_at(arr, (F.col(fi_col) + 1).cast("int"))
    ).otherwise(F.lit(0.0))


class IncrementalBernoulliNB:
    """Bernoulli Naive Bayes with additive sufficient statistics.

    Reference path: sklearn.BernoulliNB.partial_fit
    (BNB/latest_Bnb.py:94). Statistics: per-class doc counts and
    per-(class, feature) presence counts — exactly additive across
    batches, so the incremental model equals the batch model.
    """

    def __init__(self, num_features: int = NUM_FEATURES, alpha: float = 1.0) -> None:
        self.num_features = num_features
        self.alpha = alpha
        self.class_count = np.zeros(2, dtype=np.int64)
        self.feat_count = np.zeros((2, num_features), dtype=np.int64)

    # -- state dict for the model registry -------------------------------
    def get_state(self) -> dict[str, np.ndarray]:
        return {"class_count": self.class_count, "feat_count": self.feat_count}

    def set_state(self, state: dict[str, np.ndarray]) -> None:
        self.class_count = np.asarray(state["class_count"], dtype=np.int64)
        self.feat_count = np.asarray(state["feat_count"], dtype=np.int64)

    def update(
        self,
        feats: DataFrame,
        id_col: str = "row_id",
        label_col: str = "target",
        doc_markers: bool = False,
    ) -> None:
        """ONE distributed pass collecting ≤ 2 × num_features + 2 rows.

        Default path: grouping sets ``((label, fi), (label))`` with a
        distinct-id count yield the per-(class, feature) presence
        counts AND the per-class document counts from a single
        aggregation job. Correctness leans on two invariants of the
        triple table: (row_id, fi) is unique (hashed_features groupBys
        on it), and every doc has ≥1 row (the fi=-1 sentinel) — so the
        (label)-only group's distinct-id count is exactly the doc
        count. The two grouping sets are told apart by ``grouping_id``
        (gid=1 means fi was rolled up), NOT by fi's nullness — a
        feature source that emitted a genuine NULL fi would otherwise
        be miscounted as a doc-count row.

        ``doc_markers=True`` (input built with
        ``hashed_features(doc_markers=True)``): the same statistics
        come from a plain ``groupBy(label, fi).count()`` — presence
        counts are the fi≥0 groups (count(*) == count_distinct(id)
        under the uniqueness invariant) and doc counts are the fi=-2
        marker groups. No Expand, no distinct-agg exchange pair: the
        streaming trainer's update job drops two stages.
        """
        if doc_markers:
            agg = feats.groupBy(label_col, "fi").agg(F.count("*").alias("n"))
            for r in agg.collect():
                fi = int(r["fi"])
                if fi == -2:
                    self.class_count[int(r[label_col])] += r["n"]
                elif fi >= 0:
                    self.feat_count[int(r[label_col]), fi] += r["n"]
            return
        agg = (
            feats.select(label_col, id_col, "fi")
            .groupingSets([[label_col, "fi"], [label_col]], label_col, "fi")
            .agg(F.count_distinct(id_col).alias("n"), F.grouping_id().alias("gid"))
        )
        for r in agg.collect():
            if r["gid"] == 1:  # the (label)-only grouping set: doc counts
                self.class_count[int(r[label_col])] += r["n"]
            elif r["fi"] is not None and int(r["fi"]) >= 0:  # fi=-1: no feature present
                self.feat_count[int(r[label_col]), int(r["fi"])] += r["n"]

    def _log_weights(self) -> tuple[np.ndarray, np.ndarray]:
        """Per-class smoothed log-odds weights and absence baselines.

        score_c(x) = log P(c) + Σ_i log(1 - p_ci) + Σ_{i present} w_ci
        with w_ci = log p_ci - log(1 - p_ci).
        """
        n_c = np.maximum(self.class_count, 0)[:, None].astype(np.float64)
        p = (self.feat_count + self.alpha) / (n_c + 2.0 * self.alpha)
        w = np.log(p) - np.log1p(-p)
        total = max(self.class_count.sum(), 1)
        prior = np.log(np.maximum(self.class_count, 1e-12) / total)
        base = prior + np.log1p(-p).sum(axis=1)
        return w, base

    def predict(
        self,
        feats: DataFrame,
        id_col: str = "row_id",
        extra_cols: tuple[str, ...] = (),
        assume_unique: bool = False,
    ) -> DataFrame:
        """Distributed scoring: broadcast the 2×F weight table, one
        join + one groupBy. Returns ``(<id_col>, [extra_cols...,]
        prediction)``.

        ``extra_cols`` ride through the aggregation (must be
        functionally dependent on ``id_col``, e.g. the row's label) —
        callers that need (label, prediction) pairs avoid a re-join
        against the input. ``assume_unique=True`` skips the Bernoulli
        presence ``distinct()`` when the caller guarantees (id, fi)
        uniqueness (hashed_features output already is) — one less
        shuffle on the streaming hot path."""
        spark = feats.sparkSession
        w, base = self._log_weights()
        delta = w[1] - w[0]  # decision only needs the class-score difference
        base_delta = float(base[1] - base[0])
        sel = feats.select(id_col, *extra_cols, "fi")
        if not assume_unique:
            sel = sel.distinct()  # Bernoulli: presence, not counts
        if self.num_features <= _LITERAL_WEIGHTS_MAX:
            scored = sel.groupBy(id_col, *extra_cols).agg(
                F.coalesce(F.sum(_weight_lookup(delta)), F.lit(0.0)).alias("s")
            )
        else:
            wdf = _weights_df(spark, delta, "w")
            scored = (
                sel.join(F.broadcast(wdf), "fi", "left")
                .groupBy(id_col, *extra_cols)
                .agg(F.coalesce(F.sum("w"), F.lit(0.0)).alias("s"))
            )
        return scored.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.when(F.col("s") + F.lit(base_delta) > 0, 1.0).otherwise(0.0).alias("prediction"),
        )


class IncrementalLinearClassifier:
    """Distributed online Passive-Aggressive / SGD-hinge classifier.

    Reference paths: sklearn.PassiveAggressiveClassifier.partial_fit
    (PAC/passiveAgressiveModel.py:93) and SGDClassifier.partial_fit
    (SGDC/sgdc.py:89). Labels in {0,1} map to y ∈ {-1,+1}.

    Update strategy — local sequential training + parameter averaging
    (the standard scalable formulation of online linear learning, cf.
    Zinkevich et al., "Parallelized Stochastic Gradient Descent",
    NeurIPS 2010): each batch is sharded by row-hash; every shard runs
    the exact sklearn-style SEQUENTIAL per-sample update (PA-I
    closed-form τ, or SGD hinge step) from the current weights inside
    one Arrow ``applyInPandas`` pass; the new weights are the
    shard-size-weighted average. Convergence per pass tracks the
    sequential algorithm (a single averaged-gradient step per batch
    was measured 0.51 vs 0.87 test accuracy after 3 passes).
    Deterministic: hash sharding + row_id-ordered replay within each
    shard. State leaving an executor is one weight vector per shard.

    The shard kernel (``_shard_trainer``) stable-sorts the shard's
    feature rows by row_id once, finds the row boundaries with NumPy
    and runs the per-row update over array slices — bit-identical to a
    per-row ``pandas.groupby`` replay (its oracle twin in
    tests/test_train_batch.py) at a fraction of the Python CPU.
    """

    def __init__(
        self,
        num_features: int = NUM_FEATURES,
        variant: str = "pa",
        C: float = 1.0,
        lr: float = 0.1,
        reg: float = 1e-4,
        n_shards: int = 8,
    ) -> None:
        if variant not in ("pa", "sgd"):
            raise ValueError(f"unknown variant: {variant}")
        self.num_features = num_features
        self.variant = variant
        self.C = C
        self.lr = lr
        self.reg = reg
        self.n_shards = n_shards
        self.w = np.zeros(num_features, dtype=np.float64)
        self.b = 0.0

    def get_state(self) -> dict[str, np.ndarray]:
        return {"w": self.w, "b": np.array([self.b])}

    def set_state(self, state: dict[str, np.ndarray]) -> None:
        self.w = np.asarray(state["w"], dtype=np.float64)
        self.b = float(np.asarray(state["b"]).ravel()[0])

    def _margins(self, feats: DataFrame, id_col: str, extra_cols: tuple[str, ...]) -> DataFrame:
        spark = feats.sparkSession
        cols = [id_col, *extra_cols]
        if self.num_features <= _LITERAL_WEIGHTS_MAX:
            return feats.groupBy(*cols).agg(
                (
                    F.coalesce(F.sum(F.col("cnt") * _weight_lookup(self.w)), F.lit(0.0))
                    + F.lit(self.b)
                ).alias("score")
            )
        wdf = _weights_df(spark, self.w, "w")
        return (
            feats.select(*cols, "fi", "cnt")
            .join(F.broadcast(wdf), "fi", "left")
            .groupBy(*cols)
            .agg((F.coalesce(F.sum(F.col("cnt") * F.col("w")), F.lit(0.0)) + F.lit(self.b)).alias("score"))
        )

    def _shard_trainer(self, id_col: str, label_col: str):
        """Build the applyInPandas body: sequential PA/SGD over one
        shard's rows (row_id order), emitting the shard's non-zero
        weights plus the bias as a sentinel fi=-1 row.

        The shard is sorted once by row_id with a STABLE sort, so each
        document's feature rows keep their delivered order and every
        dot product sums in the same order as a per-row ``groupby``
        would; the document boundaries come from one vectorized
        comparison and the update loop walks array slices."""
        import pandas as pd

        w0, b0 = self.w.copy(), self.b
        variant, C, lr, reg = self.variant, self.C, self.lr, self.reg

        def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
            w = w0.copy()
            b = b0
            rid = pdf[id_col].to_numpy()
            order = np.argsort(rid, kind="stable")
            rid = rid[order]
            new_doc = np.ones(len(rid), dtype=bool)
            new_doc[1:] = rid[1:] != rid[:-1]
            starts = np.flatnonzero(new_doc)
            ys = 2.0 * pdf[label_col].to_numpy(dtype=np.float64)[order][starts] - 1.0
            # fi=-1 sentinels and fi=-2 doc markers carry no feature:
            # drop them, and map each doc's row range onto the kept rows
            fi_all = pdf["fi"].to_numpy()[order]
            valid = fi_all >= 0
            bounds = np.concatenate(([0], np.cumsum(valid)))[np.append(starts, len(rid))]
            fi_v = fi_all[valid]
            cnt_v = pdf["cnt"].to_numpy(dtype=np.float64)[order][valid]
            for k, y in enumerate(ys.tolist()):
                fi = fi_v[bounds[k] : bounds[k + 1]]
                # a fresh (allocator-aligned) copy, not a view: numpy's
                # SIMD dot sums in an order that depends on the operand's
                # 16-byte alignment, and a view at an odd offset would
                # round differently from a per-row array
                cnt = cnt_v[bounds[k] : bounds[k + 1]].copy()
                margin = y * (float(w[fi] @ cnt) + b)
                if variant == "sgd":
                    # sklearn SGD shrinks by the L2 penalty on EVERY
                    # sample, not just margin violations
                    w *= 1.0 - lr * reg
                    if margin < 1.0:
                        w[fi] += lr * y * cnt
                        b += lr * y
                elif margin < 1.0:
                    tau = min(C, (1.0 - margin) / (float(cnt @ cnt) + 1.0))
                    w[fi] += tau * y * cnt
                    b += tau * y
            nz = np.nonzero(w)[0]
            return pd.DataFrame(
                {
                    "fi": np.append(nz, -1).astype("int64"),
                    "wv": np.append(w[nz], b),
                    "n": np.int64(len(starts)),
                }
            )

        return fn

    def update(
        self,
        feats: DataFrame,
        id_col: str = "row_id",
        label_col: str = "target",
        doc_markers: bool = False,
    ) -> None:
        """One pass: shard → local sequential updates → weighted
        parameter averaging. Collects ≤ n_shards × num_features rows
        (non-zero weights only). ``doc_markers`` inputs need no special
        handling (the shard trainer already masks fi<0 rows); the
        parameter exists for duck-type parity with the NB learner."""
        sharded = feats.withColumn("_shard", F.pmod(F.hash(id_col), F.lit(self.n_shards)))
        rows = (
            sharded.groupBy("_shard")
            .applyInPandas(self._shard_trainer(id_col, label_col), "fi long, wv double, n long")
            .collect()
        )
        if not rows:
            return
        totn = sum(r["n"] for r in rows if r["fi"] == -1)
        if not totn:
            return
        wsum = np.zeros(self.num_features, dtype=np.float64)
        bsum = 0.0
        for r in rows:
            if r["fi"] == -1:
                bsum += r["wv"] * r["n"]
            else:
                wsum[int(r["fi"])] += r["wv"] * r["n"]
        self.w = wsum / totn
        self.b = bsum / totn

    def predict(
        self,
        feats: DataFrame,
        id_col: str = "row_id",
        extra_cols: tuple[str, ...] = (),
        assume_unique: bool = False,
    ) -> DataFrame:
        """Returns ``(<id_col>, [extra_cols...,] prediction)`` with
        prediction ∈ {0.0, 1.0}. ``assume_unique`` is accepted for
        duck-type parity with the NB learner (counts-based scoring
        never needed the distinct)."""
        return self._margins(feats, id_col, extra_cols).select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.when(F.col("score") > 0, 1.0).otherwise(0.0).alias("prediction"),
        )


class MiniBatchKMeans:
    """Mini-batch k-means over hashed TF features.

    Reference path: sklearn.MiniBatchKMeans(n_clusters=2,
    batch_size=2048).partial_fit (KMEANS CLUSTERING/kmeans.py:155-157,
    92). Assignment and per-cluster sums are distributed; the centroid
    update touches k × num_features driver-side floats.
    """

    def __init__(self, k: int = 2, num_features: int = NUM_FEATURES, seed: int = 42) -> None:
        self.k = k
        self.num_features = num_features
        self.centroids = np.zeros((k, num_features), dtype=np.float64)
        self.counts = np.zeros(k, dtype=np.int64)
        self._rng = np.random.default_rng(seed)
        self._initialized = False

    def get_state(self) -> dict[str, np.ndarray]:
        return {"centroids": self.centroids, "counts": self.counts}

    def set_state(self, state: dict[str, np.ndarray]) -> None:
        self.centroids = np.asarray(state["centroids"], dtype=np.float64)
        self.counts = np.asarray(state["counts"], dtype=np.int64)
        self._initialized = bool(self.counts.sum())

    def _assignments(
        self, feats: DataFrame, id_col: str, extra_cols: tuple[str, ...] = ()
    ) -> DataFrame:
        """argmin_j ||x − c_j||² = argmin_j (||c_j||² − 2·x·c_j)
        (||x||² is constant per row). One broadcast join against the
        k-wide weight table, one groupBy — no densified vectors."""
        spark = feats.sparkSession
        if self.k * self.num_features <= _LITERAL_WEIGHTS_MAX:
            dots = (
                feats.select(id_col, *extra_cols, "fi", "cnt")
                .groupBy(id_col, *extra_cols)
                .agg(
                    *[
                        F.coalesce(
                            F.sum(F.col("cnt") * _weight_lookup(self.centroids[j])), F.lit(0.0)
                        ).alias(f"dot{j}")
                        for j in range(self.k)
                    ]
                )
            )
        else:
            rows = [
                (int(i), *[float(self.centroids[j, i]) for j in range(self.k)])
                for i in range(self.num_features)
                if any(self.centroids[j, i] != 0.0 for j in range(self.k))
            ]
            schema = "fi int, " + ", ".join(f"c{j} double" for j in range(self.k))
            cdf = spark.createDataFrame(rows or [tuple([0] + [0.0] * self.k)], schema)
            dots = (
                feats.select(id_col, *extra_cols, "fi", "cnt")
                .join(F.broadcast(cdf), "fi", "left")
                .groupBy(id_col, *extra_cols)
                .agg(
                    *[
                        F.coalesce(F.sum(F.col("cnt") * F.col(f"c{j}")), F.lit(0.0)).alias(f"dot{j}")
                        for j in range(self.k)
                    ]
                )
            )
        norms = [float(self.centroids[j] @ self.centroids[j]) for j in range(self.k)]
        dist_cols = [(F.lit(norms[j]) - 2.0 * F.col(f"dot{j}")).alias(f"d{j}") for j in range(self.k)]
        d = dots.select(id_col, *extra_cols, *dist_cols)
        # tie-break = lowest index: first j whose distance equals the min
        first_min = None
        for j in reversed(range(self.k)):
            cond = F.col(f"d{j}") == F.least(*[F.col(f"d{i}") for i in range(self.k)])
            first_min = F.lit(j) if first_min is None else F.when(cond, j).otherwise(first_min)
        return d.select(
            F.col(id_col), *[F.col(c) for c in extra_cols], first_min.cast("double").alias("prediction")
        )

    def update(
        self, feats: DataFrame, id_col: str = "row_id", doc_markers: bool = False
    ) -> None:
        """Assign at current centroids, then apply the sklearn
        mini-batch update: c_j ← c_j + (1/N_j)·Σ(x − c_j) with N_j the
        cumulative count. Collects ≤ k × num_features sum rows.
        ``doc_markers`` inputs need no special handling (every sum and
        seed already masks fi<0 rows); duck-type parity with NB."""
        if not self._initialized:
            # seed centroids from k distinct docs (deterministic: lowest
            # ids) — ONE filtered collect, not one scan per seed
            seed_ids = [
                r[id_col]
                for r in feats.select(id_col).distinct().orderBy(id_col).limit(self.k).collect()
            ]
            if not seed_ids:  # empty batch: stay uninitialized, no state change
                return
            seed_pos = {sid: j for j, sid in enumerate(seed_ids)}
            seed_rows = (
                feats.filter(F.col(id_col).isin(seed_ids) & (F.col("fi") >= 0))
                .select(id_col, "fi", "cnt")
                .collect()
            )
            for r in seed_rows:
                self.centroids[seed_pos[r[id_col]], int(r["fi"])] = float(r["cnt"])
            self._initialized = True
        # persist: the assignment plan (broadcast join + k-column agg)
        # backs BOTH the sums join and the sizes count below
        assign = self._assignments(feats, id_col).persist()
        try:
            joined = feats.select(id_col, "fi", "cnt").filter(F.col("fi") >= 0).join(assign, id_col)
            sums = joined.groupBy("prediction", "fi").agg(F.sum("cnt").alias("s")).collect()
            sizes = {
                int(r["prediction"]): r["n"]
                for r in assign.groupBy("prediction").agg(F.count("*").alias("n")).collect()
            }
        finally:
            assign.unpersist()
        batch_sum = np.zeros((self.k, self.num_features), dtype=np.float64)
        for r in sums:
            batch_sum[int(r["prediction"]), int(r["fi"])] = float(r["s"])
        for j in range(self.k):
            m = sizes.get(j, 0)
            if not m:
                continue
            self.counts[j] += m
            eta = m / self.counts[j]
            self.centroids[j] = (1 - eta) * self.centroids[j] + eta * (batch_sum[j] / m)

    def predict(
        self,
        feats: DataFrame,
        id_col: str = "row_id",
        extra_cols: tuple[str, ...] = (),
        assume_unique: bool = False,
    ) -> DataFrame:
        return self._assignments(feats, id_col, extra_cols)
