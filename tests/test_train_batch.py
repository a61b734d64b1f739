"""Pins for the streaming trainer's per-batch path.

* The PA/SGD shard kernel (``IncrementalLinearClassifier._shard_trainer``)
  must return bit-identical ``(fi, wv, n)`` to its declared oracle twin,
  the per-row ``pandas.groupby`` loop kept below.
* ``StreamingTrainer.process_batch`` must reproduce the history rows and
  final model state recorded before its featurization was built once
  per trainer, in exactly two Spark jobs per batch.
* ``StreamingScorer.process_batch`` scores every row of a batch in one
  Spark job, with the metrics recorded before it shared the trainer's
  plan.
"""

from __future__ import annotations

import hashlib
import json
import random

import numpy as np
import pandas as pd
import pytest

from ml_with_spark_streaming_spark.ml import IncrementalLinearClassifier, ModelRegistry
from ml_with_spark_streaming_spark.streaming.score import StreamingScorer
from ml_with_spark_streaming_spark.streaming.train import StreamingTrainer

# ---------------------------------------------------------------- kernel


def _oracle_shard(pdf, w0, b0, variant, C, lr, reg):
    """Oracle twin of the shard kernel: one pandas group per row_id,
    visited in row_id order, the sequential PA/SGD update per row."""
    w = w0.copy()
    b = b0
    for _rid, grp in sorted(pdf.groupby("row_id"), key=lambda kv: kv[0]):
        y = 2.0 * float(grp["target"].iloc[0]) - 1.0
        fi = grp["fi"].to_numpy()
        cnt = grp["cnt"].to_numpy(dtype=np.float64)
        valid = fi >= 0
        fi, cnt = fi[valid], cnt[valid]
        margin = y * (float(w[fi] @ cnt) + b)
        if variant == "sgd":
            w *= 1.0 - lr * reg
            if margin < 1.0:
                w[fi] += lr * y * cnt
                b += lr * y
        elif margin < 1.0:
            tau = min(C, (1.0 - margin) / (float(cnt @ cnt) + 1.0))
            w[fi] += tau * y * cnt
            b += tau * y
    n = pdf["row_id"].nunique()
    nz = np.nonzero(w)[0]
    return pd.DataFrame(
        {"fi": np.append(nz, -1).astype("int64"), "wv": np.append(w[nz], b), "n": np.int64(n)}
    )


def _shard_pdf(seed: int, n_docs: int, num_features: int) -> pd.DataFrame:
    """One shard as applyInPandas delivers it: the feature rows of each
    doc (a fi=-2 marker, fi>=0 features or a fi=-1 sentinel for a
    zero-token doc), rows shuffled out of row_id order."""
    rng = np.random.default_rng(seed)
    rows = []
    for rid in rng.choice(10**6, size=n_docs, replace=False):
        target = float(rng.integers(2))
        rows.append((rid, target, -2, 1))
        k = int(rng.integers(0, 30))
        if k == 0:
            rows.append((rid, target, -1, 1))
        for f in rng.choice(num_features, size=k, replace=False):
            rows.append((rid, target, int(f), int(rng.integers(1, 4))))
    pdf = pd.DataFrame(rows, columns=["row_id", "target", "fi", "cnt"])
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return pdf.astype({"row_id": "int64", "target": "float64", "fi": "int32", "cnt": "int64"})


@pytest.mark.parametrize("variant", ["pa", "sgd"])
def test_shard_kernel_matches_groupby_oracle(variant):
    nf = 64
    shards = [_shard_pdf(seed, n, nf) for seed, n in ((1, 40), (2, 1), (3, 200))]
    shards.append(_shard_pdf(4, 0, nf))  # an empty shard
    assert (shards[0]["fi"] == -1).any() and (shards[0]["fi"] == -2).any()
    for start in ("zero", "warm"):
        clf = IncrementalLinearClassifier(num_features=nf, variant=variant, lr=0.05)
        if start == "warm":
            rng = np.random.default_rng(9)
            clf.w = rng.normal(size=nf) * (rng.random(nf) < 0.5)
            clf.b = 0.25
        fn = clf._shard_trainer("row_id", "target")
        for pdf in shards:
            got = fn(pdf)
            want = _oracle_shard(pdf, clf.w, clf.b, variant, clf.C, clf.lr, clf.reg)
            pd.testing.assert_frame_equal(got, want, check_exact=True)
            # bit-identical, not merely equal (0.0 vs -0.0, NaN payloads)
            assert got["wv"].to_numpy().tobytes() == want["wv"].to_numpy().tobytes()


# --------------------------------------------------------------- trainer

POS = ["good", "great", "love", "happy", "awesome", "loving", "wins"]
NEG = ["bad", "terrible", "hate", "sad", "awful", "hated", "losing"]
FILL = ["the", "movie", "today", "running", "runs", "@user", "http://x.co/a", "#tag", "42!!"]


def _wire_lines(batch: int, per: int = 400) -> list[str]:
    """One micro-batch in the reference wire format: a JSON array of
    "label,text" records (some comma-less, some empty after cleaning)
    followed by a line that is not JSON."""
    rnd = random.Random(1000 + batch)
    recs = []
    for i in range(per):
        lab = rnd.choice("04")
        if i % 37 == 5:
            recs.append("no comma in this record")
            continue
        if i % 41 == 7:
            recs.append(f"{lab},@only #tags http://u.rl 123")
            continue
        # one record in five draws its sentiment words from the other class
        pos = (lab == "4") != (rnd.random() < 0.2)
        words = [rnd.choice(POS if pos else NEG) for _ in range(rnd.randrange(1, 4))]
        words += [rnd.choice(FILL) for _ in range(rnd.randrange(0, 5))]
        rnd.shuffle(words)
        recs.append(f"{lab},{' '.join(words)}, ok")
    return [json.dumps(recs[: per // 2]), "{not json", json.dumps(recs[per // 2 :])]


# Recorded from the trainer before its featurization was built once per
# trainer and before the shard kernel ran on row boundaries.
_PINNED_HISTORY = [
    {"batch_id": 0, "batchsize": 81, "acc": 0.8148148148148148, "precision": 0.8444444444444444,
     "recall": 0.8260869565217391, "f1": 0.8351648351648352, "rmse": 0.4303314829119352,
     "maxf1": 0.8351648351648352, "quarantined": 12},
    {"batch_id": 1, "batchsize": 69, "acc": 0.7101449275362319, "precision": 0.6388888888888888,
     "recall": 0.7666666666666667, "f1": 0.696969696969697, "rmse": 0.5383819020581655,
     "maxf1": 0.8351648351648352, "quarantined": 12},
    {"batch_id": 2, "batchsize": 82, "acc": 0.7682926829268293, "precision": 0.8,
     "recall": 0.6486486486486487, "f1": 0.7164179104477612, "rmse": 0.48135986234123296,
     "maxf1": 0.8351648351648352, "quarantined": 12},
]
# Recorded from the scorer before it shared the trainer's plan (it then
# scored a separately built feature table and counted quarantined rows
# in a job of their own).
_PINNED_SCORES = [
    {"batch_id": 3, "batchsize": 389, "acc": 0.7095115681233933, "precision": 0.7328767123287672,
     "recall": 0.5911602209944752, "f1": 0.6544342507645261, "rmse": 0.5389697875360053,
     "quarantined": 12},
    {"batch_id": 4, "batchsize": 389, "acc": 0.7223650385604113, "precision": 0.7687074829931972,
     "recall": 0.6042780748663101, "f1": 0.6766467065868264, "rmse": 0.5269107718006805,
     "quarantined": 12},
    {"batch_id": 5, "batchsize": 389, "acc": 0.7532133676092545, "precision": 0.8294117647058824,
     "recall": 0.6778846153846154, "f1": 0.746031746031746, "rmse": 0.49677623976066476,
     "quarantined": 12},
]
_PINNED_STATE_SHA256 = "b8c43295841a21d024ceec3eebb3f39fa73ea4bdbf989702ce8d2bcdb3562bda"


def _state_digest(model) -> str:
    return hashlib.sha256(model.w.tobytes() + np.float64(model.b).tobytes()).hexdigest()


def _run_batches(spark, process_batch, batch_ids) -> list[int]:
    """Feed the wire batches to ``process_batch``; the Spark jobs each
    call ran, counted by job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = []
    for b in batch_ids:
        df = spark.createDataFrame([(line,) for line in _wire_lines(b)], "value string")
        group = f"train-batch-pin-{id(process_batch)}-{b}"
        sc.setJobGroup(group, "pin")
        try:
            process_batch(df, b)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(tracker.getJobIdsForGroup(group)))
    return jobs


@pytest.fixture(scope="module")
def trained(spark, tmp_path_factory):
    trainer = StreamingTrainer(
        model=IncrementalLinearClassifier(variant="pa"),
        registry=ModelRegistry(str(tmp_path_factory.mktemp("models"))),
        key="pa_pin",
        stem=True,
    )
    return trainer, _run_batches(spark, trainer.process_batch, range(3))


def test_trainer_history_and_state_pinned(trained):
    trainer, jobs = trained
    assert jobs == [2, 2, 2]
    assert trainer.history == _PINNED_HISTORY
    assert _state_digest(trainer.model) == _PINNED_STATE_SHA256


def test_scorer_scores_every_row_in_one_job(spark, trained):
    trainer, _ = trained
    scorer = StreamingScorer.from_registry(
        IncrementalLinearClassifier(variant="pa"), trainer.registry, "pa_pin", best=False, stem=True
    )
    jobs = _run_batches(spark, scorer.process_batch, range(3, 6))
    assert jobs == [1, 1, 1]
    # every well-formed record is scored: 400 minus the 11 comma-less
    assert [h["batchsize"] for h in scorer.history] == [389, 389, 389]
    assert scorer.history == _PINNED_SCORES
