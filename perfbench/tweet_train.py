"""``tweet_train``: the paper's workload.

Seeded Sentiment140-style tweets in the reference wire format (one JSON
array of ``"label,text"`` per file, 3000 records per micro-batch) are
replayed in catch-up mode, one file per trigger, through
``StreamingTrainer`` (passive-aggressive learner, stemming on). A
second phase loads the best checkpoint with
``StreamingScorer.from_registry`` and scores held-out batches.
"""

from __future__ import annotations

import math
import statistics

from perfbench import gen
from perfbench.run import ClosedLoop, order_files, replay
from perfbench.trace import progress_listener, trigger_overhead_p50


def _files_needed(seconds: float) -> int:
    # a warm 3000-record batch took 0.6-1.5 s at 4 vCPUs: enough files
    # for 0.5 s batches, and those left after the window are drained as
    # no-ops
    return int(math.ceil(seconds / 0.5)) + 1


def _trainer(registry_root: str, key: str):
    from ml_with_spark_streaming_spark.ml.incremental import IncrementalLinearClassifier
    from ml_with_spark_streaming_spark.ml.registry import ModelRegistry
    from ml_with_spark_streaming_spark.streaming.train import StreamingTrainer

    return StreamingTrainer(
        model=IncrementalLinearClassifier(variant="pa"),
        registry=ModelRegistry(registry_root),
        key=key,
        stem=True,
    )


def _scorer(trainer):
    from ml_with_spark_streaming_spark.ml.incremental import IncrementalLinearClassifier
    from ml_with_spark_streaming_spark.streaming.score import StreamingScorer

    return StreamingScorer.from_registry(
        IncrementalLinearClassifier(variant="pa"), trainer.registry, trainer.key, best=True, stem=True
    )


def run(ctx) -> dict:
    spark, spec, seed = ctx.spark, ctx.spec, ctx.seed
    per = spec["records_per_batch"]
    n_warm, n_score = spec["warmup_batches"], spec["score_batches"]

    src = {}
    planted = {}
    for tag, n in (("warm", n_warm), ("warm_score", 1), ("train", _files_needed(ctx.seconds)), ("score", n_score)):
        src[tag] = ctx.path(tag)
        planted[tag] = gen.write_tweet_stream(src[tag], seed, n, per, tag)
        order_files(src[tag])
    ctx.phase("inputs")

    # warm-up: a separate trainer and scorer on their own stream
    warm = _trainer(ctx.path("warm_models"), "warm")
    replay(spark, warm.process_batch, src["warm"], ctx.path("warm_ckpt"))
    warm_scorer = _scorer(warm)
    replay(spark, warm_scorer.process_batch, src["warm_score"], ctx.path("warm_score_ckpt"))
    ctx.phase("warm-up")

    tracer = ctx.tracer
    listener = None
    trainer = _trainer(ctx.path("models"), spec["model_key"])
    if tracer is not None:
        listener = progress_listener(tracer)
        spark.streams.addListener(listener)
        tracer.wrap(trainer.model, "update", "ml.incremental.update", trace_id_arg=None)
        tracer.wrap(trainer.registry, "save", "ml.registry.save", trace_id_arg=None)
        tracer.wrap(trainer.registry, "save_if_best", "ml.registry.save", trace_id_arg=None)
        tracer.wrap(trainer, "process_batch", "streaming.train")

    loop = ClosedLoop(ctx, ctx.seconds)
    trainer.process_batch = loop.wrap(trainer.process_batch)
    lines = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src["train"])
    q_train = trainer.attach(lines, checkpoint=ctx.path("train_ckpt"), available_now=True)
    try:
        q_train.awaitTermination()
    finally:
        q_train.stop()

    scorer = _scorer(trainer)
    if tracer is not None:
        tracer.wrap(scorer, "process_batch", "streaming.score")
    score_loop = ClosedLoop(ctx, float("inf"))
    replay(spark, score_loop.wrap(scorer.process_batch), src["score"], ctx.path("score_ckpt"))

    # ---- results (outside the timed region)
    n_batches = len(loop.batch_ids)
    rows = {r["batch_id"]: r for r in trainer.history}
    f1s = [rows[b]["f1"] for b in loop.batch_ids if b in rows]
    train_rate = n_batches * per / loop.wall
    score_rate = n_score * per / score_loop.wall
    p50 = statistics.median(loop.batch_s)
    geomean = math.exp(statistics.fmean(math.log(x) for x in loop.batch_s))
    holdout_f1 = statistics.fmean(f1s) if f1s else 0.0
    named = {
        "train_records_per_s": (train_rate, "1/s"),
        "train_batch_p50_s": (p50, "s"),
        "train_batch_tail_s": _tail(loop.batch_s),
        "train_holdout_f1": (holdout_f1, "ratio"),
        "score_records_per_s": (score_rate, "1/s"),
        "train_batches": (n_batches, "count"),
    }

    # ---- correctness
    for b in loop.batch_ids:
        want = planted["train"][b]
        row = rows.get(b)
        ctx.check(f"train batch {b} metrics row", row is not None)
        if row is None:
            continue
        ctx.check(
            f"train batch {b} quarantine",
            row["quarantined"] == want["no_comma"],
            f"got {row['quarantined']} planted {want['no_comma']}",
        )
        valid = per - want["no_comma"]
        ctx.check(
            f"train batch {b} holdout size",
            0.1 * valid <= row["batchsize"] <= 0.3 * valid,
            f"{row['batchsize']} of {valid}",
        )
    ctx.check(
        "train holdout f1 floor",
        holdout_f1 >= spec["holdout_f1_floor"],
        f"{holdout_f1:.4f} >= {spec['holdout_f1_floor']}",
    )
    for i, row in enumerate(sorted(scorer.history, key=lambda r: r["batch_id"])):
        want = planted["score"][row["batch_id"]]
        # stop-word-only tweets are scored too: no well-formed record is dropped
        expect = per - want["no_comma"]
        ctx.check(
            f"score batch {i} sizes add up",
            row["batchsize"] == expect and row["quarantined"] == want["no_comma"],
            f"scored {row['batchsize']} (want {expect}), quarantined {row['quarantined']}",
        )
    ctx.check("score batches", len(scorer.history) == n_score, f"{len(scorer.history)} of {n_score}")

    out = {
        "e2e": {
            "throughput_per_s": train_rate,
            "op_geomean_s": geomean,
        },
        "named": named,
        "ops": n_batches + len(scorer.history),
        "failed_ops": 0,
        "extra": {"train_batch_s": loop.batch_s, "score_batch_s": score_loop.batch_s},
    }
    if tracer is not None:
        out["layers"] = _layers(tracer, loop, score_loop, q_train, spark, listener)
    return out


def _tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, as
    (value, unit); (nan, ...) when there are too few samples."""
    n = len(samples)
    for pct in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - pct / 100) >= 10:
            return sorted(samples)[min(n - 1, int(math.ceil(n * pct / 100)) - 1)], f"s (p{pct:g}, n={n})"
    return float("nan"), f"s (needs >= 11 batches, n={n})"


def _layers(tracer, loop, score_loop, q_train, spark, listener) -> dict:
    tracer.self_times()
    ids = loop.batch_ids
    jobs = {}
    for root in tracer.by_name("streaming.train"):
        jobs[root["trace_id"]] = sum(s["jobs"] for s in tracer.subtree(root))
    score_ids = score_loop.batch_ids
    score_jobs = [
        sum(s["jobs"] for s in tracer.subtree(r)) for r in tracer.by_name("streaming.score")
    ]
    roots = {s["trace_id"]: s for s in tracer.by_name("streaming.train")}
    return {
        # share of each timed batch's wall time covered by its span tree
        # (the self times of the tree add up to the root span)
        "trace.span_coverage": statistics.median(
            roots[str(b)]["dur"] / t for b, t in zip(ids, loop.batch_s)
        ),
        "ml.incremental.update_s": tracer.p50("ml.incremental.update", "self_s", ids),
        "streaming.train.self_s": tracer.p50("streaming.train", "self_s", ids),
        "streaming.train.jobs_per_batch": statistics.median(jobs[str(b)] for b in ids),
        "ml.registry.save_s": tracer.p50("ml.registry.save", "self_s", ids),
        "streaming.score.batch_s": tracer.p50("streaming.score", "dur", score_ids),
        "streaming.score.jobs_per_batch": statistics.median(score_jobs),
        "streaming.foreach.trigger_overhead_s": trigger_overhead_p50(spark, tracer, listener, q_train, ids),
    }
