"""``ingest_door``: the write path.

A seeded document stream derived from a generated corpus (documents
plus 64-dim embeddings) arrives in 1000-document micro-batches and goes
through ``StreamingIngestPipeline.build`` with the full production
configuration: text dedup at 0.9, embedding gate at 0.95 with broadcast
verify, segment rewrite at width 10, decontamination, frozen quality
weights and the serving-IVF append (16 centroids).
"""

from __future__ import annotations

import json
import math
import os
import statistics

import numpy as np

from perfbench import gen
from perfbench.run import WORK, ClosedLoop, order_files
from perfbench.trace import progress_listener, trigger_overhead_p50

STREAM_SCHEMA = "doc_id long, text string, embedding array<float>"
LEDGER_KEYS = (
    "n_in",
    "n_after_dedup",
    "n_after_embdedup",
    "n_after_rewrite",
    "n_after_segquality",
    "n_after_decon",
    "n_after_quality",
    "n_accepted",
)
# gate attribute on the pipeline -> (layer name, kept key, in key)
GATES = {
    "dedup": ("ingest_dedup", "n_kept", "n_docs"),
    "embdedup": ("embedding_dedup_filter", "n_kept", "n_vecs"),
    "segdedup": ("segment_dedup_filter", "n_docs_kept", "n_docs"),
    "decon": ("decon_filter", "n_kept", "n_docs"),
    "quality": ("quality_filter", "n_kept", "n_docs"),
    "ann_maintainer": ("ann_index_maintainer", "n_vecs", None),
}


def _corpus(ctx, rng: np.random.Generator, n_docs: int, n_vecs: int, tag: str):
    """Write a generated corpus as parquet and load it through the
    engine's table source. Returns (docs_df, vecs_df, docs, vecs)."""
    from ml_with_spark_streaming_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    d = ctx.path(tag)
    os.makedirs(d, exist_ok=True)
    docs = gen.documents(rng, n_docs)
    vecs, labels = gen.embeddings(rng, n_vecs)
    gen.write_docs_and_vectors(d, docs, vecs, labels)
    docs_df = load_table(ctx.spark, d, "documents").select("doc_id", "text")
    vecs_df = load_table(ctx.spark, d, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs_df, vecs_df, list(zip(docs["doc_id"].tolist(), docs["text"].tolist())), vecs


def _build_door(spark, docs_df, vecs_df, on_accepted):
    from ml_with_spark_streaming_spark.operators.quality_clf import (
        classifier_weights,
        feature_presence,
        heuristic_labels,
    )
    from ml_with_spark_streaming_spark.streaming.ingest_pipeline import StreamingIngestPipeline
    from ml_with_spark_streaming_spark.streaming.quality_filter import freeze_weights

    frozen = freeze_weights(classifier_weights(feature_presence(docs_df), heuristic_labels(docs_df)))
    eval_corpus = spark.createDataFrame(
        [(90_000, f"prelude {gen.EVAL_GRAM} coda")], "doc_id long, text string"
    )
    return StreamingIngestPipeline.build(
        docs_df,
        frozen,
        eval_corpus=eval_corpus,
        embedding_corpus=vecs_df,
        embedding_threshold=0.95,
        embedding_verify_mode="broadcast",
        segment_width=10,
        threshold=0.9,
        ann_n_centroids=16,
        on_accepted=on_accepted,
    )


def run(ctx) -> dict:
    spark, spec, seed = ctx.spark, ctx.spec, ctx.seed
    per = spec["docs_per_batch"]
    rng = np.random.default_rng(seed)

    docs_df, vecs_df, docs, vecs = _corpus(ctx, rng, spec["corpus_docs"], spec["corpus_vectors"], "corpus")
    planted = gen.write_door_stream(
        ctx.path("in"), seed, docs, vecs, spec["stream_batches"], per, "door"
    )
    order_files(ctx.path("in"))
    ctx.phase("inputs")

    store = ctx.path("accepted")

    def on_accepted(df, batch_id):
        # the write-to-storage hook: accepted documents as stored
        df.write.mode("append").parquet(store)

    pipe = _build_door(spark, docs_df, vecs_df, on_accepted)
    ctx.phase("build")

    tracer = ctx.tracer
    listener = None
    if tracer is not None:
        listener = progress_listener(tracer)
        spark.streams.addListener(listener)
        for attr, (layer, _, _) in GATES.items():
            tracer.wrap(getattr(pipe, attr), "process_batch", f"streaming.{layer}")
        tracer.wrap(pipe, "process_batch", "streaming.ingest_pipeline")
    loop = ClosedLoop(ctx, ctx.seconds)
    pipe.process_batch = loop.wrap(pipe.process_batch)
    stream = (
        spark.readStream.format("json").schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 1).load(ctx.path("in"))
    )
    q = pipe.attach(stream, checkpoint=ctx.path("ckpt"), available_now=True)
    try:
        q.awaitTermination()
    finally:
        q.stop()

    # ---- results (outside the timed region)
    n_batches = len(loop.batch_ids)
    rate = n_batches * per / loop.wall
    p50 = statistics.median(loop.batch_s)
    geomean = math.exp(statistics.fmean(math.log(x) for x in loop.batch_s))
    ledger = [{k: r[k] for k in ("batch_id", *LEDGER_KEYS)} for r in pipe.ledger]
    timed_ledger = [r for r in ledger if r["batch_id"] in set(loop.batch_ids)]
    totals = {k: sum(r[k] for r in ledger) for k in LEDGER_KEYS}
    named = {
        **{f"timed_funnel.{k}": (sum(r[k] for r in timed_ledger), "count") for k in LEDGER_KEYS},
        "door_docs_per_s": (rate, "1/s"),
        "door_batch_p50_s": (p50, "s"),
        "door_batches": (n_batches, "count"),
    }
    # planted eval-gram documents the segment rewrite stripped of the
    # gram before decontamination saw them (stored without it)
    named["planted_eval_gram_stored"] = (_check(ctx, pipe, ledger, planted, totals, store), "count")

    out = {
        "e2e": {"throughput_per_s": rate, "op_geomean_s": geomean},
        "named": named,
        "ops": n_batches,
        "failed_ops": 0,
        "extra": {"batch_s": loop.batch_s, "ledger": ledger},
    }
    if tracer is not None:
        out["layers"] = _layers(tracer, pipe, loop, q, spark, listener)
    return out


def _check(ctx, pipe, ledger, planted, totals, store) -> int:
    """Checks on the stored documents, the serving index and the ledger.
    Returns how many planted eval-gram documents were stored."""
    from pyspark.sql import functions as F

    stored = {r[0]: r[1] for r in ctx.spark.read.parquet(store).select("doc_id", "text").collect()}
    n_rows = ctx.spark.read.parquet(store).count()
    ctx.check("stored ids unique", n_rows == len(stored), f"{n_rows} rows, {len(stored)} ids")
    ctx.check(
        "stored docs match ledger",
        len(stored) == totals["n_accepted"],
        f"stored {len(stored)} ledger {totals['n_accepted']}",
    )
    # the serving index holds exactly the accepted vectors
    idx = pipe.ann_maintainer.index
    indexed = {
        r[0] for r in idx.assignments.filter(F.col(idx.c_id) >= gen.DOOR_FIRST_ID).select(idx.c_id).collect()
    }
    ctx.check("serving index holds the stored ids", indexed == set(stored), f"{len(indexed)} indexed")
    leaked = set(stored) & planted["exact_dup"]
    ctx.check("no planted exact duplicate stored", not leaked, f"{len(leaked)} stored")
    dirty = [i for i, t in stored.items() if gen.EVAL_GRAM in t]
    ctx.check("no stored text holds the eval 13-gram", not dirty, f"{len(dirty)} stored")
    monotone = all(
        all(r[a] >= r[b] for a, b in zip(LEDGER_KEYS, LEDGER_KEYS[1:])) for r in ledger
    )
    ctx.check("ledger funnel never increases", monotone)
    ctx.check(
        "ledger batch sizes",
        all(r["n_in"] == ctx.spec["docs_per_batch"] for r in ledger),
    )
    gram_docs = sorted(set(stored) & planted["eval_gram"])
    ctx.extra["planted_eval_gram_stored_tails"] = [stored[i][-160:] for i in gram_docs[:3]]
    # the traced and the untraced run of one seed must agree batch by batch
    mine = os.path.join(WORK, "ledgers", f"ingest_door_seed{ctx.seed}_trace{int(ctx.tracer is not None)}.json")
    other = os.path.join(WORK, "ledgers", f"ingest_door_seed{ctx.seed}_trace{int(ctx.tracer is None)}.json")
    with open(mine, "w", encoding="utf-8") as f:
        json.dump(ledger, f)
    if os.path.exists(other):
        with open(other, encoding="utf-8") as f:
            theirs = {r["batch_id"]: r for r in json.load(f)}
        common = [r for r in ledger if r["batch_id"] in theirs]
        ctx.check(
            "ledger equal to the other trace mode",
            all(r == theirs[r["batch_id"]] for r in common),
            f"{len(common)} common batches",
        )
    return len(gram_docs)


def _layers(tracer, pipe, loop, q, spark, listener) -> dict:
    tracer.self_times()
    ids = loop.batch_ids
    timed = set(ids)
    out: dict[str, float] = {}
    for attr, (layer, kept_key, in_key) in GATES.items():
        name = f"streaming.{layer}"
        out[f"{name}.self_s"] = tracer.p50(name, "self_s", ids)
        out[f"{name}.jobs_per_batch"] = tracer.p50(name, "jobs", ids)
        hist = [h for h in getattr(pipe, attr).history if h["batch_id"] in timed]
        kept = sum(h.get(kept_key) or 0 for h in hist)
        if in_key is None:
            # the serving index takes what the last gate accepted
            seen = sum(r["n_accepted"] for r in pipe.ledger if r["batch_id"] in timed)
        else:
            seen = sum(h.get(in_key) or 0 for h in hist)
        out[f"{name}.kept_ratio"] = kept / seen if seen else 0.0
    roots = {s["trace_id"]: s for s in tracer.by_name("streaming.ingest_pipeline")}
    out["streaming.ingest_pipeline.self_s"] = tracer.p50("streaming.ingest_pipeline", "self_s", ids)
    out["streaming.ingest_pipeline.jobs_per_batch"] = statistics.median(
        sum(s["jobs"] for s in tracer.subtree(roots[str(b)])) for b in ids
    )
    durs = [roots[str(b)]["dur"] for b in ids]
    # share of each timed batch's wall time covered by its span tree
    out["trace.span_coverage"] = statistics.median(d / t for d, t in zip(durs, loop.batch_s))
    k = max(1, len(durs) // 3)
    out["streaming.ingest_pipeline.late_over_early"] = statistics.fmean(durs[-k:]) / statistics.fmean(durs[:k])
    out["streaming.foreach.trigger_overhead_s"] = trigger_overhead_p50(spark, tracer, listener, q, ids)
    return out
