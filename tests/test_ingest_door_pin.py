"""The composed ingest door, pinned in the fast subset.

Three batches run through a pipeline built directly with every
document gate: text dedup, embedding dedup, segment dedup (width 3),
segment quality, decontamination in registry mode, quality,
perplexity and DSIR. Across the first two batches every gate rejects
something; the third batch is rejected entirely by text dedup, so
every downstream stage records a zero row. The ledger, every stage's
full history, the accepted ``(doc_id, text)`` rows and the Spark job
count per ``process_batch`` are pinned; the job count may only fall.

The quality and DSIR weight tables are written by hand so each
verdict is decided by one marker token; the bucket guards below keep
the fixture honest if a token is renamed.
"""

from __future__ import annotations

import hashlib
import random

GOOD = "excellentmark"   # the only positive quality weight
BAD = "terriblemark"     # quality weight -10: rejects despite GOOD
RAW = "rawsourcemark"    # DSIR weight -1000: rejects
DSIR_BUCKETS = 256
# between ln(V) (every bigram's left word unseen: novel text) and
# ln(c1 + V) (left word seen, pair unseen: scrambled corpus text)
PPL_THRESHOLD_X1E6 = 3_880_000


def _words(tag: str, n: int) -> list[str]:
    """``n`` distinct letters-only tokens, long enough that a segment
    of three passes the segment-quality threshold."""
    return [f"{tag}{chr(97 + i // 26)}{chr(97 + i % 26)}word" for i in range(n)]


def _text(*parts) -> str:
    return " ".join(p if isinstance(p, str) else " ".join(p) for p in parts)


CORPUS = [_text(_words(f"corp{chr(97 + d)}", 12)) for d in range(4)]
C = [t.split(" ") for t in CORPUS]
BENCH_A = _words("bencha", 13)
BENCH_B = _words("benchb", 13)
JUNK = "ab!! cd?? ef%%"


def _batches() -> list[list[tuple[int, str, int]]]:
    """Rows of ``(doc_id, text, vec)``; ``vec`` names the embedding:
    ``-1 - i`` is a near copy of corpus vector ``i``, ``d >= 100`` a
    near copy of batch doc ``d``'s vector, anything else fresh."""
    acc0 = _text(GOOD, _words("novi", 8))
    acc1 = _text(GOOD, _words("novp", 8))
    return [
        [
            (100, CORPUS[0], 0),                                   # dedup: exact corpus copy
            (101, _text(GOOD, _words("novb", 8)), -4),             # embdedup: near corpus vec 3
            (102, _text(C[1][9:12], C[2][0:3], C[3][3:6], C[1][3:6]), 0),  # segdedup: every segment seen
            (103, _text(GOOD, _words("novd", 8), JUNK), 0),        # segquality cuts one segment
            (104, "gh!! ij?? kl%% mn!! op?? qr%%", 0),             # segquality: no segment passes
            (105, _text(GOOD, _words("novf", 2), BENCH_A), 0),     # decon: bench_a 13-gram
            (106, _text(GOOD, BAD, _words("novg", 7)), 0),         # quality: BAD outweighs GOOD
            (107, _text(GOOD, list(reversed(C[2]))), 0),           # perplexity: scrambled corpus
            (108, _text(GOOD, RAW, _words("novh", 7)), 0),         # dsir: RAW bucket
            (109, acc0, 0),                                        # accepted
        ],
        [
            (200, acc0, 0),                                        # dedup: copy of accepted 109
            (201, _text(GOOD, _words("novq", 8)), 109),            # embdedup: near accepted 109
            (202, _text(GOOD, _words("novr", 2), BENCH_B), 0),     # decon: bench_b 13-gram
            (203, acc1, 0),                                        # accepted
            (204, _text(GOOD, _words("novs", 5), _words("novi", 8)[2:5]), 0),  # segdedup cuts 109's segment
        ],
        [
            (300, CORPUS[1], 0),                                   # dedup: exact corpus copy
            (301, acc1, 0),                                        # dedup: copy of accepted 203
        ],
    ]


def _tokens(text: str) -> set[str]:
    return {t for t in "".join(c if c.isalpha() else " " for c in text.lower()).split()}


def _qbucket(tok: str) -> str:
    return hashlib.md5(tok.encode()).hexdigest()[:3]


def _dbucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS


def test_fixture_marker_buckets_are_private():
    toks = set().union(*(_tokens(t) for b in _batches() for _, t, _ in b)) - {GOOD, BAD, RAW}
    assert len({_qbucket(GOOD), _qbucket(BAD)}) == 2
    assert not {_qbucket(t) for t in toks} & {_qbucket(GOOD), _qbucket(BAD)}
    assert _dbucket(RAW) not in {_dbucket(t) for t in toks | {GOOD, BAD}}


def _run_door(spark):
    from ml_with_spark_streaming_spark.streaming.decon_filter import (
        StreamingDecontaminationFilter,
    )
    from ml_with_spark_streaming_spark.streaming.dsir_filter import StreamingDSIRFilter
    from ml_with_spark_streaming_spark.streaming.embedding_dedup_filter import (
        StreamingEmbeddingDedup,
    )
    from ml_with_spark_streaming_spark.streaming.ingest_dedup import StreamingIngestDedup
    from ml_with_spark_streaming_spark.streaming.ingest_pipeline import (
        StreamingIngestPipeline,
    )
    from ml_with_spark_streaming_spark.streaming.perplexity_filter import (
        StreamingPerplexityFilter,
    )
    from ml_with_spark_streaming_spark.streaming.quality_filter import (
        StreamingQualityFilter,
    )
    from ml_with_spark_streaming_spark.streaming.segment_dedup_filter import (
        StreamingSegmentDedup,
    )
    from ml_with_spark_streaming_spark.streaming.segment_quality_filter import (
        StreamingSegmentQuality,
    )

    rnd = random.Random(7)
    dim = 16
    corpus_vecs = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    corpus = spark.createDataFrame(list(enumerate(CORPUS)), "doc_id long, text string")
    emb_corpus = spark.createDataFrame(
        list(enumerate(corpus_vecs)), "doc_id long, embedding array<float>"
    )

    def _bench(toks):
        return spark.createDataFrame(
            [(9000, _text("intro", toks, "outro"))], "doc_id long, text string"
        )

    # a stage's own hook still sees its kept slice inside the door
    decon_kept: list[tuple[int, list[int]]] = []
    dsir_weights = [(b, 1) for b in range(DSIR_BUCKETS)]
    dsir_weights[_dbucket(RAW)] = (_dbucket(RAW), -1000)
    pipe = StreamingIngestPipeline(
        dedup=StreamingIngestDedup.from_corpus(corpus, threshold=0.9),
        embdedup=StreamingEmbeddingDedup.from_corpus(
            emb_corpus, id_col="doc_id", vec_col="embedding", threshold=0.95
        ),
        segdedup=StreamingSegmentDedup.from_corpus(corpus, width=3),
        segquality=StreamingSegmentQuality(width=3, threshold_x100=67),
        decon=StreamingDecontaminationFilter.from_registry(
            {"bench_a": _bench(BENCH_A), "bench_b": _bench(BENCH_B)},
            on_kept=lambda df, bid: decon_kept.append(
                (bid, sorted(r["doc_id"] for r in df.collect()))
            ),
        ),
        quality=StreamingQualityFilter(weights=[(_qbucket(GOOD), 1), (_qbucket(BAD), -10)]),
        perplexity=StreamingPerplexityFilter.from_corpus(
            corpus, threshold_x1e6=PPL_THRESHOLD_X1E6
        ),
        dsir=StreamingDSIRFilter(weights=dsir_weights, n_buckets=DSIR_BUCKETS),
    )
    accepted: list[tuple[int, str]] = []
    pipe.on_accepted = lambda df, bid: accepted.extend(
        (r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()
    )

    vec_of: dict[int, list[float]] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = []
    for bid, rows in enumerate(_batches()):
        data = []
        for doc_id, text, v in rows:
            if v < 0:
                base = corpus_vecs[-1 - v]
            elif v >= 100:
                base = vec_of[v]
            else:
                base = [rnd.gauss(0, 1) for _ in range(dim)]
            vec = [x * (1 + rnd.uniform(-1e-3, 1e-3)) for x in base] if v else base
            vec_of[doc_id] = vec
            data.append((doc_id, text, vec))
        df = spark.createDataFrame(data, "doc_id long, text string, embedding array<float>")
        group = f"door-pin-{bid}"
        sc.setJobGroup(group, "door pin")
        try:
            pipe.process_batch(df, bid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(tracker.getJobIdsForGroup(group)))

    histories = {
        name: getattr(pipe, name).history
        for name in (
            "dedup", "embdedup", "segdedup", "segquality",
            "decon", "quality", "perplexity", "dsir",
        )
    }
    return pipe.ledger, histories, decon_kept, sorted(accepted), jobs


def _rows(keys: str, *values) -> list[dict]:
    """History rows with keys in the gate's own order."""
    names = ["batch_id", *keys.split()]
    return [dict(zip(names, (bid, *v))) for bid, v in enumerate(values)]


LEDGER = _rows(
    "n_in n_after_dedup n_after_embdedup n_after_rewrite n_after_segquality "
    "n_after_decon n_after_quality n_accepted",
    (10, 9, 8, 7, 6, 5, 4, 2),
    (5, 4, 3, 3, 3, 2, 2, 2),
    (2, 0, 0, 0, 0, 0, 0, 0),
)
HISTORIES = {
    "dedup": _rows("n_docs n_exact n_near n_kept", (10, 1, 1, 9), (5, 1, 1, 4), (2, 2, 2, 0)),
    "embdedup": _rows("n_vecs n_exact n_near n_kept", (9, 0, 1, 8), (4, 0, 1, 3), (0, 0, 0, 0)),
    "segdedup": _rows(
        "n_docs n_segs n_cut n_docs_kept", (8, 30, 4, 7), (3, 12, 1, 3), (0, 0, 0, 0)
    ),
    "segquality": _rows(
        "n_docs n_segs n_cut n_docs_kept", (7, 26, 3, 6), (3, 11, 0, 3), (0, 0, 0, 0)
    ),
    # the zero row carries the registry's docs_hit_* keys like the real
    # rows do, so a monitor reading them never meets a KeyError
    "decon": _rows(
        "n_docs n_contaminated n_kept docs_hit_bench_a docs_hit_bench_b",
        (6, 1, 5, 1, 0),
        (3, 1, 2, 0, 1),
        (0, 0, 0, 0, 0),
    ),
    "quality": _rows("n_docs n_kept", (5, 4), (2, 2), (0, 0)),
    "perplexity": _rows("n_docs n_kept n_unscored", (4, 3, 0), (2, 2, 0), (0, 0, 0)),
    "dsir": _rows("n_docs n_kept", (3, 2), (2, 2), (0, 0)),
}
DECON_HOOK = [(0, [103, 106, 107, 108, 109]), (1, [203, 204])]
ACCEPTED = [
    (103, _text(GOOD, _words("novd", 8))),
    (109, _text(GOOD, _words("novi", 8))),
    (203, _text(GOOD, _words("novp", 8))),
    (204, _text(GOOD, _words("novs", 5))),
]
# Spark jobs per process_batch (job group + statusTracker), recorded
# with the closure-chain door, which ran an isEmpty job on every slice
# it handed downstream. The stage-list runner reads emptiness off the
# upstream history row instead: 106-107, 106 and 34-35 jobs, measured
# in a fresh Spark session and in the full suite. The same code reads
# up to one job apart between runs, so the pin is the contract rather
# than an exact count: fewer jobs than the closure chain on every batch.
PARENT_JOBS = [115, 114, 42]


def test_door_pin(spark):
    ledger, histories, decon_hook, accepted, jobs = _run_door(spark)
    assert [list(r) for r in ledger] == [list(r) for r in LEDGER]
    assert ledger == LEDGER
    for name, rows in HISTORIES.items():
        assert [list(h) for h in histories[name]] == [list(h) for h in rows], name
        assert histories[name] == rows, name
    assert decon_hook == DECON_HOOK
    assert accepted == ACCEPTED
    assert all(j < p for j, p in zip(jobs, PARENT_JOBS)), jobs
