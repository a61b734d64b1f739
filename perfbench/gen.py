"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy: the engine only ever sees the
files these functions write. The same ``seed`` always produces the same
bytes.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tweets

_POS = "love great happy awesome best thanks good fun amazing excited nice glad".split()
_NEG = "hate sad awful worst bad sick tired miss sorry angry ugly boring".split()
_NEUTRAL = (
    "today work going home time day night morning watching people think "
    "know back still really getting weekend school friends phone music "
    "movie game coffee rain sun tomorrow week house car dog"
).split()
# FIXTURES.md section 1 edge cases, appended to some tweets
_INFLECTED = ["run", "running", "runs", "runner", "played", "playing", "plays"]
_NON_ASCII = ["café", "naïve", "über", "❤", "\U0001F600", "日本"]
_STOP_ONLY = "the and of to a in"

# how often a tweet draws its sentiment word from the OTHER class's
# vocabulary, and how often its label is flipped outright: together they
# keep held-out F1 well below 1
SENTIMENT_OVERLAP = 0.25
LABEL_NOISE = 0.05
QUARANTINE_SHARE = 0.01


def _tweet_text(rnd: random.Random, positive: bool) -> str:
    own, other = (_POS, _NEG) if positive else (_NEG, _POS)
    words = [rnd.choice(_NEUTRAL) for _ in range(rnd.randint(4, 12))]
    for _ in range(rnd.randint(1, 3)):
        vocab = other if rnd.random() < SENTIMENT_OVERLAP else own
        words.insert(rnd.randrange(len(words) + 1), rnd.choice(vocab))
    roll = rnd.random()
    if roll < 0.10:
        words.insert(0, f"@user{rnd.randrange(500)}")
    elif roll < 0.15:
        words.append(f"#{rnd.choice(_NEUTRAL)}")
    elif roll < 0.20:
        words.append(f"http://t.co/{rnd.randrange(10**6):x}")
    elif roll < 0.25:
        words.append(rnd.choice(_NON_ASCII))
    elif roll < 0.30:
        words.append(rnd.choice(_INFLECTED))
    elif roll < 0.33:
        words.append(str(rnd.randrange(1000)))
    roll = rnd.random()
    if roll < 0.10:
        # commas inside the body: the wire format splits on the FIRST comma only
        cut = len(words) // 2
        return " ".join(words[:cut]) + ", " + " ".join(words[cut:])
    if roll < 0.12:
        return "  " + " ".join(words).upper() + "\t "
    if roll < 0.13:
        return _STOP_ONLY
    return " ".join(words)


def tweet_batch(rnd: random.Random, n: int) -> tuple[list[str], dict[str, int]]:
    """One micro-batch of Sentiment140-style wire records
    (``"label,text"``) and its planted counts: ``no_comma`` records
    are the ones the engine must quarantine."""
    recs: list[str] = []
    counts = {"no_comma": 0}
    for _ in range(n):
        positive = rnd.random() < 0.5
        text = _tweet_text(rnd, positive)
        if rnd.random() < QUARANTINE_SHARE:
            recs.append(text.replace(",", " "))
            counts["no_comma"] += 1
            continue
        if rnd.random() < LABEL_NOISE:
            positive = not positive
        recs.append(("4," if positive else "0,") + text)
    return recs, counts


def write_tweet_stream(
    dirpath: str, seed: int, n_files: int, per_file: int, tag: str
) -> list[dict[str, int]]:
    """Write ``n_files`` wire-format files (one JSON array per file, one
    file per micro-batch) and return each file's planted counts, in
    file order."""
    os.makedirs(dirpath, exist_ok=True)
    rnd = random.Random(f"{tag}:{seed}")
    planted = []
    for i in range(n_files):
        recs, counts = tweet_batch(rnd, per_file)
        planted.append(counts)
        with open(os.path.join(dirpath, f"{tag}_{i:04d}.json"), "w", encoding="utf-8") as f:
            f.write(json.dumps(recs) + "\n")
    return planted


# ------------------------------------------------------- batch tables

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents over a 30-word vocabulary: 10 to 100 words
    each, about 5% near-duplicates (a copy of another document plus the
    token ``dup``) and a handful of exact duplicates."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_DOC_VOCAB), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(_DOC_VOCAB[w] for w in words[at : at + ln]))
        at += ln
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm random vectors with a 0-9 label."""
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v, rng.integers(0, 10, n).astype(np.int32)


def _write(df: pd.DataFrame | pa.Table, path: str) -> None:
    t = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(t, path)


def _ts(rng: np.random.Generator, n: int, start: str, days: int, unit: str = "s") -> np.ndarray:
    base = np.datetime64(start, "us")
    if unit == "D":
        return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def write_tables(dirpath: str, seed: int, sf: float) -> None:
    """The ten tables the query registry reads (TPC-H-ish star schema,
    an event log, a document corpus and an embedding table), with the
    same schemas and value domains as the engine's test data, scaled by
    ``sf`` (sf=1 would be 6M lineitem rows)."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{dirpath}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }), f"{dirpath}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }), f"{dirpath}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{dirpath}/supplier.parquet")
    adjs = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
    nouns = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{dirpath}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404, unit="D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }), f"{dirpath}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498, unit="D"),
    }), f"{dirpath}/lineitem.parquet")
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", 30))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{dirpath}/events.parquet")
    docs = documents(rng, n_docs)
    write_docs_and_vectors(dirpath, docs, *embeddings(rng, n_vecs))


def write_docs_and_vectors(dirpath: str, docs: pd.DataFrame, vecs: np.ndarray, labels: np.ndarray) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` in ``dirpath``."""
    _write(docs, f"{dirpath}/documents.parquet")
    _write(pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), f"{dirpath}/embeddings.parquet")


# ------------------------------------------------------ ingest stream

# the planted eval 13-gram: a document carrying it must never be accepted
EVAL_GRAM = " ".join(f"benchtok{chr(97 + i)}" for i in range(13))
DOOR_FIRST_ID = 1_000_000


def write_door_stream(
    dirpath: str,
    seed: int,
    base_docs: list[tuple[int, str]],
    base_vecs: np.ndarray,
    n_files: int,
    per_file: int,
    tag: str,
) -> dict[str, set[int]]:
    """Corpus-derived document stream, one JSON-lines file per
    micro-batch (each record carries ``doc_id``, ``text`` and a 64-dim
    ``embedding``). Mix per document: 10% exact duplicates of a corpus
    document, 5% novel splices carrying the eval 13-gram, 10% novel
    text with a vector that is a 1e-3 perturbation of a corpus vector
    (only the embedding gate can catch those), and novel splices of two
    corpus documents for the rest. Returns the planted ids by kind."""
    os.makedirs(dirpath, exist_ok=True)
    rnd = random.Random(f"{tag}:{seed}")
    noise = np.random.default_rng([seed, n_files, per_file])
    planted: dict[str, set[int]] = {"exact_dup": set(), "eval_gram": set(), "vec_dup": set()}
    doc_id = DOOR_FIRST_ID
    for fi in range(n_files):
        with open(os.path.join(dirpath, f"{tag}_{fi:04d}.jsonl"), "w", encoding="utf-8") as f:
            for _ in range(per_file):
                text = base_docs[rnd.randrange(len(base_docs))][1]
                roll = rnd.random()
                if roll < 0.10:
                    vec = base_vecs[rnd.randrange(len(base_vecs))].tolist()
                    planted["exact_dup"].add(doc_id)
                else:
                    wa = text.split()
                    wb = base_docs[rnd.randrange(len(base_docs))][1].split()
                    text = " ".join([f"novel{doc_id}"] + wa[: len(wa) // 2] + wb[len(wb) // 2 :])
                    if roll < 0.15:
                        text = f"{text} {EVAL_GRAM}"
                        planted["eval_gram"].add(doc_id)
                    if roll >= 0.90:
                        src = base_vecs[rnd.randrange(len(base_vecs))]
                        vec = (src * (1 + noise.uniform(-1e-3, 1e-3, EMBED_DIM))).tolist()
                        planted["vec_dup"].add(doc_id)
                    else:
                        vec = noise.standard_normal(EMBED_DIM).tolist()
                f.write(json.dumps({"doc_id": doc_id, "text": text, "embedding": vec}) + "\n")
                doc_id += 1
    return planted
