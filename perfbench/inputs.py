"""Seeded inputs for the benchmark workloads.

The program receives only the tables built here. ``corpus.build_document``
is keyed on the document index, so seed ``s`` selects the disjoint index
window ``[s * WINDOW, s * WINDOW + n)``; the same seed drives the base-text
vocabulary, the update batch, the planted near-duplicates and the query
sample. A claim can therefore be rechecked on a seed never used before.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_search_spark.corpus import build_document

#: doc-index window per seed; far larger than any workload's doc count
WINDOW = 1_000_000
#: share of documents drawn from the corpus's 64-256-page PDF tail
GIANT_SHARE = 0.01

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


def base_texts(seed: int, n_texts: int, vocab_size: int = 6000) -> list[str]:
    """Word-salad base texts over a Zipf-distributed synthetic vocabulary,
    so the postings hold both very common and very rare terms."""
    rng = random.Random(f"base:{seed}")
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gi"]
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < vocab_size:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    weights = [1.0 / (r + 1) for r in range(vocab_size)]
    return [
        " ".join(rng.choices(vocab, weights, k=rng.randint(20, 80)))
        for _ in range(n_texts)
    ]


def is_giant(doc: dict) -> bool:
    return len(doc["spans"]) > 8


def documents(seed: int, start: int, n: int, base: list[str]) -> list[dict]:
    """``n`` interleaved documents from the seed's index window, starting
    at ``start``. Exactly ``GIANT_SHARE`` of them come from the giant-PDF
    tail (skipping surplus ones), so the span count, and with it the work
    of a run, does not swing with how many giants a seed happens to draw."""
    n_giant = round(n * GIANT_SHARE)
    out: list[dict] = []
    giants = 0
    i = seed * WINDOW + start
    while len(out) < n:
        doc = build_document(i, base)
        i += 1
        if is_giant(doc):
            if giants < n_giant:
                giants += 1
                out.append(doc)
        elif len(out) - giants < n - n_giant:
            out.append(doc)
    return out


def update_batch(seed: int, bulk: list[dict], base: list[str]) -> tuple[list[dict], list[dict]]:
    """An update batch of ``len(bulk) // 4`` documents: half re-ingest ids
    of ``bulk`` with new spans, taken from another part of the seed's
    window, half are new. Returns ``(batch, reused bulk docs)``."""
    n_half = max(1, len(bulk) // 8)
    reused = random.Random(f"update:{seed}").sample(bulk, n_half)
    fresh = documents(seed, WINDOW // 2, n_half, base)
    batch = [{"doc_id": d["doc_id"], "spans": f["spans"]} for d, f in zip(reused, fresh)]
    return batch + documents(seed, WINDOW // 8, n_half, base), reused


def write_docs(rows: list[dict], path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files so the scan is split."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for k in range(0, len(rows), step):
        chunk = rows[k : k + step]
        table = pa.Table.from_pylist(chunk, schema=DOCS_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))


def _edit(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """A light edit: replace, drop or insert about 3% of the words."""
    out = list(words)
    for _ in range(max(1, len(out) // 33)):
        op = rng.randrange(3)
        pos = rng.randrange(len(out)) if out else 0
        if op == 0 and out:
            out[pos] = rng.choice(vocab)
        elif op == 1 and len(out) > 1:
            del out[pos]
        else:
            out.insert(pos, rng.choice(vocab))
    return out


def plant_near_duplicates(
    seed: int, docs: list[tuple[str, str]], pair_share: float, cluster_share: float
) -> list[tuple[str, str]]:
    """Add near-duplicates of ``(doc_id, text)`` rows: ``pair_share`` of the
    docs get one lightly edited variant, ``cluster_share`` get a cluster of
    ten. Variants sort after their source by id."""
    rng = random.Random(f"dedup:{seed}")
    vocab = sorted({w for _, t in docs[:200] for w in t.split()}) or ["x"]
    out = list(docs)
    for doc_id, text in docs:
        words = text.split()
        if len(words) < 8:
            continue
        r = rng.random()
        if r < cluster_share:
            n_var = 10
        elif r < cluster_share + pair_share:
            n_var = 1
        else:
            continue
        for v in range(n_var):
            out.append((f"{doc_id}~{v}", " ".join(_edit(rng, words, vocab))))
    return out
