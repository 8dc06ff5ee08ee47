"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, shape): the same seed
gives byte-identical parquet. The engine only ever sees the generated
files. Inputs are cached under `<root>/<workload>-<seed>/` behind a
`_complete` marker that is written last and records the seed and the
shape, so a half-written directory or a shape change regenerates instead
of benchmarking stale data. Only the current seed of each workload is
kept on disk.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from audiopro_essentia_spark.constants import SAMPLE_RATE
from audiopro_essentia_spark.fixtures import SOURCE_P, SOURCES

EPOCH = dt.datetime(2026, 1, 1)
VERSION = 2  # of the generators; the cache marker records it

# Sizes are chosen so that a run (set-up, one cold pass, warm passes and
# the checks) fits the time the whole benchmark may take on a 4-core host;
# the doc-length distributions are the ones each workload is about.
SHAPES = {
    # long docs: up to 1.4 s of "audio" each, 1-121 frames
    "flagship_long": {"n_docs": 128, "n_tok": [2048, 63488], "labels": 5},
    # the shapes of the sf0.01 test tier (documents is 500 rows there too)
    "query_mix": {"documents": 500, "events": 10_000, "lineitem": 60_000, "embeddings": 500},
}


def prepare(workload: str, seed: int, root: str) -> str:
    """Return the input directory for (workload, seed), generating it if
    the cache marker is missing or records another shape."""
    shape = SHAPES[workload]
    params = json.dumps({"workload": workload, "seed": seed, "version": VERSION, **shape}, sort_keys=True)
    out = os.path.join(root, f"{workload}-{seed}")
    marker = os.path.join(out, "_complete")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == params:
                return out
    os.makedirs(root, exist_ok=True)
    for d in os.listdir(root):
        if d.startswith(f"{workload}-"):
            shutil.rmtree(os.path.join(root, d))
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    if workload == "query_mix":
        _sf_tier(rng, out, **shape)
    else:
        _sequences(rng, out, **shape)
    with open(marker, "w") as fh:
        fh.write(params)
    return out


def _us(values: np.ndarray, epoch: dt.datetime = EPOCH) -> pa.Array:
    """Microseconds since `epoch` as a tz-less timestamp column."""
    base = (epoch - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return pa.array(base + values.astype(np.int64), pa.timestamp("us"))


def _sequences(rng: np.random.Generator, out: str, n_docs: int, n_tok: list, labels: int) -> None:
    """sequences.parquet (doc_id, tokens, n_tok, source, base_ts) and
    labels.parquet (doc_id, label_ts, label). Every doc is long enough to
    frame and has nonzero energy, so no doc is quarantined."""
    # stratified draw: each doc length is uniform on [lo, hi], but the
    # total varies little between seeds, so a seed changes which docs are
    # long, not how much work a pass does
    strata = (rng.permutation(n_docs) + rng.uniform(size=n_docs)) / n_docs
    lens = (n_tok[0] + strata * (n_tok[1] - n_tok[0])).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    values = rng.integers(-32768, 32767, size=int(offsets[-1]), dtype=np.int32)
    doc_ids = np.array([f"doc{i:06d}" for i in range(n_docs)])
    sources = rng.choice(SOURCES, size=n_docs, p=SOURCE_P)
    base_us = rng.integers(0, 86_400_000_000, size=n_docs)
    seqs = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            "n_tok": pa.array(lens.astype(np.int32)),
            "source": pa.array(sources, pa.string()),
            "base_ts": _us(base_us),
        }
    )
    # several row groups per core keep the scan splittable (one row group
    # would run the whole kernel as one task)
    pq.write_table(seqs, os.path.join(out, "sequences.parquet"), row_group_size=max(1, n_docs // 16))

    # one label just before each doc's first frame, the rest spread over
    # the doc's span, so the backward as-of join matches every frame
    dur_us = lens * 1_000_000 // SAMPLE_RATE
    offs = rng.uniform(0.0, 1.0, size=(n_docs, labels)) * (dur_us[:, None] + 100_000)
    offs[:, 0] = -rng.uniform(1.0, 1_000_000.0, size=n_docs)
    offs.sort(axis=1)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.repeat(doc_ids, labels), pa.string()),
                "label_ts": _us((base_us[:, None] + offs.astype(np.int64)).ravel()),
                "label": pa.array(rng.normal(size=n_docs * labels)),
            }
        ),
        os.path.join(out, "labels.parquet"),
    )


# The query_mix tier copies the distributions of the sf test tiers, measured
# on their sf0.01 and sf0.1 tables (500 / 5000 documents; the tiers are
# themselves synthetic):
# - documents: 10-99 words per text, uniform; each word uniform over the 30
#   words below (no Zipf skew, all ASCII); 5% of the docs are a copy of
#   another doc's text plus " dup" (a copy of a copy ends "dup dup");
#   n_chars = len(text); source = src<doc_id % 20>; lang en 40%, the
#   other four 15% each;
# - embeddings: 64-dim unit-norm Gaussian vectors, no near copies (the
#   largest cosine to another vector stays below 0.55), label uniform 0-9;
# - events: ts uniform over 30 days from 2024-01-01, sorted; one user per
#   66.7 events, uniform; event_type uniform over 5; value an exponential
#   of mean 50 rounded to cents; props '{"k": <0-99>}';
# - lineitem: TPC-H-like, keys uniform on [0, rows/4), [0, rows/30),
#   [0, rows/600); quantity 1-50; price uniform 900-105000; discount
#   0-10%, tax 0-8%, flags uniform; shipdate 1995-01-02 plus 0-2498 days.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS, LANG_P = ("en", "zh", "es", "de", "fr"), (0.40, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def _one_group(path: str, table: pa.Table) -> None:
    # the sf test tiers' layout: one row group per table
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _sf_tier(
    rng: np.random.Generator, out: str, documents: int, events: int, lineitem: int, embeddings: int
) -> None:
    """The tables the query_mix entries read, in the sf test tiers' schema
    and distributions (see above)."""
    n_words = rng.integers(10, 100, size=documents)
    texts = [" ".join(rng.choice(WORDS, size=int(n))) for n in n_words]
    for i in rng.permutation(documents)[: documents // 20]:
        j = int(rng.integers(documents - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _one_group(
        os.path.join(out, "documents.parquet"),
        pa.table(
            {
                "doc_id": pa.array(np.arange(documents, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(rng.choice(LANGS, size=documents, p=LANG_P), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(documents)], pa.string()),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
    )

    vecs = rng.normal(size=(embeddings, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _one_group(
        os.path.join(out, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(embeddings, dtype=np.int64)),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, size=embeddings).astype(np.int32)),
            }
        ),
    )

    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, size=events))
    _one_group(
        os.path.join(out, "events.parquet"),
        pa.table(
            {
                "event_id": pa.array(np.arange(events, dtype=np.int64)),
                "ts": _us(ts, dt.datetime(2024, 1, 1)),
                "user_id": pa.array(rng.integers(0, events * 3 // 200, size=events)),
                "event_type": pa.array(rng.choice(EVENT_TYPES, size=events), pa.string()),
                "value": pa.array(np.round(rng.exponential(50.0, size=events), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=events)], pa.string()),
            }
        ),
    )

    ship_days = rng.integers(0, 2499, size=lineitem)
    _one_group(
        os.path.join(out, "lineitem.parquet"),
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, lineitem // 4, size=lineitem)),
                "l_partkey": pa.array(rng.integers(0, lineitem // 30, size=lineitem)),
                "l_suppkey": pa.array(rng.integers(0, lineitem // 600, size=lineitem)),
                "l_linenumber": pa.array(rng.integers(1, 8, size=lineitem).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, size=lineitem).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, size=lineitem), 2)),
                "l_discount": pa.array(rng.integers(0, 11, size=lineitem) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, size=lineitem) / 100.0),
                "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=lineitem), pa.string()),
                "l_linestatus": pa.array(rng.choice(["O", "F"], size=lineitem), pa.string()),
                "l_shipdate": _us(ship_days * 86_400_000_000, dt.datetime(1995, 1, 2)),
            }
        ),
    )


if __name__ == "__main__":
    # run.py generates inputs in a child process, so that the generator's
    # imports stay out of the parent's set-up time
    import sys

    print(prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
