"""Seeded input generators for the benchmark workloads.

The generators live here, not in the package, so a change to the program
cannot change the workload: the program only ever sees the parquet files
written below. Same (kind, seed, n) -> byte-identical inputs.

* ``docs``: (doc_id, text) over a 31-word vocabulary, 10-100 words per doc,
  with planted near-duplicate chains (about 1 doc in 625 copies an earlier
  doc, possibly itself a copy, and changes one word). The tiny vocabulary
  saturates k=5 character shingles, so MinHash/LSH blocking and pair
  scoring carry the load.
* ``pages``: (url, text) pages plus a (pageid, title) dimension, about 4
  pages per entity mentioning its title in one of three casings, plus a
  bounded hub tail (every hub page mentions one shared title) and a
  boilerplate tail with no mention at all. ``labels`` is the planted truth:
  the entity, the hub, or the page itself.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
PAGE_FILLER = (
    "the of a in and to for with on by from page web site data text "
    "record link graph match block score cluster node edge title"
).split()
BOILERPLATE = (
    "copyright notice all rights reserved terms of service privacy policy "
    "cookie settings subscribe newsletter follow us contact about"
)
NEAR_DUP_RATE = 1 / 625
PAGES_PER_ENTITY = 4
OLD_SHARE = 0.8


def gen_docs(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(DOC_VOCAB), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    docs = np.split(words, cuts)
    planted = np.flatnonzero(rng.random(n) < NEAR_DUP_RATE)
    for i in planted[planted > 0]:
        src = max(0, i - 1 - int(rng.integers(0, 40)))
        copy = docs[src].copy()
        copy[rng.integers(0, len(copy))] = rng.integers(0, len(DOC_VOCAB))
        docs[i] = copy
    vocab = np.array(DOC_VOCAB, dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array([" ".join(vocab[d]) for d in docs], pa.string()),
    })


def gen_pages(seed: int, n: int) -> tuple[pa.Table, pa.Table, np.ndarray]:
    """(pages, titles, labels); labels[i] is page i's planted cluster id."""
    rng = np.random.default_rng([seed, 2])
    n_hub = n_boiler = max(1, n // 50)
    n_entity_pages = n - n_hub - n_boiler
    n_entities = n_entity_pages // PAGES_PER_ENTITY
    filler = np.array(PAGE_FILLER, dtype=object)
    # entity numbers are seeded too, so titles differ between seeds
    entity_no = rng.permutation(10 * n_entities + 10)[:n_entities]
    texts = []
    labels = np.arange(n, dtype=np.int64) + n   # singletons by default
    n_noise = rng.integers(6, 19, n)
    for uid in range(n):
        noise = " ".join(filler[rng.integers(0, len(filler), n_noise[uid])])
        if uid < n_entity_pages:
            e = uid // PAGES_PER_ENTITY
            if e < n_entities:
                no = entity_no[e]
                mention = f"Entity {no:07d} (kind{no % 7})"
                casing = uid % 3
                if casing == 1:
                    mention = mention.lower()
                elif casing == 2:
                    mention = mention.upper()
                extra = filler[rng.integers(0, len(filler))]
                texts.append(f"{noise} {mention} {extra}")
                labels[uid] = e
            else:
                texts.append(noise)
        elif uid < n_entity_pages + n_hub:
            texts.append(f"Hub topic {noise}")
            labels[uid] = -1
        else:
            texts.append(f"{BOILERPLATE} {filler[rng.integers(0, len(filler))]}")
    urls = [f"https://sc{uid % 13}.org/p/{uid:08d}" for uid in range(n)]
    pages = pa.table({"url": pa.array(urls, pa.string()),
                      "text": pa.array(texts, pa.string())})
    titles = pa.table({
        "pageid": pa.array(np.arange(n_entities + 1, dtype=np.int64) + 100),
        "title": pa.array(
            [f"Entity_{no:07d}_(kind{no % 7})" for no in entity_no]
            + ["Hub_topic"], pa.string()),
    })
    return pages, titles, labels


def write_inputs(kind: str, seed: int, n: int, out_dir: str) -> dict:
    """Write one workload's inputs under ``out_dir`` (skipped when already
    there) and return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    if kind == "docs":
        # the whole corpus (for the reference) and its two increments: the
        # first OLD_SHARE of the doc ids, then the rest
        paths = {k: os.path.join(out_dir, f"{k}.parquet")
                 for k in ("docs", "docs_old", "docs_new")}
        if not all(os.path.exists(p) for p in paths.values()):
            docs = gen_docs(seed, n)
            cut = int(n * OLD_SHARE)
            _write(docs.slice(0, cut), paths["docs_old"])
            _write(docs.slice(cut), paths["docs_new"])
            _write(docs, paths["docs"])
        return paths
    paths = {k: os.path.join(out_dir, f"{k}.parquet")
             for k in ("pages", "titles", "labels")}
    if not all(os.path.exists(p) for p in paths.values()):
        pages, titles, labels = gen_pages(seed, n)
        _write(pa.table({"url": pages.column("url"),
                         "label": pa.array(labels)}), paths["labels"])
        _write(titles, paths["titles"])
        _write(pages, paths["pages"])
    return paths


def _write(table: pa.Table, path: str) -> None:
    # write-then-rename: a killed run never leaves a half-written input
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
