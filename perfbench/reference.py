"""Reference outputs the benchmark checks every pass against.

Documents: the near-dup clustering the pipeline is specified to produce,
computed without Spark. The SQL mirrors the repo's DuckDB oracle
(``_SQL_SCORED`` in ``__spark_entry__.py``: md5 arithmetic MinHash over
distinct 5-char shingles, 4 bands x 4 rows, first 1000 ids per bucket,
0.5 * Jaro-Winkler(64-char prefix) + 0.5 * token Jaccard rounded to 6
places, edges at >= 0.80). It only hoists the per-doc normalisation out of
the pair join, which is what made the oracle query take minutes, and it
replaces the oracle's recursive CTE with a union-find. The MinHash
constants are copied so that a program change cannot move the reference.

Pages: the generator's planted labels (``workloads.gen_pages``).

A clustering is compared as a partition: each id maps to the smallest id of
its cluster, so the check does not depend on how the program names
clusters.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

MINHASH_P = 2_147_483_647
MINHASH_A = [999983, 999979, 999961, 999959, 999953, 999931, 999917, 999907,
             999883, 999863, 999853, 999809, 999773, 999769, 999763, 999749]
MINHASH_B = [15487469, 15487291, 15487103, 15486977, 15486869, 15486719,
             15486481, 15486347, 15486173, 15485989, 15485867, 15485863,
             15485857, 15485849, 15485843, 15485761]
BANDS, ROWS_PER_BAND, BUCKET_CAP, SHINGLE_K = 4, 4, 1000, 5
THRESHOLD = 0.80

_NORM_WS = ("coalesce(array_to_string(list_filter(list_transform("
            "regexp_split_to_array(lower(text), '[_ ]+'),"
            " t -> regexp_replace(t, '[^a-z0-9]+', '', 'g')), t -> t <> ''),"
            " ' '), '')")
_NORM_SCORE = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKENS = ("list_distinct(list_filter(regexp_split_to_array(lower(text),"
           " '[^a-z0-9]+'), t -> t <> ''))")


def doc_edges(docs_path: str) -> tuple[np.ndarray, np.ndarray, int]:
    """(src, dst, candidate_pairs): the match edges at THRESHOLD."""
    import duckdb

    k = SHINGLE_K
    mins = ", ".join(
        f"min(({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_P}) AS mh{s}"
        for s in range(BANDS * ROWS_PER_BAND))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"'{s}=' || mh{s}::varchar"
                             for s in range(b * ROWS_PER_BAND,
                                            (b + 1) * ROWS_PER_BAND))
        + ") AS bucket FROM mh"
        for b in range(BANDS))
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"""
          CREATE TABLE d AS
          SELECT doc_id, {_NORM_WS} AS norm,
                 left({_NORM_SCORE}, 64) AS n64, {_TOKENS} AS toks
          FROM read_parquet('{docs_path}')""")
        con.execute(f"""
          CREATE TABLE sh AS
          SELECT doc_id, unnest(
            CASE WHEN length(norm) < {k} THEN [norm]
                 ELSE list_distinct(list_transform(
                        range(1, length(norm) - {k - 2}),
                        i -> substr(norm, i, {k})))
            END) AS shingle
          FROM d""")
        con.execute(f"""
          CREATE TABLE mh AS
          WITH hs AS (
            SELECT shingle, ('0x' || substr(md5(shingle), 1, 8))::bigint AS h
            FROM (SELECT DISTINCT shingle FROM sh WHERE shingle <> ''))
          SELECT doc_id, {mins} FROM sh JOIN hs USING (shingle)
          GROUP BY doc_id""")
        con.execute(f"""
          CREATE TABLE pairs AS
          WITH b AS ({bands}),
          capped AS (
            SELECT doc_id, band, bucket FROM b
            QUALIFY row_number() OVER (PARTITION BY band, bucket
                                       ORDER BY doc_id) <= {BUCKET_CAP})
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM capped x JOIN capped y
            ON x.band = y.band AND x.bucket = y.bucket
           AND x.doc_id < y.doc_id""")
        n_pairs = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
        edges = con.execute(f"""
          WITH s AS (
            SELECT p.id_a, p.id_b,
                   jaro_winkler_similarity(a.n64, b.n64) AS jw,
                   CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
                        ELSE len(list_intersect(a.toks, b.toks))::double
                             / (len(a.toks) + len(b.toks)
                                - len(list_intersect(a.toks, b.toks)))
                   END AS jacc
            FROM pairs p JOIN d a ON a.doc_id = p.id_a
                         JOIN d b ON b.doc_id = p.id_b)
          SELECT id_a, id_b FROM s
          WHERE round(0.5 * jw + 0.5 * jacc, 6) >= {THRESHOLD}""").fetchnumpy()
    finally:
        con.close()
    return edges["id_a"], edges["id_b"], int(n_pairs)


def min_id_labels(ids: np.ndarray, src: np.ndarray,
                  dst: np.ndarray) -> np.ndarray:
    """Union-find over edges; label of ids[i] = smallest id in its component."""
    ids = np.asarray(ids)
    pos = {int(v): i for i, v in enumerate(ids)}
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(pos[a]), find(pos[b])
        if ra != rb:
            if ids[ra] < ids[rb]:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.array([ids[find(i)] for i in range(len(ids))], dtype=ids.dtype)


def partition_labels(ids, cluster_ids) -> dict:
    """{id: smallest id sharing its cluster} from a program's output."""
    smallest: dict = {}
    for i, c in zip(ids, cluster_ids):
        if c not in smallest or i < smallest[c]:
            smallest[c] = i
    return {i: smallest[c] for i, c in zip(ids, cluster_ids)}


def check(truth: dict, ids, cluster_ids) -> tuple[bool, float]:
    """(output partition equals ``truth``, its pair F1 against ``truth``)."""
    got = partition_labels(ids, cluster_ids)
    return got == truth, pair_f1(truth, got)


def digest(labels: dict) -> str:
    h = hashlib.sha256()
    for i in sorted(labels):
        h.update(f"{i}\t{labels[i]}\n".encode())
    return h.hexdigest()


def doc_reference(docs_path: str, cache_path: str) -> dict:
    """{"labels": {doc_id: min id}, "digest", "candidate_pairs", "edges"},
    cached at ``cache_path`` (one per generated input)."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            ref = json.load(f)
        ref["labels"] = {int(k): v for k, v in ref["labels"].items()}
        return ref
    import pyarrow.parquet as pq

    ids = pq.read_table(docs_path, columns=["doc_id"]).column(0).to_numpy()
    src, dst, n_pairs = doc_edges(docs_path)
    lab = min_id_labels(ids, src, dst)
    labels = {int(i): int(v) for i, v in zip(ids, lab)}
    ref = {"labels": labels, "digest": digest(labels),
           "candidate_pairs": n_pairs, "edges": int(len(src))}
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cache_path)
    return ref


def pair_f1(truth: dict, got: dict) -> float:
    """Pairwise F1 of partition ``got`` against ``truth`` (both id -> label),
    from cluster-size counts, so a big hub cluster costs O(n), not O(n^2)."""
    from collections import Counter

    def pairs(counter) -> int:
        return sum(c * (c - 1) // 2 for c in counter.values())

    ids = list(truth)
    tp = pairs(Counter((truth[i], got[i]) for i in ids))
    p_true = pairs(Counter(truth[i] for i in ids))
    p_got = pairs(Counter(got[i] for i in ids))
    if p_true == 0 and p_got == 0:
        return 1.0
    return 2 * tp / (p_true + p_got)
