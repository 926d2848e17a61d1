"""Checks for the queries whose oracle mismatch is a known baseline failure.

A mismatch of one of these queries still counts in ``failed`` and
``fail_ratio``. The run stays ``correct`` only if the query's rows pass the
weaker check below, which holds on any input, so a change that returns
empty or wrong rows for such a query still fails the run.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

# simhash_hamming_pairs' default recall cap, as dedup_simhash_probe uses it.
MAX_CLIQUE = 256
COS_TOL = 1e-9
IVF_QUERIES = (0, 1, 2, 3, 4)
IVF_K = 5


def simhash_probe(cols, rows, duck_cols, duck_rows, input_dir: str) -> str | None:
    """The recall cap can only drop pairs, and only pairs whose every shared
    16-bit band value is held by more than ``MAX_CLIQUE`` documents. So every
    engine row must be an oracle row, with the same Hamming distance, and none
    twice; and every oracle pair that shares a band bucket within the cap
    must be found. Signatures come from the oracle's own SQL."""
    if [c.lower() for c in cols] != [c.lower() for c in duck_cols]:
        return f"columns {cols} != oracle {duck_cols}"
    got = [tuple(int(v) for v in r) for r in rows]
    if len(set(got)) != len(got):
        return "duplicate pairs"
    want = {tuple(int(v) for v in r) for r in duck_rows}
    extra = set(got) - want
    if extra:
        return f"{len(extra)} pairs not in the oracle, e.g. {sorted(extra)[:3]}"
    from rtcdb_spark.queries.dedup_queries import _SQL_SIMHASH64
    from tests.oracle import duck_connect

    con = duck_connect(input_dir)
    try:
        sigs = con.execute(f"WITH {_SQL_SIMHASH64} SELECT doc_id, sim_hi, sim_lo FROM sigs").fetchall()
    finally:
        con.close()
    bands = {
        d: ((lo & 0xFFFF), (lo >> 16) & 0xFFFF, (hi & 0xFFFF), (hi >> 16) & 0xFFFF)
        for d, hi, lo in sigs
    }
    size = Counter((b, v) for vals in bands.values() for b, v in enumerate(vals))
    def within_cap(a: int, b: int) -> bool:
        return any(
            va == vb and size[i, va] <= MAX_CLIQUE for i, (va, vb) in enumerate(zip(bands[a], bands[b]))
        )

    missed = [(a, b) for a, b, _ in want - set(got) if within_cap(a, b)]
    if missed:
        return f"{len(missed)} pairs missed that share a band bucket within the cap, e.g. {sorted(missed)[:3]}"
    return None


def ivf_topk(cols, rows, duck_cols, duck_rows, input_dir: str) -> str | None:
    """The oracle replays centroids trained on one fixture, so its neighbours
    are only valid there. On any input the answer must still be, for each of
    the query vectors 0-4, ranks 1-5 of distinct other vectors whose
    ``cos_sim`` is their true cosine, in rank order, and no better than the
    exact top-5 at the same rank (approximate search only loses neighbours)."""
    if [c.lower() for c in cols] != ["qid", "vec_id", "cos_sim", "rank"]:
        return f"columns {cols}"
    emb = pq.read_table(os.path.join(input_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = emb["vec_id"].to_numpy()
    vecs = np.asarray(emb["embedding"].to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    row_of = {int(v): i for i, v in enumerate(ids)}
    by_q: dict[int, list[tuple]] = {}
    for qid, vec_id, cos, rank in rows:
        by_q.setdefault(int(qid), []).append((int(rank), int(vec_id), float(cos)))
    if sorted(by_q) != list(IVF_QUERIES):
        return f"query ids {sorted(by_q)}"
    for qid, hits in by_q.items():
        hits.sort()
        if [r for r, _, _ in hits] != list(range(1, IVF_K + 1)):
            return f"qid {qid}: ranks {[r for r, _, _ in hits]}"
        found = [v for _, v, _ in hits]
        if qid in found or len(set(found)) != IVF_K or any(v not in row_of for v in found):
            return f"qid {qid}: neighbours {found}"
        exact = np.delete(unit @ unit[row_of[qid]], row_of[qid])
        best = np.sort(exact)[::-1][:IVF_K]
        prev = np.inf
        for (rank, vec_id, cos), top in zip(hits, best):
            true = float(unit[row_of[vec_id]] @ unit[row_of[qid]])
            if abs(cos - true) > COS_TOL:
                return f"qid {qid} rank {rank}: cos_sim {cos} != {true}"
            if cos > prev + COS_TOL or cos > top + COS_TOL:
                return f"qid {qid} rank {rank}: cos_sim {cos} out of order"
            prev = cos
    return None


# Oracle mismatches present when the benchmark was written, with the check
# that must hold instead.
BASELINE_FAILURES = {
    # Banded multi-probe caps each band bucket at max_clique=256, which loses
    # pairs once a bucket is larger (dedup.simhash_hamming_pairs).
    "dedup_simhash_probe": ("max_clique=256 recall cap drops pairs", simhash_probe),
    # The oracle replays centroids pinned from the sf0.01 fixture
    # (functions/pq_pinned.py), so on any other input it has no valid answer.
    "similarity_ivf_trained_topk": ("oracle replays sf0.01-pinned centroids", ivf_topk),
}
