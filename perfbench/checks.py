"""Correctness checks against a NumPy copy of the index.

After the run the benchmark reads the index back with a fresh
``spark.read.parquet`` and checks every answer against it: k distinct
rows in score order, each score equal to the NumPy dot product of the
stored vector and the query vector (the program rounds scores to 6
decimals), and the rows being the exact top-k of the lists the query
probes, which NumPy works out again from the stored centroids. Recall is
measured against the exact flat top-k over the rows that were visible
when the query ran.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Scores are rounded to 6 decimals by the program: half a unit in the
# last place, plus slack for summation order.
SCORE_TOL = 6e-7


@dataclass
class IndexCopy:
    doc: np.ndarray  # int64 doc id per row
    chunk: np.ndarray  # int64 chunk id per row
    list_id: np.ndarray
    vecs: np.ndarray
    texts: list[str]
    cids: np.ndarray  # centroid ids
    cvecs: np.ndarray  # centroid vectors, one row per id

    @classmethod
    def read(cls, spark, path: str) -> "IndexCopy":
        rows = (
            spark.read.parquet(f"{path}/vectors")
            .selectExpr("_ckey.d AS d", "_ckey.c AS c", "list_id", "chunk", "embedding")
            .collect()
        )
        cents = spark.read.parquet(f"{path}/_centroids").orderBy("cid").collect()
        return cls(
            doc=np.array([r.d for r in rows], dtype=np.int64),
            chunk=np.array([r.c for r in rows], dtype=np.int64),
            list_id=np.array([r.list_id for r in rows], dtype=np.int64),
            vecs=np.array([r.embedding for r in rows], dtype=np.float64),
            texts=[r.chunk for r in rows],
            cids=np.array([r.cid for r in cents], dtype=np.int64),
            cvecs=np.array([r.cvec for r in cents], dtype=np.float64),
        )

    def position(self) -> dict[tuple[int, int], int]:
        return {(int(d), int(c)): i for i, (d, c) in enumerate(zip(self.doc, self.chunk))}

    def probed_lists(self, qvec: np.ndarray, nprobe: int) -> np.ndarray:
        """The ``nprobe`` list ids nearest to the query: squared L2 summed
        left to right over the components, as the program sums it, so
        the distances are bit-equal; ties go to the lowest id."""
        dist = np.cumsum((self.cvecs - qvec) ** 2, axis=1)[:, -1]
        return self.cids[np.lexsort((self.cids, dist))[:nprobe]]

    def exact_topk(self, qvec: np.ndarray, k: int, rows: np.ndarray) -> np.ndarray:
        """Row positions of the exact top-k among ``rows`` (a boolean
        mask), ties to the lowest (doc, chunk) like the program."""
        idx = np.flatnonzero(rows)
        scores = np.round(self.vecs[idx] @ qvec, 6)
        order = np.lexsort((self.chunk[idx], self.doc[idx], -scores))
        return idx[order[:k]]


def check_ranked(
    copy: IndexCopy,
    pos: dict[tuple[int, int], int],
    qvec: np.ndarray,
    keys: list[tuple[int, int]],
    scores: list[float],
    k: int,
    rows: np.ndarray,
) -> str | None:
    """None when the answer is k distinct rows of ``rows`` (a boolean
    mask) in score order, whose scores match NumPy and which are the
    exact top-k of ``rows`` up to ties; otherwise the reason it is
    wrong."""
    if len(keys) != min(k, int(rows.sum())):
        return f"{len(keys)} rows, expected {k}"
    if len(set(keys)) != len(keys):
        return "duplicate rows"
    if list(scores) != sorted(scores, reverse=True):
        return "rows not in score order"
    for key, score in zip(keys, scores):
        i = pos.get(key)
        if i is None or not rows[i]:
            return f"row {key} is not in the index or not in a probed list"
        if abs(float(copy.vecs[i] @ qvec) - score) > SCORE_TOL:
            return f"row {key} score {score} != {float(copy.vecs[i] @ qvec):.7f}"
    if keys:
        # k distinct rows that all score at least the k-th best of
        # ``rows`` are its top-k; ties at the k-th score may go either way
        kth = float(np.round(copy.vecs[copy.exact_topk(qvec, k, rows)[-1]] @ qvec, 6))
        if min(scores) < kth - 2 * SCORE_TOL:
            return f"score {min(scores)} is below the exact k-th score {kth}"
    return None


def recall(copy: IndexCopy, pos, qvec, keys, k: int, visible: np.ndarray) -> float:
    """Share of the exact top-k found; a row tied with the k-th exact
    score counts as found."""
    exact = copy.exact_topk(qvec, k, visible)
    kth = float(np.round(copy.vecs[exact[-1]] @ qvec, 6))
    hits = sum(
        1 for key in keys
        if key in pos and np.round(copy.vecs[pos[key]] @ qvec, 6) >= kth - SCORE_TOL
    )
    return min(hits, len(exact)) / len(exact)
