"""Seeded embedding corpus for the ANN-serving workload.

Unit-norm 64-dim float32 vectors in two-level clusters: coarse topics, and
inside each topic tight groups of near-duplicates, the shape embeddings of
normalized log statements take. Queries sit next to a group's centre, so a
query's exact top-10 is mostly its own group. With unit-norm vectors the
squared-L2 order the IVF-PQ index ranks by equals the cosine order the
brute-force check uses.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_TOPICS = 32
GROUP_SIZE = 10
TOPIC_SPREAD = 0.45
GROUP_SPREAD = 0.04
QUERY_ID_BASE = 10**12  # query ids never collide with corpus ids


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


class VectorSource:
    """Draws corpus batches and queries from one seeded generator."""

    def __init__(self, seed: int) -> None:
        self._rng = np.random.default_rng(seed)
        self._topics = self._rng.normal(size=(N_TOPICS, DIM))
        self._groups: list[np.ndarray] = []
        self.next_id = 0

    def batch(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, vectors) of ``n`` new vectors in ``n / GROUP_SIZE`` new
        groups, shuffled so groups do not sit in id order."""
        rng = self._rng
        n_groups = -(-n // GROUP_SIZE)
        topics = self._topics[rng.integers(0, N_TOPICS, n_groups)]
        centres = topics + TOPIC_SPREAD * rng.normal(size=topics.shape)
        self._groups.append(centres)
        members = np.repeat(centres, GROUP_SIZE, axis=0)[:n]
        x = _unit(members + GROUP_SPREAD * rng.normal(size=members.shape))
        x = x[rng.permutation(n)]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return ids, x

    def query(self, q_id: int) -> tuple[int, list[float]]:
        """A query next to a random live group's centre."""
        centres = np.concatenate(self._groups)
        c = centres[self._rng.integers(0, len(centres))]
        v = _unit((c + 0.5 * GROUP_SPREAD * self._rng.normal(size=DIM))[None])[0]
        return QUERY_ID_BASE + q_id, v.tolist()


def write_parquet(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    """One ``(vec_id long, embedding array<float>)`` parquet file."""
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.reshape(-1), pa.float32()), DIM
        ).cast(pa.list_(pa.float32())),
    })
    pq.write_table(table, path)


def exact_topk(ids: np.ndarray, x: np.ndarray, q: list[float], k: int) -> set[int]:
    """Ids of the exact ``k`` nearest vectors by cosine (ties by id)."""
    sims = x @ np.asarray(q, dtype=np.float32)
    order = np.lexsort((ids, -sims))[:k]
    return set(ids[order].tolist())
