"""Seeded inputs. The same seed gives the same arrays; the program under
test only ever sees what these functions return.

Vectors are i.i.d. uniform[-1, 1] float32, and queries are drawn after
the vectors from the same stream (the FIXTURES.md convention).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def uniform(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    return rng.uniform(-1.0, 1.0, size=(n, d)).astype(np.float32)


def knn_inputs(seed: int, n: int, d: int, n_queries: int):
    """(vectors, query pool) for the read-only search workload."""
    rng = np.random.default_rng(seed)
    X = uniform(rng, n, d)
    return X, uniform(rng, n_queries, d)


def churn_inputs(seed: int, n: int, d: int, rounds: int, add: int,
                 remove: int, n_queries: int):
    """Base table, per-round add batches, per-round removal draws and
    the query pool for the write workload.

    A removal draw is a set of distinct positions in ``[0, n_live)``,
    where ``n_live`` is the flat table's size at that point of the
    schedule; ids in the flat table are dense positions, so the draw
    is the id list passed to ``remove_ids``.
    """
    rng = np.random.default_rng(seed)
    base = uniform(rng, n, d)
    adds, removes = [], []
    live = n
    for _ in range(rounds):
        adds.append(uniform(rng, add, d))
        live += add
        removes.append(np.sort(rng.choice(live, size=remove, replace=False)))
        live -= remove
    return base, adds, removes, uniform(rng, n_queries, d)


def write_vectors_parquet(X: np.ndarray, path: str) -> None:
    """(id BIGINT, vec ARRAY<FLOAT>) parquet with ids 0..n-1."""
    vec = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(X).ravel()), X.shape[1]
    ).cast(pa.list_(pa.float32()))
    ids = pa.array(np.arange(len(X), dtype=np.int64))
    pq.write_table(pa.table({"id": ids, "vec": vec}), path)
