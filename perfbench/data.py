"""Seeded inputs for the benchmark.

The inputs are a key-hash subsample of the sf0.01 fixture tables committed
under ``perfbench/data/sf0.01`` (the same tables the correctness gate runs
on). A row is kept when a seeded hash of its key falls under ``KEEP``; the
keys are chosen so that every join stays consistent:

- ``customer`` by ``c_custkey``; ``orders`` by ``o_orderkey`` and only for
  kept customers; ``lineitem`` follows its order;
- ``events`` by ``user_id``, so a user's sessions stay whole;
- ``documents`` by ``doc_id`` and ``embeddings`` by ``vec_id``;
- the dimension tables (``region``, ``nation``, ``supplier``, ``part``) are
  kept whole, so no fact row loses its dimension.

The same seed always writes the same tables; another seed drops another
tenth of the keys.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: Share of keys kept per keyed table.
KEEP = 0.9

#: table -> key column hashed to decide whether the row is kept.
_KEYED = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_WHOLE = ("region", "nation", "supplier", "part")


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def keep_mask(keys: pa.Array, seed: int, salt: str) -> np.ndarray:
    """True where the seeded hash of ``keys`` falls under ``KEEP``."""
    digest = hashlib.blake2b(f"{seed}:{salt}".encode(), digest_size=8).digest()
    k = np.asarray(keys.to_numpy(zero_copy_only=False), dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = _splitmix64(_splitmix64(k) ^ np.uint64(int.from_bytes(digest, "little")))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53) < KEEP


def materialize(seed: int, out_dir: str) -> dict[str, int]:
    """Write the seed's tables as ``<out_dir>/<table>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        name: pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        for name in (*_WHOLE, *_KEYED, "lineitem")
    }
    out: dict[str, pa.Table] = {name: tables[name] for name in _WHOLE}
    for name, key in _KEYED.items():
        t = tables[name]
        out[name] = t.filter(pa.array(keep_mask(t[key], seed, name)))
    out["orders"] = out["orders"].filter(
        pc.is_in(out["orders"]["o_custkey"], value_set=out["customer"]["c_custkey"])
    )
    out["lineitem"] = tables["lineitem"].filter(
        pc.is_in(tables["lineitem"]["l_orderkey"], value_set=out["orders"]["o_orderkey"])
    )
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in out.items()}
