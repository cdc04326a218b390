"""Seeded batch fixtures for the benchmark.

The committed base in ``fixture/`` is the sf0.01 table set (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``). A run's fixture is that
base transformed by the run's seed, the way ``tools/make_sf1.py`` salts
and rotates its replicas, so every join fan-in, selectivity and key literal
of the base survives:

- every third token of each document gets a salt made from the seed,
  starting at a seed-chosen offset; planted near-duplicate structure
  survives, token statistics and hashes change;
- the embeddings are rotated by a seeded orthogonal matrix, which keeps
  every pairwise cosine exactly;
- the rows of every table are shuffled by the seed, so the physical layout
  changes with the seed.

Usage: ``python3 perfbench/fixture.py <out_dir> <seed>``.
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rng_for(seed, *parts):
    tag = "/".join(str(p) for p in (seed,) + parts).encode()
    return np.random.default_rng(
        int.from_bytes(hashlib.sha256(tag).digest()[:8], "little"))


def salt_text(text, seed):
    start = seed % 3
    return " ".join(t + f"_s{seed}" if i % 3 == start else t
                    for i, t in enumerate(text.split(" ")))


def rotation(seed, dim):
    q, r = np.linalg.qr(rng_for(seed, "rot").standard_normal((dim, dim)))
    return (q * np.sign(np.diag(r))).astype(np.float32)


def transform(name, t, seed):
    if name == "documents":
        salted = [salt_text(s, seed) for s in t.column("text").to_pylist()]
        t = t.set_column(t.schema.get_field_index("text"), "text",
                         pa.array(salted, type=pa.string()))
        t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(s) for s in salted], type=pa.int64()))
    if name == "embeddings":
        field = t.schema.field("embedding")
        vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
        rotated = vecs @ rotation(seed, vecs.shape[1]).T
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding",
                         pa.array([row.tolist() for row in rotated], type=field.type))
    return t


def build(out_dir, seed):
    """Write the fixture for `seed` into out_dir; idempotent."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = transform(name, pq.read_table(os.path.join(BASE, f"{name}.parquet")), seed)
        order = rng_for(seed, "shuffle", name).permutation(table.num_rows)
        pq.write_table(table.take(pa.array(order)),
                       os.path.join(out_dir, f"{name}.parquet"),
                       version="2.6", coerce_timestamps=None,
                       compression="snappy")
    open(done, "w").close()


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]))
