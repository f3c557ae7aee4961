"""Benchmark inputs, made from the fixture snapshot in ``fixtures/``.

``fixtures/sf0.001`` and ``fixtures/sf0.01`` hold the ten tables the query
registry reads (``region nation customer supplier part orders lineitem
events documents embeddings``), copied byte for byte from the engine's
deterministic test data (seed 42): the traffic its tests and DuckDB oracles
were tuned on. A workload with ``replicas == 1`` reads its fixture as it is.

``replicate`` grows a fixture ``factor`` times without changing its
structure, as the engine's scale probes do:

- customer, supplier, orders, lineitem and events get key-offset replicas
  (every primary key and the foreign keys that reference it move by the same
  ``k * ID_STRIDE``), so join fan-outs and per-key group sizes stay constant;
- documents get token-disjoint replicas (every token gets a replica suffix),
  so shingle sets never match across replicas and dup groups stay constant;
- embeddings get small perturbed copies with vec ids past the query range;
- region, nation and part stay as they are (facts grow, dimensions don't).

The seed picks the replica suffix tokens, the perturbations and the row
order. It never changes the structure. Pure PyArrow + NumPy: no Spark
session is needed to make inputs.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
ID_STRIDE = 10_000_000  # replica k offsets ids by k * ID_STRIDE

# Keys that replicas offset: the primary key plus foreign keys into other
# replicated tables. Dimension keys (nation, part) are left alone.
REPLICA_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
}


def read_fixture(name: str) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(FIXTURES, name, f"{t}.parquet")) for t in TABLES}


def _suffixes(factor: int, rng: np.random.Generator) -> list[str]:
    """Replica suffix tokens chosen by the seed (index 0 unused). Any two
    differ in at least two of their three letters, so two replicas of one
    supplier name are never one edit apart."""
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    out: list[str] = [""]
    while len(out) < factor:
        tok = "".join(letters[rng.integers(0, len(letters), 3)])
        if all(sum(a != b for a, b in zip(tok, prev)) >= 2 for prev in out[1:]):
            out.append(tok)
    return out


def _offset(tb: pa.Table, cols: tuple[str, ...], by: int) -> pa.Table:
    for c in cols:
        i = tb.schema.get_field_index(c)
        tb = tb.set_column(i, c, pa.array(tb[c].to_numpy() + by))
    return tb


def replicate(
    base: dict[str, pa.Table], factor: int, rng: np.random.Generator
) -> dict[str, pa.Table]:
    """``factor`` structure-preserving copies of ``base`` (see module doc)."""
    sfx = _suffixes(factor, rng)
    out = dict(base)
    for name, keys in REPLICA_KEYS.items():
        parts = [base[name]]
        for k in range(1, factor):
            tb = _offset(base[name], keys, k * ID_STRIDE)
            if name == "supplier":
                i = tb.schema.get_field_index("s_name")
                names = [f"{s}_{sfx[k]}" for s in tb["s_name"].to_pylist()]
                tb = tb.set_column(i, "s_name", pa.array(names))
            parts.append(tb)
        out[name] = pa.concat_tables(parts)

    docs = base["documents"]
    parts = [docs]
    for k in range(1, factor):
        texts = [re.sub(r"(\S+)", rf"\1_{sfx[k]}", s) for s in docs["text"].to_pylist()]
        tb = _offset(docs, ("doc_id",), k * ID_STRIDE)
        tb = tb.set_column(tb.schema.get_field_index("text"), "text", pa.array(texts))
        tb = tb.set_column(
            tb.schema.get_field_index("n_chars"),
            "n_chars",
            pa.array([len(s) for s in texts], pa.int64()),
        )
        parts.append(tb)
    out["documents"] = pa.concat_tables(parts)

    emb = base["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    parts = [emb]
    for k in range(1, factor):
        noisy = vecs + rng.normal(0, 1e-3, vecs.shape).astype(np.float32)
        tb = _offset(emb, ("vec_id",), k * ID_STRIDE)
        i = tb.schema.get_field_index("embedding")
        tb = tb.set_column(i, "embedding", pa.array(list(noisy), emb.schema.field(i).type))
        parts.append(tb)
    out["embeddings"] = pa.concat_tables(parts)
    return out


def shuffle_rows(tables: dict[str, pa.Table], rng: np.random.Generator) -> dict[str, pa.Table]:
    """Seeded row order for every table: same rows, new scan order."""
    return {n: tb.take(rng.permutation(tb.num_rows)) for n, tb in tables.items()}


def write(tables: dict[str, pa.Table], dest: str, files: int) -> None:
    """``<dest>/<table>.parquet`` as a directory of ``files`` part files
    (what a distributed writer leaves). Tables under 1000 rows (the
    dimensions) stay one file."""
    os.makedirs(dest, exist_ok=True)
    for name in TABLES:
        tb = tables[name]
        path = os.path.join(dest, f"{name}.parquet")
        if tb.num_rows < 1000:
            pq.write_table(tb, path)
            continue
        os.makedirs(path, exist_ok=True)
        step = -(-tb.num_rows // files)
        for i in range(files):
            pq.write_table(
                tb.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
            )


def make(workload, seed: int, dest: str) -> None:
    """Write one workload's inputs for ``seed`` to ``dest``."""
    if workload.replicas == 1:
        shutil.copytree(os.path.join(FIXTURES, workload.fixture), dest)
        return
    rng = np.random.default_rng(seed)
    tables = replicate(read_fixture(workload.fixture), workload.replicas, rng)
    write(shuffle_rows(tables, rng), dest, workload.files)


if __name__ == "__main__":
    import argparse
    import sys

    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="write one workload's seeded inputs")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    make(WORKLOADS[args.workload], args.seed, args.out)
    sys.exit(0)
