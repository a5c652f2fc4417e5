"""Seeded benchmark inputs, generated from the read-only sf0.1 tables that
``bench.py`` reads (``$SPARK_GRAFT_SF_DIR`` or its default).

Each table is rewritten as a directory of parquet part files
(``<out>/<table>.parquet/part-NNNNN.parquet``), which Spark reads exactly
like the single-file source:

- the rows are permuted by a generator seeded with ``(seed, table)``;
- the permuted rows are cut into ``n_files`` parts at seeded boundaries
  (each boundary moves at most a quarter of an even share);
- document-side tables can be replicated with every replica's key columns
  shifted into a disjoint key space, as ``scripts/scale_probe.py`` does, so
  joins keep the source's cardinalities.

The same seed gives byte-identical files; another seed gives the same row
counts in another order and split.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bench import SF_DIR as SRC

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: document-side table -> key columns shifted per replica
REPLICA_KEYS = {"documents": ["doc_id"], "embeddings": ["vec_id"]}
#: key offset per replica, far above any source key
SHIFT = 1_000_000_000


def _replicate(table: pa.Table, keys: list[str], replicas: int) -> pa.Table:
    parts = []
    for r in range(replicas):
        t = table
        for k in keys:
            col = t.column(k)
            shifted = pc.add(col, pa.scalar(r * SHIFT, col.type))
            t = t.set_column(t.schema.get_field_index(k), k, shifted)
        parts.append(t)
    return pa.concat_tables(parts)


def _cuts(rng: np.random.Generator, n_rows: int, n_files: int) -> list[int]:
    share = n_rows / n_files
    jitter = rng.uniform(-0.25, 0.25, n_files - 1) * share
    inner = [int(share * (i + 1) + j) for i, j in enumerate(jitter)]
    return [0, *inner, n_rows]


def generate(out_dir: str, seed: int, tables, replicas: int = 1,
             src: str = SRC) -> dict[str, dict]:
    """Write the seeded copy of ``tables`` under ``out_dir``; return
    ``{table: {"rows", "files", "bytes"}}``."""
    sizes = {}
    for name in tables:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if replicas > 1 and name in REPLICA_KEYS:
            table = _replicate(table, REPLICA_KEYS[name], replicas)
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        n_files = 4 if table.num_rows >= 1000 else 2
        cuts = _cuts(rng, table.num_rows, n_files)
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        total = 0
        for i in range(n_files):
            path = os.path.join(tdir, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            total += os.path.getsize(path)
        sizes[name] = {"rows": table.num_rows, "files": n_files, "bytes": total}
    return sizes
