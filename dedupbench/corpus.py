"""Seeded workload corpora, generated with ``mashspark.webtext`` before
any timed window and cached by (seed, shape) as parquet.

A cached corpus is reused only when its row count and content digest
still match the values recorded when it was written.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    """``n_base`` base documents, each with its near-duplicate variants;
    or, when ``n_docs`` is set, as many base documents as it takes to
    reach ``n_docs`` docs (whole families only), so that every seed gives
    the same input size."""

    n_base: int
    min_words: int
    max_words: int
    dup_prob: float
    boilerplate_prob: float
    n_docs: int | None = None

    def tag(self) -> str:
        size = f"n{self.n_docs}" if self.n_docs else f"b{self.n_base}"
        return (f"{size}-w{self.min_words}_{self.max_words}"
                f"-d{self.dup_prob}-bp{self.boilerplate_prob}")


# Per workload and scale. "full" is the sizing the workloads were first
# profiled at (seed 42: 70,139 / 69,914 docs); "bench" keeps a whole run
# of set-up plus timed passes inside the benchmark's per-run budget on a
# 4-core host; "tiny" is for the smoke tests.
SHAPES = {
    "web_sparse": {
        "full": Shape(40_000, 100, 600, 0.3, 0.5),
        "bench": Shape(0, 100, 600, 0.3, 0.5, n_docs=5_000),
        "tiny": Shape(0, 100, 600, 0.3, 0.5, n_docs=200),
    },
    "web_dense_short": {
        "full": Shape(20_000, 15, 40, 1.0, 1.0),
        "bench": Shape(0, 15, 40, 1.0, 1.0, n_docs=6_500),
        "tiny": Shape(0, 15, 40, 1.0, 1.0, n_docs=600),
    },
}

# Doc counts at seed 42: a self-check that generation is unchanged.
SEED42_DOCS = {
    ("web_sparse", "full"): 70_139,
    ("web_dense_short", "full"): 69_914,
}


def table_digest(table: pa.Table) -> str:
    """sha256 over (doc_id, text) rows in doc_id order."""
    table = table.sort_by("doc_id")
    h = hashlib.sha256()
    h.update(table.column("doc_id").to_numpy().tobytes())
    for chunk in table.column("text").chunks:
        offsets, data = chunk.buffers()[1:3]
        h.update(offsets)
        h.update(data)
    return h.hexdigest()[:32]


def _generate(shape: Shape, seed: int) -> pa.Table:
    from mashspark.webtext import gen_base_docs

    rows, base = [], 0
    while (len(rows) < shape.n_docs) if shape.n_docs else (base < shape.n_base):
        rows.extend(gen_base_docs(
            base, seed=seed, min_words=shape.min_words, max_words=shape.max_words,
            dup_prob=shape.dup_prob, boilerplate_prob=shape.boilerplate_prob))
        base += 1
    return pa.table({"doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                     "text": pa.array([r["text"] for r in rows], pa.string())})


def load(workload: str, scale: str, seed: int, cache_dir: str) -> tuple[str, dict]:
    """Path of the cached corpus parquet for (workload shape, seed) and
    its record {shape, seed, n_docs, text_bytes, digest, cached}."""
    shape = SHAPES[workload][scale]
    d = os.path.join(cache_dir, f"{shape.tag()}-s{seed}")
    path, meta_path = os.path.join(d, "docs.parquet"), os.path.join(d, "meta.json")
    if os.path.exists(meta_path) and os.path.exists(path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        table = pq.read_table(path)
        if table.num_rows == meta["n_docs"] and table_digest(table) == meta["digest"]:
            return path, dict(meta, cached=True)
    table = _generate(shape, seed)
    expect = SEED42_DOCS.get((workload, scale)) if seed == 42 else None
    if expect is not None and table.num_rows != expect:
        raise RuntimeError(f"{workload}/{scale} seed 42 generated {table.num_rows} "
                           f"docs, expected {expect}")
    meta = {"shape": asdict(shape), "seed": seed, "n_docs": table.num_rows,
            "text_bytes": int(pc.sum(pc.binary_length(table.column("text"))).as_py()),
            "digest": table_digest(table)}
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return path, dict(meta, cached=False)
