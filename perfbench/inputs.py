"""Seeded input tables for the benchmark.

The inputs are the package's TPC-H-like test tables as shipped, kept in
``tables/<size>/`` with their SHA-256 sums in ``tables/SHA256SUMS``. A data
set for one seed permutes the row order of the fact tables (``customer``,
``orders``, ``lineitem``, ``events``) from the seed and copies every other
table unchanged: keys, values, fan-out, the document corpus and the
embeddings stay exactly those of the test tables, so every oracle computes
what it computes on them. Each file keeps the single row group of its
source.

A data set is written once per (seed, size) into ``<root>/<size>-seed<seed>``
through a private directory renamed into place, and re-checked by row count
before every run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow.parquet as pq

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
PERMUTED = ("customer", "orders", "lineitem", "events")


def shipped(size: str) -> dict[str, str]:
    """Table name -> path of the shipped copy, after checking its sum."""
    paths = {}
    with open(os.path.join(TABLES, "SHA256SUMS")) as f:
        for line in f:
            digest, rel = line.split()
            if not rel.startswith(f"{size}/"):
                continue
            path = os.path.join(TABLES, rel)
            with open(path, "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != digest:
                    raise RuntimeError(f"{path} does not match its SHA-256 sum")
            paths[os.path.basename(rel)[: -len(".parquet")]] = path
    if not paths:
        raise RuntimeError(f"no shipped tables of size {size} under {TABLES}")
    return paths


def row_counts_ok(path: str, rows: dict[str, int]) -> bool:
    for name, n in rows.items():
        f = os.path.join(path, f"{name}.parquet")
        if not os.path.isfile(f) or pq.read_metadata(f).num_rows != n:
            return False
    return True


def ensure(root: str, seed: int, size: str) -> str:
    """Return the directory of the (seed, size) data set, writing it first
    if it is missing or fails its row-count check."""
    sources = shipped(size)
    rows = {name: pq.read_metadata(p).num_rows for name, p in sources.items()}
    path = os.path.join(root, f"{size}-seed{seed}")
    if row_counts_ok(path, rows):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    try:
        for i, (name, src) in enumerate(sorted(sources.items())):
            dst = os.path.join(tmp, f"{name}.parquet")
            if name not in PERMUTED:
                shutil.copyfile(src, dst)
                continue
            table = pq.read_table(src)
            # one stream per table, so one table's size never shifts another's order
            order = np.random.default_rng([seed, i]).permutation(len(table))
            pq.write_table(table.take(order), dst, row_group_size=max(1, len(table)))
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump({"seed": seed, "size": size, "permuted": PERMUTED, "rows": rows}, f)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not row_counts_ok(path, rows):
        raise RuntimeError(f"inputs at {path} fail their row-count check")
    return path
