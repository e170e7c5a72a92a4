"""The benchmark's input tables: byte-identical copies of the project's
sf0.01 test tables (TESTDATA.md), kept in data/sf0.01 so that a run
reads nothing outside its checkout. MANIFEST.json records each file's
sha256, row count and size as copied; every run checks them before it
times anything. The seed never changes the data, only the order of the
operations and the pipeline's run parameters.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def verify(d: str = DIR) -> str:
    """Check every table's bytes and row count against the manifest;
    raises on a mismatch. Returns a digest of the input files' bytes
    (the oracle cache's key part)."""
    with open(os.path.join(d, "MANIFEST.json")) as f:
        manifest = json.load(f)
    digest = hashlib.sha256()
    for name, want in sorted(manifest.items()):
        path = os.path.join(d, f"{name}.parquet")
        with open(path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        if sha != want["sha256"]:
            raise RuntimeError(f"fixture {path}: sha256 {sha}, want {want['sha256']}")
        rows = pq.ParquetFile(path).metadata.num_rows
        if rows != want["rows"]:
            raise RuntimeError(f"fixture {path}: {rows} rows, want {want['rows']}")
        digest.update(sha.encode())
    return digest.hexdigest()
