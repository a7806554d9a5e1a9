"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under the work directory.

Every input carries a digest of its content, recorded with each result, so
a change to a generator (``bench_corpus``, the table generator here) shows
up as an input change instead of hiding inside a timing difference.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from perfbench import tables

# html_crawl: bench_corpus replicas x sections over the seeded documents
# table (5,000 docs at sf0.1 -> 20,000 pages of ~9.6 KB)
HTML_REPLICAS = 4
HTML_SECTIONS = 12
SF = 0.1
QUERY_SF = 0.01


def _file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


def _rows_digest(paths: list[str]) -> str:
    """Digest of the rows in the parquet files ``paths`` and of their
    number, whatever the row order and the encoding (Spark's writer sizes
    row groups by the JVM's heap, so the bytes vary with its settings)."""
    import pyarrow.parquet as pq

    rows = []
    for p in paths:
        t = pq.read_table(p)
        cols = [t.column(c).to_pylist() for c in sorted(t.column_names)]
        rows += [hashlib.sha256(repr(r).encode()).digest() for r in zip(*cols)]
    h = hashlib.sha256(str(len(paths)).encode())
    for r in sorted(rows):
        h.update(r)
    return h.hexdigest()[:16]


def _cached(path: str, build) -> dict:
    """Build ``path`` once (into a temp dir, then rename) and return the
    metadata ``build`` produced for it, plus how long building took now."""
    meta_path = os.path.join(path, "_perfbench.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), "gen_s": 0.0, "cached": True}
    tmp = path + ".build"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    meta = build(tmp)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "_perfbench.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return {**meta, "gen_s": gen_s, "cached": False}


def sf_tables(work: str, seed: int) -> dict:
    """The ten query tables at ``QUERY_SF`` for ``seed``."""
    path = os.path.join(work, "inputs", f"tables-s{seed}-sf{QUERY_SF}")

    def build(tmp: str) -> dict:
        tables.write_tables(tmp, seed, QUERY_SF)
        files = [os.path.join(tmp, f) for f in os.listdir(tmp)]
        return {"input_digest": _file_digest(files)}

    return {"path": path, **_cached(path, build)}


def html_corpus(spark_fn, work: str, seed: int) -> dict:
    """bench_corpus pages over the seed's documents table, written as many
    parquet files so the scan is byte-balanced. ``spark_fn`` returns a
    session; it is called only when the corpus is not cached yet."""
    import pyarrow.parquet as pq

    from toyocr_spark.bench_corpus import materialize_corpus

    path = os.path.join(work, "inputs", f"html-s{seed}-r{HTML_REPLICAS}-x{HTML_SECTIONS}")

    def build(tmp: str) -> dict:
        docs = os.path.join(tmp + ".docs")
        os.makedirs(docs, exist_ok=True)
        pq.write_table(tables.build_documents(seed, SF), os.path.join(docs, "documents.parquet"))
        materialize_corpus(spark_fn(), docs, tmp, replicas=HTML_REPLICAS, sections=HTML_SECTIONS)
        shutil.rmtree(docs)
        files = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        return {
            "docs": sum(pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows for f in files),
            "input_digest": _rows_digest([os.path.join(tmp, f) for f in files]),
        }

    return {"path": path, **_cached(path, build)}

