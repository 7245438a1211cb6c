"""Seeded input generator. pyarrow writes every input file (float vectors,
query sets, delete lists, int8 snapshots with their metadata sidecar and
the tables the registry queries read), so the program under test only
ever sees generated files. The same seed
gives the same files; each purpose draws from its own seed stream, so
changing one size leaves the other inputs as they were.

The 50,000-row tables are written as int8 snapshots directly: building
them through the engine's Spark quantize expression would make set-up
time mostly quantization.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
N_VECTORS = 50_000
QUERIES_PER_BATCH = 1024
INGEST_BATCH = 1_000
ID_SPACE = 1 << 40

# seed streams, one per purpose
_TABLE, _QUERIES, _INGEST, _SERVE, _REGISTRY = range(5)


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def distinct_ids(rng: np.random.Generator, n: int, exclude: np.ndarray | None = None) -> np.ndarray:
    """``n`` distinct ids drawn from a large space, in random order."""
    out = np.empty(0, dtype=np.int64)
    while len(out) < n:
        draw = rng.integers(0, ID_SPACE, size=2 * n, dtype=np.int64)
        out = np.unique(np.concatenate([out, draw]))
        if exclude is not None:
            out = np.setdiff1d(out, exclude)
    return rng.permutation(out)[:n]


def float_vectors(rng: np.random.Generator, n: int, dim: int = DIM) -> np.ndarray:
    return rng.standard_normal((n, dim), dtype=np.float32)


def quantize_rows(x: np.ndarray) -> np.ndarray:
    """Normalize then int8-quantize each row (truncation toward zero)."""
    norm = np.linalg.norm(x.astype(np.float64), axis=1, keepdims=True)
    return np.trunc(np.clip(x / np.maximum(norm, 1e-300) * 127.0, -128, 127)).astype(np.int8)


def _list_array(mat: np.ndarray) -> pa.Array:
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def write_snapshot(path: str, ids: np.ndarray, q: np.ndarray, files: int, version: str) -> None:
    """An int8 snapshot as ``sources.snapshot.save_snapshot`` lays it out:
    parquet parts of (vec_id, qvec) plus the ``_pvdb_meta.json`` sidecar."""
    _fresh_dir(path)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        t = pa.table({"vec_id": pa.array(ids[part]), "qvec": _list_array(q[part])})
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))
    with open(os.path.join(path, "_pvdb_meta.json"), "w") as f:
        json.dump({"version": version, "dimension": int(q.shape[1])}, f)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, id_col: str, vec_col: str) -> None:
    t = pa.table({id_col: pa.array(ids), vec_col: _list_array(x)})
    pq.write_table(t, path)


def write_ids(path: str, ids: np.ndarray) -> None:
    pq.write_table(pa.table({"vec_id": pa.array(ids)}), path)


@dataclass
class SearchInputs:
    snapshot: str
    ids: np.ndarray  # stored ids, row order of the snapshot
    q: np.ndarray  # stored int8 matrix
    query_files: list[str]
    queries: list[np.ndarray]  # float32, one matrix per query file


def make_search_inputs(root: str, seed: int, query_sets: int, files: int, version: str) -> SearchInputs:
    """The 50,000 x 128 int8 table and ``query_sets`` files of 1,024
    float queries each (query ids 0..1023 in every file)."""
    rng = rng_for(seed, _TABLE)
    ids = distinct_ids(rng, N_VECTORS)
    q = quantize_rows(float_vectors(rng, N_VECTORS))
    snap = os.path.join(root, "table")
    write_snapshot(snap, ids, q, files, version)
    qrng = rng_for(seed, _QUERIES)
    qdir = os.path.join(root, "queries")
    _fresh_dir(qdir)
    query_files, queries = [], []
    for i in range(query_sets):
        x = float_vectors(qrng, QUERIES_PER_BATCH)
        path = os.path.join(qdir, f"queries-{i:03d}.parquet")
        write_vectors(path, np.arange(QUERIES_PER_BATCH, dtype=np.int64), x, "query_id", "qvec_query")
        query_files.append(path)
        queries.append(x)
    return SearchInputs(snap, ids, q, query_files, queries)


def serve_order(seed: int, pool: int) -> np.ndarray:
    """The order in which the serving client sends the ``pool`` queries
    of the first query file."""
    return rng_for(seed, _SERVE).permutation(pool)


@dataclass
class IngestCycle:
    batch_file: str  # INGEST_BATCH fresh float vectors (vec_id, embedding)
    delete_file: str  # INGEST_BATCH ids live before the cycle
    probe_id: int  # an inserted id, searched for after the write
    probe_vec: list[float]


@dataclass
class IngestInputs:
    snapshot: str  # version 0 of the chain
    cycles: list[IngestCycle]
    check: IngestCycle  # a further add and delete, for the count checks
    dup_file: str  # a batch whose first id is live in every version


def make_ingest_inputs(root: str, seed: int, cycles: int, files: int, version: str) -> IngestInputs:
    """Version 0 of a snapshot chain with 50,000 live vectors, and for each
    cycle 1,000 fresh float vectors to add and 1,000 live ids to delete,
    so every version again holds 50,000 live vectors. The check batch
    deletes only ids of version 0 that no cycle deletes, so it applies to
    whichever version a run reaches."""
    rng = rng_for(seed, _INGEST)
    live = distinct_ids(rng, N_VECTORS)
    v0 = live
    snap = os.path.join(root, "v0000")
    write_snapshot(snap, live, quantize_rows(float_vectors(rng, N_VECTORS)), files, version)
    cdir = os.path.join(root, "cycles")
    _fresh_dir(cdir)
    used, deleted = live, np.empty(0, dtype=np.int64)

    def cycle(name: str, fresh: np.ndarray, dels: np.ndarray) -> IngestCycle:
        x = float_vectors(rng, INGEST_BATCH)
        batch_file = os.path.join(cdir, f"batch-{name}.parquet")
        delete_file = os.path.join(cdir, f"delete-{name}.parquet")
        write_vectors(batch_file, fresh, x, "vec_id", "embedding")
        write_ids(delete_file, dels)
        return IngestCycle(batch_file, delete_file, int(fresh[0]), x[0].tolist())

    out = []
    for c in range(cycles):
        fresh = distinct_ids(rng, INGEST_BATCH, exclude=used)
        dels = rng.choice(live, size=INGEST_BATCH, replace=False)
        out.append(cycle(f"{c:04d}", fresh, dels))
        used = np.union1d(used, fresh)
        deleted = np.union1d(deleted, dels)
        live = np.union1d(np.setdiff1d(live, dels), fresh)
    keep = rng.permutation(np.setdiff1d(v0, deleted))
    fresh = distinct_ids(rng, INGEST_BATCH, exclude=used)
    check = cycle("check", fresh, keep[1 : 1 + INGEST_BATCH])
    dup_ids = distinct_ids(rng, INGEST_BATCH, exclude=np.union1d(used, fresh))
    dup_ids[0] = keep[0]
    dup_file = os.path.join(cdir, "duplicate.parquet")
    write_vectors(dup_file, dup_ids, float_vectors(rng, INGEST_BATCH), "vec_id", "embedding")
    return IngestInputs(snap, out, check, dup_file)


# Sizes of the registry tables: those of the tables the registry's DuckDB
# oracle is checked against at its smallest scale.
REGISTRY_EMBEDDINGS = 500
REGISTRY_EMBEDDING_DIM = 64  # the registry's fixed query vector has this length
REGISTRY_DOCUMENTS = 500
REGISTRY_LINEITEMS = 6_000
_WORDS = (
    "the a row key agg scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()


def make_registry_tables(root: str, seed: int) -> str:
    """The ``embeddings``, ``documents`` and ``lineitem`` tables the
    registry's queries read, with the column names and types of the test
    tables. One document in ten is a copy of an earlier one with one word
    changed, so the near-duplicate queries find pairs. Returns the
    directory to pass as the queries' ``sf_dir``."""
    rng = rng_for(seed, _REGISTRY)
    _fresh_dir(root)
    n = REGISTRY_EMBEDDINGS
    emb = float_vectors(rng, n, REGISTRY_EMBEDDING_DIM)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": _list_array(emb),
                "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
            }
        ),
        os.path.join(root, "embeddings.parquet"),
    )

    texts: list[str] = []
    for i in range(REGISTRY_DOCUMENTS):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = [str(w) for w in rng.choice(_WORDS, size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(REGISTRY_DOCUMENTS, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(langs[rng.integers(0, len(langs), size=REGISTRY_DOCUMENTS)].tolist()),
                "source": pa.array([f"src{i % 20}" for i in range(REGISTRY_DOCUMENTS)]),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        os.path.join(root, "documents.parquet"),
    )

    m = REGISTRY_LINEITEMS
    day = np.datetime64("1995-01-01", "us") + rng.integers(0, 2500, size=m) * np.timedelta64(1, "D")
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(1, m // 4, size=m, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(1, 2000, size=m, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(1, 100, size=m, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, size=m, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, size=m).astype(np.float64)),
                "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, size=m) / 100.0),
                "l_discount": pa.array(rng.integers(0, 11, size=m) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, size=m) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=m).tolist()),
                "l_linestatus": pa.array(rng.choice(["O", "F"], size=m).tolist()),
                "l_shipdate": pa.array(day, type=pa.timestamp("us")),
            }
        ),
        os.path.join(root, "lineitem.parquet"),
    )
    return root
