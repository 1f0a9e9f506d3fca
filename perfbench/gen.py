"""Seeded input generators for the three workloads.

Every input the program sees is produced here from `(workload, seed)`
and written as parquet; the JVM side only reads these files. The same
seed gives byte-identical arrays (numpy's PCG64 stream is stable across
platforms), so the checksum in the fingerprint identifies the dataset.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes what it emits for a given seed:
# results carrying different versions are never compared.
GENERATOR_VERSION = 1

SIZES = {
    # N entities in two archetypes, K World.step calls per episode
    "sim": {"N": 10000, "K": 4},
    # B micro-batches of E events over U Zipf-skewed users per episode,
    # a durable commit every C batches
    "ingest": {"B": 9, "E": 4000, "U": 20000, "C": 3},
    # documents and embedding vectors of the curation corpus
    "curate": {"docs": 2000, "vectors": 1200},
}

# The sf0.1 corpus vocabulary: curation keys tokenize on it, so gram and
# MinHash statistics look like the reference tables'.
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
DIM = 64  # knn_graph's fixed embedding width
N_LABELS = 10
ZIPF_S = 1.1

_SALT = {"sim": 1, "ingest": 2, "curate": 3}


def _rng(workload, seed):
    return np.random.default_rng([seed, _SALT[workload]])


def _ints(rng, lo, hi, n):
    """Integer-valued float64s in [lo, hi]: sums and dt=0.25 products stay exact."""
    return rng.integers(lo, hi + 1, size=n).astype(np.float64)


def gen_sim(rng, N, K):
    thrust = rng.random(N) < 0.5
    cols = {
        "entity_id": np.arange(1, N + 1, dtype=np.int64),
        "thrust": thrust,
        "x": _ints(rng, -1000, 1000, N),
        "y": _ints(rng, -1000, 1000, N),
        "vx": _ints(rng, -8, 8, N),
        "vy": _ints(rng, -8, 8, N),
        "ax": np.where(thrust, _ints(rng, -2, 2, N), 0.0),
        "ay": np.where(thrust, _ints(rng, -2, 2, N), 0.0),
    }
    return {"entities": cols}


def gen_ingest(rng, B, E, U, C):
    ranks = np.arange(1, U + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    # hot ranks land on scattered ids, not on the lowest ones
    ids = rng.permutation(U).astype(np.int64) + 1
    n = B * E
    cols = {
        "batch": np.repeat(np.arange(B, dtype=np.int32), E),
        "user_id": ids[rng.choice(U, size=n, p=p)],
        "value": _ints(rng, -50, 50, n),
    }
    return {"events": cols}


def gen_curate(rng, docs, vectors):
    vocab = np.array(VOCAB)
    texts = []
    for i in range(docs):
        r = rng.random()
        if i > 0 and r < 0.04:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.10:  # near duplicate: a few words swapped
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), size=3):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=n_words)]))
    lang = np.array(LANGS)[rng.choice(len(LANGS), size=docs, p=LANG_P)]
    source = np.array([f"src{k}" for k in range(N_SOURCES)])[rng.integers(0, N_SOURCES, size=docs)]
    documents = {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": lang.astype(object),
        "source": source.astype(object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centroids = rng.standard_normal((N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, size=vectors).astype(np.int32)
    v = centroids[label] + 0.6 * rng.standard_normal((vectors, DIM))
    dup = rng.random(vectors) < 0.03  # exact duplicate vectors
    dup[0] = False
    src = np.array([rng.integers(0, i) if d else i for i, d in enumerate(dup)])
    v = v[src]
    label = label[src]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = {
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": v,
        "label": label,
    }
    return {"documents": documents, "embeddings": embeddings}


GENERATORS = {"sim": gen_sim, "ingest": gen_ingest, "curate": gen_curate}


def generate(workload, seed):
    """Tables of one workload, as {table: {column: array}}."""
    return GENERATORS[workload](_rng(workload, seed), **SIZES[workload])


def checksum(tables):
    h = hashlib.sha256()
    for name in sorted(tables):
        for col, arr in tables[name].items():
            h.update(f"{name}.{col}\0".encode())
            if arr.dtype == object:
                h.update("\0".join(arr.tolist()).encode("utf-8"))
            else:
                h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def fingerprint(workload, seed, tables):
    return {
        "generator_version": GENERATOR_VERSION,
        "workload": workload,
        "seed": seed,
        "sizes": dict(SIZES[workload]),
        "checksum": checksum(tables),
    }


def _arrow(cols):
    arrays, names = [], []
    for col, arr in cols.items():
        if arr.ndim == 2:  # fixed-width vectors -> list<float>
            flat = pa.array(arr.reshape(-1))
            offsets = pa.array(np.arange(0, arr.size + 1, arr.shape[1], dtype=np.int32))
            arrays.append(pa.ListArray.from_arrays(offsets, flat))
        else:
            arrays.append(pa.array(arr))
        names.append(col)
    return pa.table(arrays, names=names)


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(_arrow(cols), os.path.join(out_dir, f"{name}.parquet"))
