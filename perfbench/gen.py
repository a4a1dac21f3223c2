"""Seeded input generators for the three workloads.

Every byte written is a pure function of (workload, seed): each file is
drawn from its own random stream, so files can be written in parallel
and still come out identical. graft never sees the seed, only the files.
"""
import json
import os
import random
from concurrent.futures import ProcessPoolExecutor

import numpy as np

VOCAB = ("scan filter group join merge sort order value window stream "
         "batch table column vector hash query spark agg key row part "
         "data line fast slow big small customer the a").split()
KINDS = [f"k{i}" for i in range(8)]
SEGMENTS = [f"s{i}" for i in range(5)]
TS0_MS = 1704067200000  # 2024-01-01T00:00:00Z
TS_SPAN_MS = 366 * 86400 * 1000

DOCSCAN_DOCS = 1_000_000
DOCSCAN_FILES = 64
WARM_DOCS = 5_000
CURATE_DOCS = 1_000
CURATE_WARM_DOCS = 200


def _rng(seed, *parts):
    """Independent, reproducible stream per (seed, parts)."""
    h = seed
    for p in parts:
        h = (h * 1_000_003 + (p if isinstance(p, int) else
                              sum(ord(c) * 31 ** i for i, c in enumerate(p)))) % (2 ** 63)
    return np.random.default_rng([seed, h])


def oid_prefix(seed):
    return int(_rng(seed, "oid").integers(0, 2 ** 32))


def oid(seed, gidx):
    """ObjectId hex of the document with global index gidx."""
    return f"{oid_prefix(seed):08x}{gidx:016x}"


def _doc_lines(seed, stream, gidx0, n):
    """n extended-JSON documents: $oid _id, $date ts, nested user, array
    tags, text, and a sparse `note` field on about one doc in ten."""
    r = _rng(seed, stream)
    uid = r.integers(0, 50_000, n)
    seg = r.integers(0, len(SEGMENTS), n)
    score = r.integers(0, 100_000, n)
    kind = r.integers(0, len(KINDS), n)
    qty = r.integers(0, 100, n)
    cents = r.integers(0, 1_000_000, n)
    ts = np.datetime_as_string(
        (TS0_MS + r.integers(0, TS_SPAN_MS, n)).astype("datetime64[ms]"),
        unit="ms")
    ntag = r.integers(0, 4, n)
    tags = r.integers(0, 16, (n, 3))
    nwords = r.integers(3, 11, n)
    words = r.integers(0, len(VOCAB), (n, 10))
    has_note = r.random(n) < 0.1
    note = r.integers(0, 1000, n)
    pre = oid_prefix(seed)
    out = []
    for i in range(n):
        g = gidx0 + i
        tg = ",".join(f'"t{t}"' for t in tags[i, :ntag[i]])
        txt = " ".join(VOCAB[w] for w in words[i, :nwords[i]])
        line = (f'{{"_id":{{"$oid":"{pre:08x}{g:016x}"}},"seq":{g},'
                f'"ts":{{"$date":"{ts[i]}Z"}},'
                f'"user":{{"id":{uid[i]},"segment":"{SEGMENTS[seg[i]]}",'
                f'"score":{score[i] / 1000:.3f}}},'
                f'"kind":"{KINDS[kind[i]]}","qty":{qty[i]},'
                f'"amount":{cents[i] / 100:.2f},"tags":[{tg}],"text":"{txt}"')
        if has_note[i]:
            line += f',"note":{note[i]}'
        out.append(line + "}\n")
    return "".join(out)


def _write(path, text):
    """Write and flush to disk, so that write-back of the inputs does not
    run while the benchmark measures."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def _docscan_file(args):
    seed, i, per, path = args
    _write(path, _doc_lines(seed, f"docscan{i}", i * per, per))


def gen_docscan(seed, root, pool):
    per = DOCSCAN_DOCS // DOCSCAN_FILES
    coll = os.path.join(root, "events")
    jobs = [(seed, i, per, os.path.join(coll, f"chunk-{i:04d}.jsonl"))
            for i in range(DOCSCAN_FILES)]
    list(pool.map(_docscan_file, jobs))
    # a small collection of the same shape, used only to warm up
    _write(os.path.join(root, "warm", "chunk-0000.jsonl"),
           _doc_lines(seed + 1, "warm", 0, WARM_DOCS))
    r = random.Random(seed * 7 + 1)
    params = {
        "docs": DOCSCAN_DOCS,
        "lookup_ids": [oid(seed, r.randrange(DOCSCAN_DOCS)) for _ in range(8)],
        "filter_kinds": [KINDS[r.randrange(len(KINDS))] for _ in range(8)],
        "filter_qty": [r.randrange(94, 99) for _ in range(8)],
        "segments": [SEGMENTS[r.randrange(len(SEGMENTS))] for _ in range(8)],
    }
    return params


def _documents(seed, n, path):
    """The corpus contract of the `documents` testdata table: doc_id
    0..n-1 (< 999999), never-NULL text of 10..100 words from a 30-word
    vocabulary, about 5 % near-duplicates (another doc's text plus
    " dup"), a few exact duplicates, five languages and twenty sources."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    vocab = VOCAB[:30]
    r = _rng(seed, "documents")
    nw = r.integers(10, 101, n)
    words = r.integers(0, len(vocab), (n, 100))
    langs = np.array(["es", "fr", "de", "zh", "en"])
    lang = langs[np.minimum(r.integers(0, 7, n), 4)]  # en ~3/7
    texts = [" ".join(vocab[w] for w in words[i, :nw[i]]) for i in range(n)]
    # duplicates copy an original, never another duplicate, so duplicate
    # clusters are stars whatever the seed
    kind = r.random(n)
    kind[0] = 1.0
    originals = np.flatnonzero(kind >= 0.052)
    src = originals[r.integers(0, len(originals), n)]
    for i in range(n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=8192, compression="snappy")


def gen_curate(seed, root, pool):
    _documents(seed, CURATE_DOCS, os.path.join(root, "corpus", "documents.parquet"))
    _documents(seed + 1, CURATE_WARM_DOCS,
               os.path.join(root, "warmcorpus", "documents.parquet"))
    return {"docs": CURATE_DOCS}


GENERATORS = {"docscan": gen_docscan, "curate": gen_curate}


def generate(workload, seed, root, workers=4):
    """Write the workload's inputs under root and return its parameters
    (also saved as root/params.json for the JVM side)."""
    os.makedirs(root, exist_ok=True)
    with ProcessPoolExecutor(max_workers=workers) as pool:
        params = GENERATORS[workload](seed, root, pool)
    params.update(workload=workload, seed=seed)
    with open(os.path.join(root, "params.json"), "w") as f:
        json.dump(params, f, indent=1, sort_keys=True)
    return params
