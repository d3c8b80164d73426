"""Seeded generators for the corpus and graph inputs.

Every value is a hash (splitmix64) of (seed, stream, row, position), so the
same seed gives the same inputs; streams keep the corpus, the eval set, each
delta block and the edges disjoint. Tokens are Zipf-distributed (pmf ~ 1/rank)
over a fixed vocabulary, the shape natural-language token counts have.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 5000
TOKENS_PER_DOC = 80
# sizes of the generated inputs
N_DOCS = 400        # corpus_batch base docs (before planted copies)
EVAL_N = 100        # eval set docs
N_EDGES = 5000      # power-law edges for the graph-operator probes
INGEST_DOCS = 400   # docs of the ingest probe's initial blocks
BLOCK_DOCS = 200    # docs per fresh ingest block
POOL = 2            # fresh ingest blocks


def _mix(x):
    """splitmix64 over uint64 values (arithmetic wraps modulo 2^64)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hash(seed, stream, *cols):
    h = _mix(np.uint64(seed & 0xFFFFFFFFFFFFFFFF) ^ _mix(np.uint64(stream)))
    for c in cols:
        h = _mix(h ^ np.asarray(c).astype(np.uint64))
    return h


def _unit(h):
    """Hash to a uniform double in (0, 1)."""
    return ((h >> np.uint64(11)).astype(np.float64) + 0.5) / float(1 << 53)


def _zipf(u, n):
    return np.floor(np.power(float(n), u)).astype(np.int64)


def _words(seed, stream, ids):
    """TOKENS_PER_DOC Zipf tokens per id: an (len(ids), TOKENS_PER_DOC) array."""
    doc = np.repeat(np.asarray(ids, dtype=np.int64), TOKENS_PER_DOC)
    pos = np.tile(np.arange(TOKENS_PER_DOC), len(ids))
    tok = _zipf(_unit(_hash(seed, stream, doc, pos)), VOCAB)
    return tok.reshape(len(ids), TOKENS_PER_DOC)


def _text(row):
    return " ".join(f"w{t}" for t in row)


def eval_set(seed, n):
    """The benchmark set the decontaminate stage filters against."""
    words = _words(seed, 2, np.arange(n))
    return pa.table({"id": pa.array(np.arange(n) + 1_000_000_000, pa.int64()),
                     "text": [_text(r) for r in words]})


def docs(seed, n, eval_n, stream=1, id_base=0):
    """n base docs in en/de/fr (half en) with planted defects: every 20th
    doc has a near-dup copy (3 fresh tokens, Jaccard >= 0.9), every 50th an
    exact copy, every 10th an email, and every 25th a 6-token run of an
    eval doc."""
    i = np.arange(n)
    words = _words(seed, stream, i)
    evals = _words(seed, 2, np.arange(eval_n))
    langs = np.array(["en", "en", "de", "fr"])[_hash(seed, stream, i, -1) % np.uint64(4)]
    ids = i + id_base
    texts = []
    for k in range(n):
        t = _text(words[k])
        if k % 25 == 0:
            t += " " + _text(evals[k % eval_n][10:16])
        if k % 10 == 0:
            t += f" mail{ids[k]}@example.com"
        texts.append(t)
    near = [k for k in range(n) if k % 20 == 7]
    exact = [k for k in range(n) if k % 50 == 3]
    all_ids = np.concatenate([ids, ids[near] + n, ids[exact] + 2 * n])
    all_text = texts + [texts[k] + " zq1x zq2x zq3x" for k in near] + [texts[k] for k in exact]
    all_lang = np.concatenate([langs, langs[near], langs[exact]])
    return pa.table({
        "doc_id": pa.array(all_ids, pa.int64()), "text": all_text,
        "lang": all_lang.tolist(), "source": ["gen"] * len(all_text),
        "n_chars": pa.array([len(t) for t in all_text], pa.int64())})


def edges(seed, m):
    """m power-law edges over about m/15 vertices (vertex 1 is the hub),
    self-loops dropped."""
    v = max(2, m // 15)
    i = np.arange(m)
    src = _zipf(_unit(_hash(seed, 11, i)), v)
    dst = _zipf(_unit(_hash(seed, 12, i)), v)
    keep = src != dst
    return pa.table({"src": pa.array(src[keep], pa.int64()),
                     "dst": pa.array(dst[keep], pa.int64())})


def write(table, path, files=1):
    """Write table as a directory of `files` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))


def generate(out_dir, seed):
    """All corpus_batch inputs, plus those of its ingest and graph probes."""
    write(docs(seed, N_DOCS, EVAL_N), os.path.join(out_dir, "docs"), 4)
    write(eval_set(seed, EVAL_N), os.path.join(out_dir, "eval"))
    write(edges(seed, N_EDGES), os.path.join(out_dir, "edges"), 4)
    ingest = os.path.join(out_dir, "ingest")
    write(docs(seed, INGEST_DOCS, EVAL_N, stream=3), os.path.join(ingest, "docs"), 4)
    for k in range(POOL):
        block = docs(seed, BLOCK_DOCS, EVAL_N, stream=100 + k, id_base=(k + 1) * 10_000_000)
        write(block, os.path.join(ingest, "pool", str(k)))
