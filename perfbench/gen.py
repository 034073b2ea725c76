"""Seeded input generators owned by the benchmark.

Inputs are made with numpy and pyarrow only, never with the program's own
generators, so a change to the program cannot change what it is measured
on.  Each generator writes parquet files into a directory and returns a
small summary (row counts and checksums) that the correctness checks use.
The same (workload, seed, size) always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Files per generated table: one per task slot of a 4-core host, so the
# first scan stage has parallel input splits.
FILES_PER_TABLE = 4

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _binary(buf: bytes, width: int, n: int) -> pa.Array:
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(buf)])


def record_digest(keys: np.ndarray, values: np.ndarray) -> tuple[int, int]:
    """Order-independent (sum, xor) digest of 100-byte records.

    ``keys`` is an (n, 10) and ``values`` an (n, 90) uint8 array.  Each
    record is folded to one 64-bit word (weighted sum of its little-endian
    words, then a multiply-xorshift mix); the digest is the wrapping sum
    and the xor of those words, so it does not depend on record order.
    """
    n = keys.shape[0]
    rec = np.zeros((n, 104), dtype=np.uint8)
    rec[:, :10] = keys
    rec[:, 10:100] = values
    words = rec.view("<u8")  # (n, 13)
    weights = (np.arange(13, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    with np.errstate(over="ignore"):
        h = (words * weights).sum(axis=1, dtype=np.uint64)
        h ^= h >> np.uint64(31)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(29)
        total = int(h.sum(dtype=np.uint64) & _M64)
    return total, int(np.bitwise_xor.reduce(h)) if n else 0


def gen_terasort(out_dir: str, seed: int, n_rows: int) -> dict:
    """Teragen-style records: 10-byte random key, 90-byte random value."""
    rng = np.random.default_rng([seed, 1])
    out_dir = os.path.join(out_dir, "records")
    os.makedirs(out_dir)
    per = -(-n_rows // FILES_PER_TABLE)
    digest_sum, digest_xor, written = 0, 0, 0
    for i in range(FILES_PER_TABLE):
        n = min(per, n_rows - written)
        keys = rng.integers(0, 256, size=(n, 10), dtype=np.uint8)
        values = rng.integers(0, 256, size=(n, 90), dtype=np.uint8)
        s, x = record_digest(keys, values)
        digest_sum = (digest_sum + s) & 0xFFFFFFFFFFFFFFFF
        digest_xor ^= x
        table = pa.table({"key": _binary(keys.tobytes(), 10, n), "value": _binary(values.tobytes(), 90, n)})
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"), compression="none")
        written += n
    return {"rows": n_rows, "digest_sum": digest_sum, "digest_xor": digest_xor}


# --------------------------------------------------------------------------
# documents with planted near-duplicate chains


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    per = -(-n // FILES_PER_TABLE) if n >= 1000 else n
    for i, start in enumerate(range(0, n, per)):
        pq.write_table(table.slice(start, per), os.path.join(path, f"part-{i:05d}.parquet"))
    return n


def _pick(rng, words: list[str], n: int) -> pa.Array:
    return pa.array(np.array(words, dtype=object)[rng.integers(0, len(words), size=n)], pa.string())


LANGS = ["en", "de", "es", "fr", "zh"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "du", "fa", "go",
              "hi", "jo", "pe", "qu"]
# A fixed vocabulary (independent of the seed): every two- and
# three-syllable word, with Zipf-like use frequencies.
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES] + [
    a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES[:8] for c in _SYLLABLES[:4]
]


def gen_documents(out_dir: str, seed: int, n_docs: int, chain_share: float = 0.4,
                  max_chain: int = 8, edit_share: float = 0.06) -> dict:
    """A corpus in the ``documents`` schema.

    Documents have lognormal lengths (about 8 to 300 tokens).  A share of
    them form near-duplicate chains: each link copies the previous one and
    replaces ``edit_share`` of its tokens (at least one).  Chain heads are
    drawn from all lengths, so on short documents some links fall below
    the queries' similarity threshold and chains break into components of
    varied size and diameter.  Document ids are a random permutation, so
    chain members are scattered.

    The chain lengths cycle through 2..``max_chain`` and the multiset of
    document lengths is fixed; the seed chooses the tokens, which lengths
    head chains, the order and the ids.
    """
    rng = np.random.default_rng([seed, 3])
    ranks = np.arange(len(VOCAB), dtype=np.float64)
    p = 1.0 / (ranks + 8.0)
    p /= p.sum()
    vocab = np.array(VOCAB, dtype=object)

    chain_lengths: list[int] = []
    while sum(chain_lengths) < chain_share * n_docs:
        chain_lengths.append(2 + len(chain_lengths) % (max_chain - 1))
    n_chains = len(chain_lengths)
    n_fresh = n_docs - sum(chain_lengths) + n_chains
    shape_rng = np.random.default_rng(0)
    lengths = np.sort(np.clip(shape_rng.lognormal(np.log(45), 0.7, size=n_fresh), 8, 300).astype(int))
    lengths = rng.permutation(lengths)
    heads, singles = lengths[:n_chains], lengths[n_chains:]

    def fresh(n_tok: int) -> np.ndarray:
        return rng.choice(len(VOCAB), size=n_tok, p=p)

    docs = [fresh(n) for n in singles]
    for length, n_tok in zip(chain_lengths, heads):
        cur = fresh(n_tok)
        docs.append(cur)
        for _ in range(length - 1):
            cur = cur.copy()
            k = max(1, round(edit_share * cur.size))
            cur[rng.choice(cur.size, size=k, replace=False)] = rng.choice(len(VOCAB), size=k, p=p)
            docs.append(cur)
    texts = [" ".join(vocab[d]) for d in docs]
    ids = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)
    texts = [texts[i] for i in order]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, size=n_docs).tolist()], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {"rows": {"documents": n_docs}, "chains": n_chains}


GENERATORS = {"terasort": gen_terasort, "dedup": gen_documents}
# Part of every cache key: bump it whenever a generator's output changes.
GEN_VERSION = 3


def cached_inputs(cache_root: str, workload: str, seed: int, size, keep: int = 2) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for (workload, seed, size).

    Returns the directory and the generator's summary.  At most ``keep``
    generated sets per workload stay on disk; older ones are removed.
    """
    key = f"{workload}-s{seed}-n{size}-v{GEN_VERSION}"
    path = os.path.join(cache_root, key)
    meta = os.path.join(path, "_summary.json")
    if os.path.exists(meta):
        os.utime(path)
        with open(meta) as f:
            return path, json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    others = sorted(
        (e for e in os.scandir(cache_root) if e.name.startswith(workload + "-") and e.name != key),
        key=lambda e: e.stat().st_mtime,
    )
    for old in others[: max(0, len(others) - keep + 1)]:
        shutil.rmtree(old.path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    summary = GENERATORS[workload](tmp, seed, size)
    with open(os.path.join(tmp, "_summary.json"), "w") as f:
        json.dump(summary, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, summary
