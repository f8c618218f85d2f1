"""Seeded input generator for the benchmark workloads.

Writes the table the workloads' queries read, in the schema they expect:

    documents.parquet   doc_id int64, text string, lang string,
                        source string, n_chars int64

Words are drawn from a Zipf distribution over a large synthetic vocabulary
(lower-case letters only, so no word can look like a ``GEO_#####`` gazetteer
mention).

Output goes to ``<cache>/<key>/`` where the key hashes the seed and every
parameter; a finished directory carries a ``_DONE`` marker and is reused.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2
VOCAB_SIZE = 50_000
ZIPF_S = 1.05
LANGS = np.array(["en", "de", "fr", "es", "zh", "ja", "ru", "pt"])
CHUNK_DOCS = 4096
KEEP_INPUTS = 8


def _vocab(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(concatenated word bytes, word starts, word lengths) for VOCAB_SIZE
    distinct words of 4-10 lower-case letters. Distinctness comes from
    writing the word's index in base 26 into its first four letters."""
    lens = rng.integers(4, 11, size=VOCAB_SIZE)
    letters = rng.integers(97, 123, size=(VOCAB_SIZE, 10)).astype(np.uint8)
    v = np.arange(VOCAB_SIZE)
    for d in range(4):  # 26**4 > VOCAB_SIZE: four base-26 digits suffice
        letters[:, d] = 97 + (v // 26 ** d) % 26
    keep = np.arange(10)[None, :] < lens[:, None]
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return letters[keep], starts, lens


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w) / w.sum()


def _texts(word_ids: list[np.ndarray], vocab: np.ndarray, starts: np.ndarray,
           lens: np.ndarray) -> pa.Array:
    """Space-joined texts for a batch of word-id arrays, built as one
    gather over the vocabulary bytes (no per-word Python)."""
    counts = np.fromiter((len(w) for w in word_ids), dtype=np.int64, count=len(word_ids))
    flat = np.concatenate(word_ids) if word_ids else np.zeros(0, np.int64)
    wl = lens[flat] + 1                        # word + trailing separator
    out_start = np.concatenate([[0], np.cumsum(wl)[:-1]])
    total = int(wl.sum())
    src = np.repeat(starts[flat] - out_start, wl) + np.arange(total)
    is_sep = np.zeros(total, dtype=bool)
    is_sep[out_start + wl - 1] = True
    buf = np.where(is_sep, np.uint8(32), vocab[np.minimum(src, len(vocab) - 1)])
    # per-doc byte spans, dropping each doc's trailing separator
    doc_end_word = np.cumsum(counts)
    word_end = out_start + wl
    doc_start = np.concatenate([[0], word_end[doc_end_word[:-1] - 1]]) if len(counts) else []
    doc_stop = word_end[doc_end_word - 1] - 1
    keep = np.ones(total, dtype=bool)
    keep[doc_stop] = False
    data = buf[keep]
    # offsets into the compacted buffer: one separator removed per earlier doc
    starts_c = np.asarray(doc_start) - np.arange(len(counts))
    offsets = np.concatenate([starts_c, [len(data)]]).astype(np.int32)
    return pa.StringArray.from_buffers(
        len(counts), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes()))


def generate(out_root: str, seed: int, n_docs: int, words_mean: int) -> str:
    """Generate (or reuse) one input set; returns its directory."""
    params = dict(v=GEN_VERSION, seed=seed, n_docs=n_docs, words_mean=words_mean)
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(out_root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    vocab, starts, lens = _vocab(rng)
    cdf = _zipf_cdf()

    writer = None
    for lo in range(0, n_docs, CHUNK_DOCS):
        hi = min(n_docs, lo + CHUNK_DOCS)
        n = hi - lo
        nw = np.maximum(3, rng.poisson(words_mean, size=n))
        ids = np.searchsorted(cdf, rng.random(int(nw.sum())))
        docs = np.split(ids, np.cumsum(nw)[:-1])
        text = _texts(docs, vocab, starts, lens)
        n_chars = pc.utf8_length(text).cast(pa.int64())
        table = pa.table({
            "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "text": text,
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)]),
            "source": pa.array(np.char.add("src", (np.arange(lo, hi) % 7).astype(str))),
            "n_chars": n_chars,
        })
        if writer is None:
            writer = pq.ParquetWriter(os.path.join(tmp, "documents.parquet"), table.schema)
        writer.write_table(table)
    writer.close()

    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump(params, f, sort_keys=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent generator won; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(out_root, keep=out)
    return out


def _prune(out_root: str, keep: str) -> None:
    """Bound the cache: keep the KEEP_INPUTS most recently generated sets."""
    done = sorted((d for d in (os.path.join(out_root, n) for n in os.listdir(out_root))
                   if os.path.exists(os.path.join(d, "_DONE"))),
                  key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))
    for d in done[:-KEEP_INPUTS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
