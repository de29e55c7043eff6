"""Seeded input generation for the graft benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical inputs and the same expected output.
"""
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

# Word-count corpus shape. The vocabulary is large enough that
# map-side combining still leaves a shuffle of a few hundred thousand
# distinct words, and the token count puts one warm word-count job at
# one to two seconds on four cores.
CORPUS_TOKENS = 4_000_000
CORPUS_VOCAB = 400_000
CORPUS_ZIPF_S = 1.05
TOKENS_PER_LINE = 12
_ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
    dtype=np.uint8)
# Separators hold no [A-Za-z0-9] byte, so they split tokens exactly as
# the reference's tokenizer does; runs of punctuation are deliberate.
_SEPS = [b" ", b" ", b" ", b", ", b". ", b" - ", b"'", b"--", b";  ", b"!? "]

SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")


def _vocabulary(rng):
    """CORPUS_VOCAB distinct [A-Za-z0-9]+ words, mixed case and digits."""
    words, seen = [], set()
    while len(words) < CORPUS_VOCAB:
        n = CORPUS_VOCAB - len(words)
        lens = rng.integers(2, 11, n)
        chars = _ALNUM[rng.integers(0, len(_ALNUM), int(lens.sum()))].tobytes()
        pos = 0
        for ln in lens:
            w = chars[pos:pos + ln]
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def make_corpus(path, seed):
    """Write a Zipf-distributed text corpus to `path` and return its
    description plus the exact expected word-count output (the
    reference's `word, count` lines in byte order), counted here from
    the token draws rather than by re-tokenizing the text."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng)
    ranks = rng.permutation(CORPUS_VOCAB)  # which word gets which rank
    p = 1.0 / np.arange(1, CORPUS_VOCAB + 1) ** CORPUS_ZIPF_S
    p /= p.sum()
    draws = ranks[rng.choice(CORPUS_VOCAB, CORPUS_TOKENS, p=p)]
    # piece table: the words, then the separators, then a line break
    pieces = words + _SEPS + [b"\n"]
    plen = np.array([len(x) for x in pieces], dtype=np.int64)
    psrc = np.cumsum(plen) - plen
    buf = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    sep_ids = CORPUS_VOCAB + rng.integers(0, len(_SEPS), CORPUS_TOKENS)
    sep_ids[TOKENS_PER_LINE - 1::TOKENS_PER_LINE] = len(pieces) - 1
    with open(path, "wb") as f:
        chunk = 500_000
        for lo in range(0, CORPUS_TOKENS, chunk):
            hi = min(lo + chunk, CORPUS_TOKENS)
            ids = np.empty(2 * (hi - lo), dtype=np.int64)
            ids[0::2] = draws[lo:hi]
            ids[1::2] = sep_ids[lo:hi]
            if hi == CORPUS_TOKENS:
                ids = ids[:-1]  # no trailing newline: a reference edge case
            ln = plen[ids]
            out_start = np.cumsum(ln) - ln
            idx = np.repeat(psrc[ids] - out_start, ln) + np.arange(int(ln.sum()))
            f.write(buf[idx].tobytes())
    counts = np.bincount(draws, minlength=CORPUS_VOCAB)
    present = sorted((words[i], int(counts[i]))
                     for i in np.nonzero(counts)[0])
    expected = b"".join(w + b", " + str(c).encode() + b"\n"
                        for w, c in present)
    return {
        "corpus_bytes": os.path.getsize(path),
        "corpus_tokens": CORPUS_TOKENS,
        "vocab_size": CORPUS_VOCAB,
        "distinct_words": len(present),
        "expected_sha256": hashlib.sha256(expected).hexdigest(),
        "expected_bytes": len(expected),
    }, expected


def stage_sf(src, dst, seed):
    """Copy every table of `src` to `dst` with its rows permuted by the
    seed, one parquet file per table, column types unchanged. Returns
    the row count of each table and the staged bytes."""
    os.makedirs(dst, exist_ok=True)
    rows, total = {}, 0
    for i, t in enumerate(SF_TABLES):
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        out = os.path.join(dst, f"{t}.parquet")
        pq.write_table(table.take(perm), out, compression="snappy")
        rows[t] = table.num_rows
        total += os.path.getsize(out)
    return {"sf_rows": rows, "sf_bytes": total}
