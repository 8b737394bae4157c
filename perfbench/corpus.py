"""Seeded URL corpus generator for the url_* workloads.

Two key shapes, both written as a many-file text corpus of
space-separated URLs, 10,000 per line (the reference corpus's line):

- ``uniform``: ``https://`` + 3 lowercase letters + ``.com``, every key
  equally likely -- the reference generator's shape, so there are at
  most 26**3 = 17,576 distinct keys.
- ``zipf``: ``https://`` + 6 lowercase letters + ``.com``, drawn Zipf
  (exponent ``ZIPF_S``) from a vocabulary of ``ZIPF_VOCAB`` keys. Rank r
  maps to a scattered 6-letter name, so lexical order is unrelated to
  frequency.

The text files go to ``text/``, the first two lines again to
``warmup.txt``; next to them the generator writes ``counts.npy``: the exact
number of times each key index was drawn. Key index -> URL is the pure
function ``key_names``, so the expected answer of every check is derived
from what was generated, never from the program under test.
"""
import json
import os
import shutil

import numpy as np

TOKENS_PER_LINE = 10_000
LINES_PER_FILE = 25
ZIPF_VOCAB = 1 << 22
ZIPF_S = 1.0
# 26**6 and a multiplier coprime to it: rank -> name index is a bijection
_NAME_SPACE = 26 ** 6
_SCATTER = 123_456_791

SHAPES = ("uniform", "zipf")


def _letters(idx, width):
    """Fixed-width lowercase names for integer indices (big-endian base 26)."""
    out = np.empty((len(idx), width), dtype=np.uint8)
    rest = np.asarray(idx, dtype=np.int64).copy()
    for pos in range(width - 1, -1, -1):
        out[:, pos] = ord("a") + rest % 26
        rest //= 26
    return out


def vocab_size(shape):
    return 26 ** 3 if shape == "uniform" else ZIPF_VOCAB


def key_names(shape, idx=None):
    """URL bytes for key indices (all keys when ``idx`` is None), as an
    (n, width) uint8 array without the trailing separator."""
    if idx is None:
        idx = np.arange(vocab_size(shape), dtype=np.int64)
    idx = np.asarray(idx, dtype=np.int64)
    if shape == "uniform":
        letters = _letters(idx, 3)
    else:
        letters = _letters(idx * _SCATTER % _NAME_SPACE, 6)
    n = len(idx)
    head = np.frombuffer(b"https://", dtype=np.uint8)
    tail = np.frombuffer(b".com", dtype=np.uint8)
    return np.hstack([np.broadcast_to(head, (n, 8)), letters,
                      np.broadcast_to(tail, (n, 4))])


def key_strings(shape, idx=None):
    return [bytes(row).decode("ascii") for row in key_names(shape, idx)]


def _zipf_cdf():
    cdf = np.cumsum(np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** -ZIPF_S)
    return cdf / cdf[-1]


def _draw(rng, shape, n, cdf):
    if shape == "uniform":
        return rng.integers(0, 26 ** 3, size=n, dtype=np.int64)
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64)


def token_bytes(shape):
    return (15 if shape == "uniform" else 18) + 1


def generate(out_dir, shape, seed, target_bytes):
    """Write the corpus for (shape, seed, target_bytes) into ``out_dir``.
    The byte count is rounded to whole lines; the same arguments always
    give byte-identical files."""
    if shape not in SHAPES:
        raise ValueError(f"unknown corpus shape {shape!r}")
    rng = np.random.default_rng([seed, SHAPES.index(shape)])
    line_bytes = TOKENS_PER_LINE * token_bytes(shape)
    n_lines = max(1, target_bytes // line_bytes)
    names = key_names(shape)
    width = names.shape[1] + 1
    table = np.empty((len(names), width), dtype=np.uint8)
    table[:, :-1] = names
    table[:, -1] = ord(" ")
    counts = np.zeros(len(names), dtype=np.int64)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "text"))
    cdf = _zipf_cdf() if shape == "zipf" else None
    written, part = 0, 0
    while written < n_lines:
        lines = min(LINES_PER_FILE, n_lines - written)
        idx = _draw(rng, shape, lines * TOKENS_PER_LINE, cdf)
        counts += np.bincount(idx, minlength=len(names))
        rows = table[idx].reshape(lines, TOKENS_PER_LINE * width)
        rows[:, -1] = ord("\n")
        with open(os.path.join(tmp, "text", f"part-{part:05d}.txt"), "wb") as f:
            f.write(rows.tobytes())
        written += lines
        part += 1
    # the warm-up input: the corpus's first two lines, outside text/
    with open(os.path.join(tmp, "text", "part-00000.txt"), "rb") as src, \
            open(os.path.join(tmp, "warmup.txt"), "wb") as f:
        f.write(src.readline() + src.readline())
    np.save(os.path.join(tmp, "counts.npy"), counts)
    meta = {"shape": shape, "seed": seed, "target_bytes": target_bytes,
            "files": part, "lines": n_lines,
            "bytes": n_lines * line_bytes, "tokens": int(counts.sum())}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return meta


def cached(cache_root, shape, seed, target_bytes, keep=2):
    """The corpus for (shape, seed, target_bytes) under ``cache_root``,
    generated on a miss. Keeps the ``keep`` most recently used corpora."""
    os.makedirs(cache_root, exist_ok=True)
    path = os.path.join(cache_root, f"{shape}-s{seed}-b{target_bytes}")
    if not os.path.exists(os.path.join(path, "meta.json")):
        generate(path, shape, seed, target_bytes)
    os.utime(path)
    others = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)),
                    key=os.path.getmtime, reverse=True)
    for old in others[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(path, "meta.json")) as f:
        return path, json.load(f)


def load_counts(path):
    return np.load(os.path.join(path, "counts.npy"))


def expected_top(shape, counts, k=100):
    """Top-k (url, count) by count desc, url asc -- the job's total order."""
    nz = np.flatnonzero(counts)
    # the k-th largest count bounds the candidates; ties are broken by name
    kth = np.sort(counts[nz])[-min(k, len(nz))]
    cand = nz[counts[nz] >= kth]
    names = key_strings(shape, cand)
    order = sorted(range(len(cand)), key=lambda i: (-counts[cand[i]], names[i]))
    return [(names[i], int(counts[cand[i]])) for i in order[:k]]
