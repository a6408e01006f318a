"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical files and identical job lists and query samples.

- `corpus`: Zipf-distributed text input directories for `mr_jobs`, some of
  them carrying one hot token at about 30% of all tokens.
- `jobs`: the `mr_jobs` job list over a corpus.
- `query_sample`: a sample of registry queries stratified by measured cost,
  in a seeded order.
"""
import json
import os
import random
import re

import numpy as np

# --------------------------------------------------------------------------
# mr_jobs corpus and job list
# --------------------------------------------------------------------------

# one vocabulary word per Zipf rank; "product" (the grep operators' fixed
# query) sits far down the tail so grep outputs stay tiny
VOCAB_SIZE = 20_000
GREP_RANK = 2_000
HOT_TOKEN = "hotkey"
HOT_SHARE = 0.30


def _vocab():
    words = [f"w{i:05d}" for i in range(VOCAB_SIZE)]
    words[GREP_RANK] = "product"
    return np.array(words)


def _text(rng, n_bytes, hot):
    """About `n_bytes` of Zipf text: lines of 0..24 tokens (empty lines
    included), optionally with HOT_TOKEN at HOT_SHARE of the tokens."""
    vocab = _vocab()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype="float64")
    p = ranks ** -1.05
    p /= p.sum()
    n_tok = max(1, n_bytes // 7)  # mean token length + separator
    toks = vocab[rng.choice(VOCAB_SIZE, n_tok, p=p)]
    if hot:
        toks[rng.rand(n_tok) < HOT_SHARE] = HOT_TOKEN
    lens = rng.randint(0, 25, n_tok // 6 + 2)
    out, i = [], 0
    for ln in lens:
        if i >= n_tok:
            break
        out.append(" ".join(toks[i:i + ln]))
        i += ln
    return "\n".join(out) + "\n"


def corpus(seed, root, dir_mb, hot_dirs):
    """Write one input directory per entry of `dir_mb` (sizes in MB) under
    `root`, each split into 4 files. Returns [(dir, n_bytes, hot)]."""
    rng = np.random.RandomState(seed)
    dirs = []
    for k, mb in enumerate(dir_mb):
        d = os.path.join(root, f"input{k:02d}")
        os.makedirs(d, exist_ok=True)
        hot = k in hot_dirs
        total = 0
        for f in range(4):
            text = _text(rng, int(mb * (1 << 20)) // 4, hot)
            with open(os.path.join(d, f"file{f + 1:02d}"), "w", encoding="ascii") as fh:
                fh.write(text)
            total += len(text)
        dirs.append((d, total, hot))
    return dirs


def jobs(seed, dirs, n_jobs):
    """The job list, in blocks of a word count over every input dir and a
    grep over half of them (alternate blocks grep the other half).

    Dirs are listed in size order. A quarter of the word counts and of the
    greps run the piped executables: every fourth dir, from a seeded
    offset, so the piped jobs spread evenly over the sizes whatever the
    seed. numMappers and numReducers follow the dir and kind and cover every
    pair in {2, 4} x {1, 2, 4}. The seed also picks the order within each
    block."""
    rng = random.Random(seed)
    offset = rng.randrange(4)
    out, b = [], 0
    while len(out) < n_jobs:
        greps = [d for d in range(len(dirs)) if (d + b) % 2 == 0]
        block = [(d, "wc", (d + offset + b) % 4 == 0) for d in range(len(dirs))]
        block += [(d, "grep", (d // 2 + offset) % 4 == 0) for d in greps]
        rng.shuffle(block)
        for d, kind, piped in block:
            out.append({"dir": d, "kind": kind, "piped": piped,
                        "num_mappers": 2 if d < len(dirs) // 2 else 4,
                        "num_reducers": (1, 2, 4)[(d + (kind == "grep")) % 3]})
        b += 1
    return out[:n_jobs]


_WC_SPLIT = re.compile(r"[ \t\[\]]")


def expected_lines(input_dir, kind):
    """The output lines a job must produce, computed without Spark and
    sorted: word count follows MapStage.wcMap/ReduceStage.wcReduce, grep
    follows grepMap("product")/grepReduce."""
    lines = []
    for f in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, f), encoding="ascii") as fh:
            lines.extend(fh.read().split("\n")[:-1])
    if kind == "wc":
        counts = {}
        for line in lines:
            for tok in _WC_SPLIT.split(line.lower()):
                counts[tok] = counts.get(tok, 0) + 1
        out = [f"{k}\t{v}" for k, v in counts.items()]
    else:
        out = []
        for line in lines:
            s = line.strip()
            if s and "product" in s.lower():
                out.append(s)
    return sorted(out)


def digest(sorted_lines):
    import hashlib

    h = hashlib.sha256()
    for line in sorted_lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# Registry query sample
# --------------------------------------------------------------------------

def _vdc(k):
    """k-th term of the base-2 van der Corput sequence in [0, 1)."""
    x, d = 0.0, 0.5
    while k:
        if k & 1:
            x += d
        k >>= 1
        d /= 2
    return x


def query_sample(seed, costs, width):
    """A query sample stratified by measured cost, in a seeded order.

    `costs` maps query -> seconds. Queries sorted by cost are cut into strata
    of `width` neighbours and the seed draws one query from each, so every
    seed's sample has nearly the same cost distribution. The run order walks
    the cost-sorted picks along a van der Corput sequence with a seeded
    offset, so every prefix of the order spreads evenly over the cost range
    too (a run that stops early still runs a representative mix)."""
    rng = random.Random(seed)
    names = sorted(costs, key=lambda q: (costs[q], q))
    picks = [rng.choice(names[i:i + width]) for i in range(0, len(names), width)]
    offset = rng.random()
    order, seen, k = [], set(), 0
    while len(order) < len(picks):
        i = int(((_vdc(k) + offset) % 1.0) * len(picks))
        k += 1
        if i not in seen:
            seen.add(i)
            order.append(picks[i])
    return order


def load_json(path):
    with open(path) as fh:
        return json.load(fh)
