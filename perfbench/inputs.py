"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed
gives byte-identical parquet files. Generation is never timed; the
files are cached per seed under the work directory so a repeated seed
skips it. The program only ever sees the generated files.

The shapes mimic the repo's sf0.1 testdata (lineitem joined to orders,
documents) but the values are synthetic, so the benchmark needs
nothing outside its checkout:

- ``game``: a GAME table whose labels are drawn from a ground-truth
  model (fixed effect + per-customer + per-supplier intercepts). The
  stock ``l_returnflag`` label is independent of the features, which
  would pin every AUC at 0.5.
- ``corpus``: documents with injected exact copies, near-duplicate
  variants and too-short documents, at fixed shares.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes, so stale cached inputs are not reused
GEN_VERSION = 7

# game: ~12 rows per customer (many small entities), ~100 per supplier
GAME_ROWS = 4000
GAME_VAL_ROWS = 1000
GAME_CUSTOMERS = 330
GAME_SUPPLIERS = 40
GAME_FEATURES = [("li", "qty"), ("li", "price"), ("li", "discount"),
                 ("li", "tax"), ("ord", "total")]

CORPUS_DOCS = 500
CORPUS_VOCAB = 3000
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.05
SHORT_SHARE = 0.03
MIN_TOKENS = 8
LANGS = ["en", "de", "es", "fr", "zh"]


def _sigmoid(m):
    return 1.0 / (1.0 + np.exp(-m))


def auc(score: np.ndarray, label: np.ndarray) -> float:
    """Rank AUC (ties averaged) of ``score`` against 0/1 ``label``."""
    order = np.argsort(score, kind="mergesort")
    s = score[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i:j + 1] = 0.5 * (i + j) + 1.0
        i = j + 1
    r = np.empty(len(s))
    r[order] = ranks
    pos = label > 0.5
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    return float((r[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def quartiles(counts) -> list[float]:
    return [float(q) for q in np.percentile(np.asarray(counts), [25, 50, 75])]


def fixed_sizes(n_rows: int, n_entities: int, sigma: float) -> np.ndarray:
    """Skewed entity sizes (lognormal popularity, at least one row
    each) that sum to ``n_rows`` and are the same for every seed, so
    seeds change the values in a table but not its shape or the work
    it takes."""
    w = np.random.default_rng(0).lognormal(0.0, sigma, n_entities)
    extra = (n_rows - n_entities) * w / w.sum()
    sizes = 1 + np.floor(extra).astype(np.int64)
    short = n_rows - int(sizes.sum())
    sizes[np.argsort(extra - np.floor(extra))[::-1][:short]] += 1
    return sizes


def _game_rows(rng, n, truth):
    cust = rng.permutation(np.repeat(np.arange(GAME_CUSTOMERS),
                                     fixed_sizes(n, GAME_CUSTOMERS, 0.6)))
    supp = rng.permutation(np.repeat(np.arange(GAME_SUPPLIERS),
                                     fixed_sizes(n, GAME_SUPPLIERS, 0.3)))
    X = np.column_stack([
        rng.integers(1, 51, n) / 50.0,            # quantity
        rng.uniform(0.01, 1.0, n),                 # extended price
        rng.integers(0, 11, n) / 100.0,            # discount
        rng.integers(0, 9, n) / 100.0,             # tax
        rng.uniform(0.01, 1.0, n),                 # order total
    ])
    margin = (X @ truth["beta"] + truth["intercept"]
              + truth["cust"][cust] + truth["supp"][supp])
    y = (rng.random(n) < _sigmoid(margin)).astype(np.float64)
    return cust, supp, X, y, margin


def _game_table(cust, supp, X, y, uid0):
    n = len(y)
    feats = pa.array([
        [{"name": nm, "term": tm, "value": float(X[i, j])}
         for j, (nm, tm) in enumerate(GAME_FEATURES)]
        for i in range(n)
    ])
    return pa.table({
        "uid": np.arange(uid0, uid0 + n, dtype=np.int64),
        "response": y,
        "offset": np.zeros(n),
        "weight": np.ones(n),
        "custkey": pa.array([f"c{c}" for c in cust]),
        "suppkey": pa.array([f"s{s}" for s in supp]),
        "features": feats,
    })


def gen_game(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    truth = {
        "beta": np.array([1.2, -1.0, 6.0, -6.0, 0.8]),
        "intercept": -0.6,
        "cust": rng.normal(0.0, 1.0, GAME_CUSTOMERS),
        "supp": rng.normal(0.0, 0.7, GAME_SUPPLIERS),
    }
    c, s, X, y, _ = _game_rows(rng, GAME_ROWS, truth)
    pq.write_table(_game_table(c, s, X, y, 0), f"{out}/train.parquet")
    vc, vs, vX, vy, vm = _game_rows(rng, GAME_VAL_ROWS, truth)
    pq.write_table(_game_table(vc, vs, vX, vy, GAME_ROWS),
                   f"{out}/validation.parquet")
    return {
        "rows": GAME_ROWS,
        "validation_rows": GAME_VAL_ROWS,
        "entities": {"custkey": int(len(np.unique(c))),
                     "suppkey": int(len(np.unique(s)))},
        "rows_per_entity_q": {
            "custkey": quartiles(np.bincount(c)[np.bincount(c) > 0]),
            "suppkey": quartiles(np.bincount(s)[np.bincount(s) > 0]),
        },
        "shard_dims": {"features": len(GAME_FEATURES) + 1},
        "positive_share": float(y.mean()),
        "truth_val_auc": auc(vm, vy),
    }


def gen_corpus(seed: int, out: str) -> dict:
    """Originals plus three injected kinds, each a fixed share:

    - exact copies (same text, new id): exact dedup must drop them;
    - near-duplicate variants: the original with one extra token
      appended. Word-bigram Jaccard with the original is m/(m+1) for
      m distinct bigrams (>= 0.99 with 100+ token originals), so the
      curate driver's 16-hash, 4-band MinHash LSH misses a pair with
      probability (1 - J^4)^4 < 3e-6, and the leakage-safe split must
      keep every pair on one side;
    - short documents below the quality stage's token floor.
    """
    rng = np.random.default_rng([seed, 3])
    # lengths and which originals get copies are the same for every
    # seed (the corpus shape, hence the work); the seed picks the words
    shape = np.random.default_rng(0)
    vocab = np.array([f"w{i}" for i in range(CORPUS_VOCAB)])
    zipf = 1.0 / np.arange(1, CORPUS_VOCAB + 1) ** 0.8
    zipf /= zipf.sum()
    n_near = int(CORPUS_DOCS * NEAR_DUP_SHARE)
    n_exact = int(CORPUS_DOCS * EXACT_DUP_SHARE)
    n_short = int(CORPUS_DOCS * SHORT_SHARE)
    n_orig = CORPUS_DOCS - n_near - n_exact - n_short

    def doc(lo, hi):
        return list(vocab[rng.choice(CORPUS_VOCAB, shape.integers(lo, hi),
                                     p=zipf)])

    texts = [doc(100, 140) for _ in range(n_orig)]
    kind = ["original"] * n_orig
    origin = list(range(n_orig))
    for src in shape.choice(n_orig, n_near, replace=False):
        # a token the original lacks: a repeated one would leave the
        # bag-of-words signature unchanged and make an exact duplicate
        extra = str(vocab[rng.integers(CORPUS_VOCAB)])
        while extra in texts[src]:
            extra = str(vocab[rng.integers(CORPUS_VOCAB)])
        texts.append(texts[src] + [extra])
        kind.append("near")
        origin.append(int(src))
    for src in shape.choice(n_orig, n_exact, replace=False):
        texts.append(list(texts[src]))
        kind.append("exact")
        origin.append(int(src))
    for _ in range(n_short):
        texts.append(doc(2, MIN_TOKENS))
        kind.append("short")
        origin.append(-1)
    # shuffle ids so injected docs are not clustered at the end
    perm = rng.permutation(CORPUS_DOCS)
    ids = np.empty(CORPUS_DOCS, dtype=np.int64)
    ids[perm] = np.arange(CORPUS_DOCS)
    origin_id = [int(ids[o]) if o >= 0 else -1 for o in origin]
    text = [" ".join(t) for t in texts]
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": pa.array(text),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in perm]),
        "source": pa.array([f"src{i % 4}" for i in perm]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), f"{out}/docs.parquet")
    truth = {"kind": kind, "doc_id": ids.tolist(), "origin_id": origin_id}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {
        "rows": CORPUS_DOCS,
        "near_dup_share": NEAR_DUP_SHARE,
        "exact_dup_share": EXACT_DUP_SHARE,
        "short_share": SHORT_SHARE,
        "tokens_per_doc_q": quartiles([len(t) for t in texts]),
    }


GENERATORS = {"game": gen_game, "corpus": gen_corpus}


def ensure(kind: str, seed: int, root: str) -> tuple[str, dict]:
    """Return (directory, properties) of the cached inputs, generating
    them first when absent. The directory is published by one rename,
    so an interrupted generation never leaves a half-written cache."""
    out = os.path.join(root, f"{kind}-s{seed}-v{GEN_VERSION}")
    props_path = os.path.join(out, "properties.json")
    if not os.path.exists(props_path):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = GENERATORS[kind](seed, tmp)
        props["seed"] = seed
        with open(os.path.join(tmp, "properties.json"), "w") as f:
            json.dump(props, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(props_path) as f:
        return out, json.load(f)
