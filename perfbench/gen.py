"""Seeded, vectorised input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed
gives byte-identical inputs. Token draws, edits and vector draws are
whole-array numpy operations; the only Python loop is one string join
per document.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
# corpus shape: shares of planted documents, edit rate of a near-duplicate,
# document length range and stopword density (which keeps real documents
# above the curate quality floor and junk documents below it)
VOCAB_SIZE = 20_000
EXACT_FRAC, NEAR_FRAC, JUNK_FRAC = 0.05, 0.10, 0.05
EDIT_FRAC = 0.06
MIN_LEN, MAX_LEN = 60, 120
STOP_FRAC = 0.25
# vectors: a mixture of N_CENTERS Gaussians in a LATENT-dimensional space,
# mapped linearly to DIM dimensions, plus isotropic noise
DIM, LATENT, N_CENTERS, SPREAD, NOISE = 32, 8, 24, 1.0, 0.05
_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]  # 90 syllables


def vocabulary(n_words: int) -> np.ndarray:
    """``n_words`` distinct pronounceable content words (fixed, seed-free)."""
    s = len(_SYLLABLES)
    words = []
    for i in range(n_words):
        j = i + s  # at least two syllables, so no word collides with a stopword
        parts = []
        while j:
            j, r = divmod(j, s)
            parts.append(_SYLLABLES[r])
        words.append("".join(parts))
    return np.array(words, dtype=object)


@dataclass
class Corpus:
    """A generated corpus plus its planted ground truth."""

    doc_id: np.ndarray          # int64, a permutation of 0..n-1
    text: list[str]
    exact_groups: list[frozenset]       # each: a source doc and its verbatim copies
    near_pairs: list[tuple[int, int]]   # (source, edited copy), source < copy not implied
    junk_ids: frozenset                 # low-quality docs the quality filter must drop


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """Corpus of ``n_docs`` documents: plain documents, verbatim copies
    of ``EXACT_FRAC·n`` sources (1-2 copies each), one edited copy of
    ``NEAR_FRAC·n`` other sources (``EDIT_FRAC`` of the tokens replaced),
    and ``JUNK_FRAC·n`` punctuation-heavy documents with no stopwords.
    Ids are shuffled so copies never sit next to their sources."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(VOCAB_SIZE)
    words = np.concatenate([vocab, np.array(STOPWORDS, dtype=object)])
    n_junk = int(n_docs * JUNK_FRAC)
    n_near = int(n_docs * NEAR_FRAC)
    n_exact_src = int(n_docs * EXACT_FRAC)
    n_copies = rng.integers(1, 3, n_exact_src)
    n_base = n_docs - n_junk - n_near - int(n_copies.sum())
    if n_base < n_near + n_exact_src:
        raise ValueError("corpus too small for the planted duplicate shares")

    # base documents: Zipf-ish content words with stopwords mixed in
    lens = rng.integers(MIN_LEN, MAX_LEN + 1, n_base)
    offs = np.concatenate([[0], np.cumsum(lens)])
    n_tok = int(offs[-1])
    p = 1.0 / (np.arange(VOCAB_SIZE) + 10.0)
    p /= p.sum()
    tok = rng.choice(VOCAB_SIZE, n_tok, p=p)
    is_stop = rng.random(n_tok) < STOP_FRAC
    tok[is_stop] = VOCAB_SIZE + rng.integers(0, len(STOPWORDS), int(is_stop.sum()))
    base_tokens = [tok[offs[i]:offs[i + 1]] for i in range(n_base)]

    # sources of the planted sets are disjoint base documents
    src = rng.permutation(n_base)
    exact_src = src[:n_exact_src]
    near_src = src[n_exact_src:n_exact_src + n_near]

    texts = [" ".join(words[t]) for t in base_tokens]
    origin = list(range(n_base))  # generated slot -> base slot it copies
    for s, c in zip(exact_src, n_copies):
        for _ in range(c):
            texts.append(texts[s])
            origin.append(int(s))
    near_slots = []
    for s in near_src:
        t = base_tokens[s].copy()
        pos = rng.random(len(t)) < EDIT_FRAC
        pos[rng.integers(0, len(t))] = True  # at least one edit
        repl = rng.integers(0, VOCAB_SIZE, int(pos.sum()))
        repl = np.where(repl == t[pos], (repl + 1) % VOCAB_SIZE, repl)
        t[pos] = repl
        near_slots.append(len(texts))
        texts.append(" ".join(words[t]))
        origin.append(int(s))
    junk_start = len(texts)
    junk_len = rng.integers(MIN_LEN, MAX_LEN + 1, n_junk)
    junk_tok = rng.integers(0, VOCAB_SIZE, int(junk_len.sum()))
    junk_offs = np.concatenate([[0], np.cumsum(junk_len)])
    for i in range(n_junk):
        ws = vocab[junk_tok[junk_offs[i]:junk_offs[i + 1]]]
        texts.append("#" + " ##".join(ws) + " $%&")

    ids = rng.permutation(len(texts)).astype(np.int64)
    exact_groups = []
    slot = n_base
    for s, c in zip(exact_src, n_copies):
        exact_groups.append(frozenset(int(ids[x]) for x in [s, *range(slot, slot + c)]))
        slot += c
    near_pairs = [(int(ids[origin[k]]), int(ids[k])) for k in near_slots]
    junk_ids = frozenset(int(ids[k]) for k in range(junk_start, len(texts)))
    order = np.argsort(ids)
    return Corpus(
        doc_id=ids[order],
        text=[texts[k] for k in order],
        exact_groups=exact_groups,
        near_pairs=near_pairs,
        junk_ids=junk_ids,
    )


def write_corpus(corpus: Corpus, path: str, shards: int) -> int:
    """Write the corpus in the ``documents`` table layout as a directory
    of ``shards`` parquet files (corpora ship as many shards); returns
    the bytes written."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    idx = np.arange(len(corpus.text))
    os.makedirs(path, exist_ok=True)
    size = 0
    for k, part in enumerate(np.array_split(idx, shards)):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(corpus.doc_id[part], pa.int64()),
            "lang": pa.array(["en"] * len(part), pa.string()),
            "text": pa.array([corpus.text[i] for i in part], pa.string()),
        }), f)
        size += os.path.getsize(f)
    return size


@dataclass
class Vectors:
    """Gaussian-mixture corpus and query vectors with the exact top-k."""

    corpus: np.ndarray     # n × d float64
    queries: np.ndarray    # q × d float64
    query_ids: np.ndarray  # int64, disjoint from corpus ids 0..n-1
    truth: np.ndarray      # q × k corpus ids, exact cosine top-k


def make_vectors(seed: int, n: int, n_queries: int, k: int) -> Vectors:
    """``n`` corpus and ``n_queries`` query vectors from one Gaussian
    mixture with low intrinsic dimension, as embeddings have (on
    full-rank isotropic data IVF-PQ recall was near 0.5), and the exact
    cosine top-``k`` of every query."""
    rng = np.random.default_rng(seed)
    proj = rng.standard_normal((LATENT, DIM))
    centers = rng.standard_normal((N_CENTERS, LATENT))

    def draw(m):
        z = centers[rng.integers(0, N_CENTERS, m)] + SPREAD * rng.standard_normal((m, LATENT))
        return z @ proj + NOISE * rng.standard_normal((m, DIM))

    x = draw(n)
    q = draw(n_queries)
    return Vectors(x, q, np.arange(n, n + n_queries, dtype=np.int64),
                   exact_topk(x, q, k))


def exact_topk(x: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Row ids of the ``k`` corpus rows most cosine-similar to each query,
    scores rounded to 6 digits and ties broken by the smaller id, as the
    engine's refine step and select-k do."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    s = np.round(qn @ xn.T, 6)
    top = np.argpartition(-s, k + 8, axis=1)[:, :k + 8]  # margin for ties at the cut
    out = np.empty((q.shape[0], k), dtype=np.int64)
    for i, c in enumerate(top):
        out[i] = c[np.lexsort((c, -s[i, c]))[:k]]
    return out
