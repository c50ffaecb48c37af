"""Seeded Zipf transcript corpus and head/tail query pools.

The corpus has the transcript shape of ``BASELINE.json`` ``input_hint``
(``conv_id, turn_idx, role, text, tool, ts``):

- a vocabulary of ``VOCAB_SIZE`` pseudo-words drawn from consonant-vowel
  syllables and kept only when the index's stemmer leaves them unchanged,
  so a word *is* its indexed term and document frequencies can be counted
  here without stemming;
- word ranks follow a Zipf law with exponent ``ZIPF_EXPONENT``; unlike a
  replicated table with a flat vocabulary, a query can reach rare terms;
- turn lengths are lognormal with median ``TURN_MEDIAN_TOKENS``;
- every conversation has 1-16 turns.

Everything is a function of the seed: the same seed gives the same table
and the same query pools.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_EXPONENT = 1.07
TURN_MEDIAN_TOKENS = 20
TURN_SIGMA = 0.78  # mean/median = exp(sigma^2 / 2) ~ 1.36, as in real chat turns
MAX_TURNS_PER_CONV = 16

HEAD_RANKS = (1, 100)
# df ranks of the tail pool; at the benchmark's corpus sizes these terms
# occur in tens of turns, far below any pruning threshold
TAIL_RANKS = (3_000, 30_000)
TERMS_PER_QUERY = (2, 4)

_CONSONANTS = list("bdfgklmnprtvz")
_VOWELS = list("aiou")
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)
_TOOLS = np.array(["", "search", "python", "browser", "shell"], dtype=object)
_EPOCH = datetime.datetime(2026, 1, 1)


@dataclass
class Corpus:
    """A generated transcript table plus what the benchmark derives from it."""

    rows: list[tuple]  # (conv_id, turn_idx, role, text, tool, ts)
    vocab: np.ndarray  # word by Zipf rank (index 0 = most frequent)
    df: np.ndarray  # document frequency per vocab index

    @property
    def texts(self) -> list[str]:
        return [r[3] for r in self.rows]

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)

    def df_ranked(self) -> np.ndarray:
        """Vocab indices of words that occur, by descending df (ties by word)."""
        present = np.flatnonzero(self.df > 0)
        order = np.lexsort((self.vocab[present], -self.df[present]))
        return present[order]


def make_vocab(rng: np.random.Generator, size: int = VOCAB_SIZE) -> np.ndarray:
    """*size* distinct pseudo-words of 2-4 syllables that stem to themselves,
    shortest first."""
    from tsidx.porter2 import stem

    syllables = np.array([c + v for c in _CONSONANTS for v in _VOWELS], dtype=object)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = 2 * size
        lengths = rng.integers(2, 5, size=n)
        picks = rng.integers(0, len(syllables), size=(n, 4))
        for length, row in zip(lengths, picks):
            w = "".join(syllables[row[:length]])
            if w in seen:
                continue
            seen.add(w)
            if stem(w) == w:
                words.append(w)
                if len(words) == size:
                    break
    # shortest words take the most frequent ranks, as in natural text; it
    # also keeps the corpus's byte size from varying with the seed
    words.sort(key=len)
    return np.array(words, dtype=object)


def make_corpus(seed: int, n_turns: int) -> Corpus:
    """Generate *n_turns* transcript turns from *seed*."""
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng)

    lengths = np.maximum(
        1,
        np.rint(rng.lognormal(np.log(TURN_MEDIAN_TOKENS), TURN_SIGMA, n_turns)),
    ).astype(np.int64)
    weights = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -ZIPF_EXPONENT
    cdf = np.cumsum(weights / weights.sum())
    n_tok = int(lengths.sum())
    tokens = np.minimum(np.searchsorted(cdf, rng.random(n_tok)), len(vocab) - 1)

    turn_of_tok = np.repeat(np.arange(n_turns, dtype=np.int64), lengths)
    pairs = np.unique(turn_of_tok * len(vocab) + tokens)
    df = np.bincount(pairs % len(vocab), minlength=len(vocab))

    conv_sizes = []
    left = n_turns
    while left > 0:
        size = min(int(rng.integers(1, MAX_TURNS_PER_CONV + 1)), left)
        conv_sizes.append(size)
        left -= size
    turn_idx = np.concatenate([np.arange(s) for s in conv_sizes])
    conv_no = np.repeat(np.arange(len(conv_sizes)), conv_sizes)
    roles = _ROLES[rng.integers(0, len(_ROLES), n_turns)]
    tools = np.where(roles == "tool", _TOOLS[rng.integers(1, len(_TOOLS), n_turns)], "")
    gaps = np.cumsum(rng.integers(1, 120, n_turns))

    words = vocab[tokens]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    rows = [
        (
            f"c{conv_no[i]:08d}",
            int(turn_idx[i]),
            roles[i],
            " ".join(words[starts[i] : ends[i]]),
            tools[i],
            _EPOCH + datetime.timedelta(seconds=int(gaps[i])),
        )
        for i in range(n_turns)
    ]
    return Corpus(rows=rows, vocab=vocab, df=df)


def query_pool(
    corpus: Corpus, kind: str, n_queries: int, seed: int, min_postings: int = 0
) -> list[str]:
    """*n_queries* distinct queries of 2-4 terms drawn from one df-rank band.

    ``head`` draws from df ranks 1-100, ``tail`` from ranks 3,000-30,000
    (1-based, clipped to the words that occur). Query lengths cycle
    through 2, 3, 4 terms, so every run times the same mix of lengths.
    Only queries whose terms have more than *min_postings* postings in all
    are kept.
    """
    lo, hi = {"head": HEAD_RANKS, "tail": TAIL_RANKS}[kind]
    ranked = corpus.df_ranked()
    band = corpus.vocab[ranked[lo - 1 : hi]]
    band_df = corpus.df[ranked[lo - 1 : hi]]
    if len(band) < TERMS_PER_QUERY[1]:
        raise ValueError(f"{kind} band has only {len(band)} terms")
    rng = np.random.default_rng([seed, 1 if kind == "head" else 2])
    queries: list[str] = []
    seen: set[tuple] = set()
    while len(queries) < n_queries:
        lo_n, hi_n = TERMS_PER_QUERY
        n = lo_n + len(queries) % (hi_n - lo_n + 1)
        picks = rng.choice(len(band), n, replace=False)
        terms = tuple(sorted(band[picks]))
        if band_df[picks].sum() <= min_postings:
            continue
        if terms not in seen:
            seen.add(terms)
            queries.append(" ".join(terms))
    return queries
