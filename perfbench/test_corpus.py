"""Tests for the seeded corpus generator (run: python3 -m pytest perfbench)."""

from __future__ import annotations

import datetime
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.corpus import (  # noqa: E402
    HEAD_RANKS,
    MAX_TURNS_PER_CONV,
    make_corpus,
    query_pool,
)
from perfbench.run import N_TURNS, POOL_QUERIES, PRUNE_LIMIT  # noqa: E402


def test_same_seed_same_table():
    a, b = make_corpus(7, 3_000), make_corpus(7, 3_000)
    assert a.rows == b.rows
    assert (a.vocab == b.vocab).all() and (a.df == b.df).all()
    assert make_corpus(8, 3_000).rows != a.rows


def test_transcript_shape():
    c = make_corpus(3, 3_000)
    assert len(c.rows) == 3_000
    for conv_id, turn_idx, role, text, tool, ts in c.rows[:50]:
        assert isinstance(conv_id, str) and isinstance(turn_idx, int)
        assert role in ("user", "assistant", "tool")
        assert text and isinstance(tool, str)
        assert isinstance(ts, datetime.datetime)
    # row order is the docID order (conv_id, turn_idx), so row i is doc i
    keys = [(r[0], r[1]) for r in c.rows]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    sizes = {}
    for conv_id, *_ in c.rows:
        sizes[conv_id] = sizes.get(conv_id, 0) + 1
    assert max(sizes.values()) <= MAX_TURNS_PER_CONV
    lengths = [len(r[3].split()) for r in c.rows]
    assert 17 <= statistics.median(lengths) <= 23


def test_words_are_their_own_terms():
    from tsidx.porter2 import stem

    c = make_corpus(5, 500)
    assert len(set(c.vocab)) == len(c.vocab)
    assert all(stem(w) == w for w in c.vocab[:2_000])


def test_query_pools_non_empty_and_seeded():
    c = make_corpus(11, N_TURNS)
    n = POOL_QUERIES + 1
    head = query_pool(c, "head", n, 11, PRUNE_LIMIT)
    tail = query_pool(c, "tail", n, 11)
    assert len(head) == len(set(head)) == n
    assert len(tail) == len(set(tail)) == n
    assert query_pool(c, "head", n, 11, PRUNE_LIMIT) == head
    df = dict(zip(c.vocab, c.df))
    head_df = min(df[w] for q in head for w in q.split())
    tail_df = max(df[w] for q in tail for w in q.split())
    assert head_df > tail_df > 0
    # every head query takes the rankers' pruning path, no tail query does
    postings = [sum(df[w] for w in q.split()) for q in head + tail]
    assert min(postings[:n]) > PRUNE_LIMIT >= max(postings[n:])
    assert [len(q.split()) for q in head[:6]] == [2, 3, 4, 2, 3, 4]
    assert [len(q.split()) for q in tail[:6]] == [2, 3, 4, 2, 3, 4]
    ranked = c.df_ranked()
    top = set(c.vocab[ranked[HEAD_RANKS[0] - 1 : HEAD_RANKS[1]]])
    assert all(w in top for q in head for w in q.split())
