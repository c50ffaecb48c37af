"""MaxScore rank-identity tests: top-k vs naive plan vs oracle, on a seeded
generated corpus and on the reference sonnets (skipped when the reference
is absent), plus stopword-dominated and tombstoned queries."""

from __future__ import annotations

import pytest

from tsidx.build import build_index
from tsidx.maxscore import maxscore_topk
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine

QUERIES = {
    "generated": [
        "ember",  # single term
        "harbor lantern glacier",
        "the and of",  # hot terms only
        "zzrare the and of",  # one rare term + stopwords
        "nonexistentterm",
        "turn",  # df == n_docs
    ],
    "sonnets": [
        "same",
        "thrall quench",
        "fire heat",
        "love beauty time",
        "the and of",  # hot terms — bounds sum high, little term pruning
        "thrall the and of sonnet",  # one rare term + stopwords
        "nonexistentterm",
        "sonnet",  # df == n_docs
    ],
}
NAIVE_QUERIES = {
    "generated": ["harbor lantern glacier", "zzrare the and of"],
    "sonnets": ["fire heat", "thrall the and of"],
}


def cases(queries: dict[str, list[str]]) -> list[tuple[str, str]]:
    return [(corpus, q) for corpus, qs in queries.items() for q in qs]


@pytest.fixture(scope="module", params=sorted(QUERIES))
def built(request, spark):
    corpus = request.param
    texts = request.getfixturevalue(corpus)
    idx = build_index(
        request.getfixturevalue(f"{corpus}_transcripts"), block_size=16
    )  # many blocks
    oracle = OracleIndex()
    oracle.add_corpus(texts)
    return corpus, idx, oracle


@pytest.mark.parametrize("limit", [0, 200_000], ids=["pruned-path", "fast-path"])
@pytest.mark.parametrize("k", [0, 1, 10, 200])
@pytest.mark.parametrize(
    "built,query", cases(QUERIES), indirect=["built"], scope="module"
)
def test_maxscore_rank_identical_to_oracle(built, query, k, limit):
    _, idx, oracle = built
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            idx, query, k, small_candidate_limit=limit
        ).collect()
    ]
    want = oracle.bm25_topk(query, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == s2, (query, d1, s1, s2)  # bit-identical


@pytest.mark.parametrize(
    "built,query", cases(NAIVE_QUERIES), indirect=["built"], scope="module"
)
def test_maxscore_matches_naive_and_wand(built, query):
    from tsidx.wand import wand_topk

    _, idx, _ = built
    eng = QueryEngine(idx)
    naive = [
        (r["doc_id"], r["score"]) for r in eng.bm25_topk(query, 25).collect()
    ]
    ms = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(idx, query, 25, small_candidate_limit=0).collect()
    ]
    wd = [
        (r["doc_id"], r["score"])
        for r in wand_topk(idx, query, 25, small_candidate_limit=0).collect()
    ]
    assert naive == ms == wd


@pytest.mark.parametrize(
    "built,query", cases(NAIVE_QUERIES), indirect=["built"], scope="module"
)
@pytest.mark.parametrize("k", [3, 10])
def test_maxscore_with_tombstones(built, query, k):
    """Logically deleted docs leave the page; every other score is unchanged
    (corpus statistics are not recomputed until the physical apply)."""
    from tsidx.deletes import delete_docs

    _, idx, oracle = built
    deleted = {d for d, _ in oracle.bm25_topk(query, 3)}  # the page's head
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            delete_docs(idx, sorted(deleted)), query, k, small_candidate_limit=0
        ).collect()
    ]
    want = [
        p for p in oracle.bm25_topk(query, k + len(deleted)) if p[0] not in deleted
    ][:k]
    assert got == want


def test_maxscore_array_codec(spark, sonnets_transcripts, sonnets):
    idx = build_index(sonnets_transcripts, block_size=32, codec="array")
    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            idx, "fire heat", 10, small_candidate_limit=0
        ).collect()
    ]
    assert got == oracle.bm25_topk("fire heat", 10)


def test_maxscore_prunes_stopword_terms(spark):
    """On a corpus where one rare term dominates and stopwords are cheap,
    the page must hold only docs carrying the rare term: blocks holding
    only stopword postings bound below θ and are never scored."""
    import datetime

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    # 2,000 docs of stopword filler; 8 docs also carry the rare marker.
    # Rare-doc texts are long (low wtf for filler terms) so the marker's
    # idf dwarfs the stopword bounds.
    rows = []
    for i in range(2000):
        text = "the and of common filler words appear here"
        if i % 250 == 0:
            text = text + " zzrare"
        rows.append((f"r{i // 16:05d}", i % 16, "user", text, "", base))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    idx = build_index(df, block_size=16)
    got = [
        (r["doc_id"], r["score"])
        for r in maxscore_topk(
            idx, "zzrare the and of", 5, small_candidate_limit=0
        ).collect()
    ]
    # ground truth: exactly the 8 marker docs can score above pure-filler
    # docs (idf of filler terms is ~0 at df≈n); top-5 are marker docs
    marker_ids = {i for i in range(2000) if i % 250 == 0}
    assert len(got) == 5
    assert {d for d, _ in got} <= marker_ids
    # and the page equals the naive plan exactly
    eng = QueryEngine(idx)
    naive = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_topk("zzrare the and of", 5).collect()
    ]
    assert got == naive


def test_maxscore_empty_query(built):
    _, idx, _ = built
    assert maxscore_topk(idx, "", 10).collect() == []
