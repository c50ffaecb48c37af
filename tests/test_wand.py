"""Block-max WAND rank-identity tests: WAND vs naive plan vs oracle, on a
seeded generated corpus and on the reference sonnets (skipped when the
reference is absent)."""

from __future__ import annotations

import pytest

from tsidx.build import build_index
from tsidx.oracle import OracleIndex
from tsidx.query import QueryEngine
from tsidx.wand import wand_topk

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
        "the and of",  # hot terms — every block is a candidate
        "nonexistentterm",
        "sonnet",  # df == n_docs
    ],
}
NAIVE_QUERIES = {
    "generated": ["harbor lantern glacier", "zzrare the and of"],
    "sonnets": ["fire heat", "love beauty time"],
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
def test_wand_rank_identical_to_oracle(built, query, k, limit):
    _, idx, oracle = built
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(idx, query, k, small_candidate_limit=limit).collect()
    ]
    want = oracle.bm25_topk(query, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == s2, (query, d1, s1, s2)  # bit-identical


@pytest.mark.parametrize(
    "built,query", cases(NAIVE_QUERIES), indirect=["built"], scope="module"
)
def test_wand_matches_naive_plan(built, query):
    _, idx, _ = built
    eng = QueryEngine(idx)
    naive = [(r["doc_id"], r["score"]) for r in eng.bm25_topk(query, 25).collect()]
    wand = [(r["doc_id"], r["score"]) for r in wand_topk(idx, query, 25).collect()]
    assert naive == wand


def test_wand_array_codec(spark, sonnets_transcripts, sonnets):
    idx = build_index(sonnets_transcripts, block_size=32, codec="array")
    oracle = OracleIndex()
    oracle.add_corpus(sonnets)
    got = [(r["doc_id"], r["score"]) for r in wand_topk(idx, "fire heat", 10).collect()]
    assert got == oracle.bm25_topk("fire heat", 10)


def test_wand_no_driver_scale_collect(spark, generated, monkeypatch):
    """Pruning must stay a DataFrame plan: with >= 10^4 posting blocks, no
    single driver collect during wand_topk may return more than O(k) rows
    (regression: per-block metadata collect + giant isin() survivor
    literal)."""
    import datetime

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    texts = [t for rep in range(31) for t in generated]  # 12,400 docs
    rows = [
        (f"r{i // 16:05d}", i % 16, "user", t, "", base)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(16)
    idx = build_index(df, block_size=1)  # one doc per block -> 12,400 blocks
    n_blocks = idx.postings.select("block_id").distinct().count()
    assert n_blocks >= 10_000

    k = 10
    collected_sizes = []
    df_cls = type(idx.postings)  # the concrete (classic) DataFrame class
    real_collect = df_cls.collect

    def spy_collect(self):
        out = real_collect(self)
        collected_sizes.append(len(out))
        return out

    monkeypatch.setattr(df_cls, "collect", spy_collect)
    got = [
        (r["doc_id"], r["score"])
        for r in real_collect(
            wand_topk(idx, "harbor lantern", k, small_candidate_limit=0)
        )
    ]
    monkeypatch.undo()
    assert collected_sizes, "expected bounded driver collects"
    cap = max(4 * k, 64)  # the idf rows and the k-row page
    assert max(collected_sizes) <= cap, collected_sizes

    oracle = OracleIndex()
    oracle.add_corpus(texts)
    assert got == oracle.bm25_topk("harbor lantern", k)


def test_wand_tie_break_with_duplicate_docs(spark, generated):
    """Replicated corpus -> exact score ties; tie-break must be ascending
    doc_id (regression: argpartition picked arbitrary tied docs)."""
    import datetime

    from tsidx.oracle import OracleIndex

    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    texts = [t for rep in range(4) for t in generated[:40]]
    rows = [
        (f"r{i // 10:04d}", i % 10, "user", t, "", base)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    idx = build_index(df, block_size=32)
    oracle = OracleIndex()
    oracle.add_corpus(texts)
    for q in ["harbor lantern", "ember meadow signal", "the and of", "turn"]:
        for k in (3, 10, 50):
            got = [
                (r["doc_id"], r["score"]) for r in wand_topk(idx, q, k).collect()
            ]
            assert got == oracle.bm25_topk(q, k), (q, k)


SPLIT_QUERIES = ["ember", "harbor lantern glacier", "the and of", "zzrare the and of", "turn"]


@pytest.fixture
def split_batches(spark):
    """Uncoalesced shuffle partitions and 3-row Arrow batches: a block's
    rows straddle batches and each partition prunes with its own θ."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    }
    saved = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    yield
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("tombstones", [False, True], ids=["live", "tombstones"])
def test_pruning_pass_split_batches(spark, generated, generated_transcripts,
                                    split_batches, tombstones):
    """wand_topk, maxscore_topk and wand_topk_batch pages equal the oracle
    when blocks spread over many partitions and straddle Arrow batches."""
    from tsidx.deletes import delete_docs
    from tsidx.maxscore import maxscore_topk
    from tsidx.wand import wand_topk_batch

    idx = build_index(generated_transcripts, block_size=16)
    oracle = OracleIndex()
    oracle.add_corpus(generated)
    deleted = set()
    if tombstones:  # the head of every query's page
        deleted = {d for q in SPLIT_QUERIES for d, _ in oracle.bm25_topk(q, 2)}
        idx = delete_docs(idx, sorted(deleted))
    batch = {f"q{i}": q for i, q in enumerate(SPLIT_QUERIES)}
    for k in (1, 10, 50):
        pages = {}
        for r in wand_topk_batch(idx, batch, k).collect():
            pages.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            want = [
                p for p in oracle.bm25_topk(q, k + len(deleted)) if p[0] not in deleted
            ][:k]
            for ranker in (wand_topk, maxscore_topk):
                got = [
                    (r["doc_id"], r["score"])
                    for r in ranker(idx, q, k, small_candidate_limit=0).collect()
                ]
                assert got == want, (ranker.__name__, q, k)
            assert sorted(pages[qid], key=lambda t: (-t[1], t[0])) == want, (qid, k)


def test_wand_job_count(spark, generated_transcripts, tmp_path):
    """A pruned query launches at most three Spark jobs (idf fetch, the
    candidates' shuffle, scoring + merge) on an index read from disk; a
    k=0 call launches none, and an unknown term costs only its lookup."""
    from tsidx.index import InvertedIndex

    build_index(generated_transcripts, block_size=16).write(str(tmp_path / "idx"))
    idx = InvertedIndex.read(spark, str(tmp_path / "idx"))
    sc = spark.sparkContext
    wand_topk(idx, "the and of", 10, small_candidate_limit=0).collect()  # warm-up

    def jobs(group, query, k):
        sc.setJobGroup(group, group)
        try:
            wand_topk(idx, query, k, small_candidate_limit=0).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("wand-pruned", "the and of", 10) <= 3
    assert jobs("wand-k0", "the and of", 0) == 0
    assert jobs("wand-unknown", "nonexistentterm", 10) <= 1


# per corpus: a batch whose "q_unknown" query has no indexed term; a hot
# (df == n_docs) and a cold query; a tombstone case (batch, deleted docs)
BATCHES = {
    "generated": {
        "q_ember": "ember",
        "q_hlg": "harbor lantern glacier",
        "q_rare": "zzrare the and of",
        "q_hot": "the and of",
        "q_unknown": "zzzunknown",
    },
    "sonnets": {
        "q_same": "same",
        "q_tq": "thrall quench",
        "q_fh": "fire heat",
        "q_lf": "love fire",
        "q_unknown": "zzzunknown",
    },
}
HOT_COLD = {
    "generated": {"hot": "turn", "cold": "zzrare"},  # df=400 vs df=5
    "sonnets": {"hot": "sonnet", "cold": "thrall"},  # df=154 vs tiny df
}
TOMBSTONES = {
    "generated": ({"a": "zzrare", "b": "harbor lantern glacier"}, [294, 3, 237, 178]),
    "sonnets": ({"a": "same", "b": "fire heat"}, [4, 49, 11, 44]),
}


class TestWandBatch:
    """wand_topk_batch pages must be bit-identical to per-query wand/naive."""

    def test_batch_pages_bit_identical(self, built):
        from tsidx.wand import wand_topk_batch

        corpus, idx, oracle = built
        batch = BATCHES[corpus]
        k = 10
        got = {}
        for r in wand_topk_batch(idx, batch, k).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        assert "q_unknown" not in got
        for qid, q in batch.items():
            if qid == "q_unknown":
                continue
            want = oracle.bm25_topk(q, k)
            rows = sorted(got[qid], key=lambda t: (-t[1], t[0]))
            assert rows == [(d, s) for d, s in want], qid

    def test_batch_k1_and_hot_query(self, built):
        from tsidx.wand import wand_topk_batch

        corpus, idx, oracle = built
        batch = HOT_COLD[corpus]
        for k in (0, 1, 3):
            got = {}
            for r in wand_topk_batch(idx, batch, k).collect():
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"])
                )
            for qid, q in batch.items():
                rows = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
                assert rows == oracle.bm25_topk(q, k), (qid, k)

    def test_batch_with_tombstones(self, built):
        from tsidx.deletes import delete_docs
        from tsidx.wand import wand_topk, wand_topk_batch

        corpus, idx, _oracle = built
        batch, deleted = TOMBSTONES[corpus]
        idx2 = delete_docs(idx, deleted)
        got = {}
        for r in wand_topk_batch(idx2, batch, 5).collect():
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            want = [
                (r["doc_id"], r["score"])
                for r in wand_topk(idx2, q, 5, small_candidate_limit=0).collect()
            ]
            rows = sorted(got.get(qid, []), key=lambda t: (-t[1], t[0]))
            assert rows == want, qid
            assert not ({d for d, _ in rows} & set(deleted))
