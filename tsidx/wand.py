"""Block-max WAND top-k: safe block pruning inside one scoring pass.

SURVEY §2.4 N7. The naive plan (`QueryEngine.bm25_topk`) decodes every
posting of every query term, scores, and TakeOrdereds. This engine skips
whole posting *blocks* using the block-max metadata stored at build time
(``max_tf``/``min_dl`` per term block, `tsidx/build.py`):

1. **Upper bounds.** Every candidate posting row gets its block's
   ``UB = Σ_t idf_t · wtf(max_tf, min_dl)`` over the query's terms — the
   BM25 tf/length factor rises with tf and falls with dl, so UB bounds
   every doc of the block (a docID range). It is a window sum over
   ``partitionBy(block_id)`` on metadata columns; the window's exchange
   also puts every row of a block in one partition.
2. **One pass.** Each partition is sorted by (UB desc, block_id) and fed
   to a ``mapInPandas`` scorer. It visits the blocks in that order, scores
   each exactly and keeps a running top-k whose k-th score is θ_p. At the
   first block with ``UB < θ_p − ε`` it stops decoding: every later block
   of the partition has a UB no larger. The remaining Arrow batches are
   drained undecoded.
3. **Merge.** The partitions' pages meet in
   ``orderBy(-score, doc_id).limit(k)``.

Pruning is exact. θ_p is the k-th best score of k exactly scored live
docs, so it is a lower bound on the global k-th score; a skipped block's
UB is below it, so none of its docs can enter the global page, ties
included. ``ε`` (relative 1e-9) absorbs the nondeterministic summation
order of the UB doubles: keeping a borderline block is safe, it is scored
exactly. A partition-local θ_p is never above the global θ, so spreading
blocks over more partitions only scores more blocks, never different
answers.

Rank identity: per-doc contributions accumulate in sorted-term order into a
float64 dense array — the same IEEE754 op order as the single-node oracle
(`tsidx/oracle.py`) and the naive engine, so scores are bit-identical to
both. Ties break by ascending doc_id.

A pruned query costs three Spark jobs: the |q|-row idf fetch, the
candidates' shuffle and the scoring + merge stage. The driver collects
only the idf rows and the k-row page; per-block rows never leave the
executors, so the plan scales past 10^6 blocks. Below
``small_candidate_limit`` candidate postings the bound column and the sort
cost more than they save, and every candidate block is scored by a
grouped scorer instead.

This is the only top-k pruning engine: ``tsidx.maxscore.maxscore_topk`` is
``wand_topk`` (its module says why MaxScore's term rule adds nothing to the
block rule), and ``wand_topk_batch`` runs the same pass keyed by
(query_id, block_id) with one running top-k per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsidx.index import InvertedIndex
from tsidx.oracle import bm25_idf

__all__ = ["wand_topk", "wand_topk_batch"]

_SCORE_SCHEMA = "doc_id long, score double"
_BATCH_SCORE_SCHEMA = "query_id string, doc_id long, score double"


def _score_block_arrays(pdf, idfs: dict[str, float], k: int, k1: float,
                        b: float, avgdl: float, block_size: int, codec: str):
    """Core block scorer: one pandas group (one block's term rows for one
    query) -> (doc_id int64 array, score float64 array), local top-k,
    deterministic (-score, doc_id) order. Shared by the single-query and
    batched WAND engines."""
    import numpy as np

    from tsidx.compress import decode_posting_block

    base = int(pdf["block_id"].iloc[0]) * block_size
    dense = np.zeros(block_size, dtype=np.float64)
    touched = np.zeros(block_size, dtype=bool)
    rows_by_term = {t: i for i, t in zip(pdf.index, pdf["term"])}
    for term in sorted(idfs):  # canonical accumulation order
        i = rows_by_term.get(term)
        if i is None:
            continue
        if codec == "varbyte":
            doc_ids, tfs, dls = decode_posting_block(
                bytes(pdf["doc_gaps"][i]), bytes(pdf["tfs"][i]), bytes(pdf["dls"][i])
            )
            tf = tfs.astype(np.float64)
            dl = dls.astype(np.float64)
            off = (doc_ids - np.uint64(base)).astype(np.int64)
        else:
            plist = pdf["plist"][i]
            off = np.fromiter((p["doc_id"] for p in plist), dtype=np.int64) - base
            tf = np.fromiter((p["tf"] for p in plist), dtype=np.float64)
            dl = np.fromiter((p["dl"] for p in plist), dtype=np.float64)
        # identical op order to oracle.bm25_contributions
        contrib = idfs[term] * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl)))
        dense[off] += contrib
        touched[off] = True
    if "_dead" in pdf.columns:
        # tombstoned docs are masked BEFORE the local top-k: they must
        # neither raise θ nor crowd live docs out of a block's k rows
        dead = pdf["_dead"].iloc[0]
        if dead is not None and len(dead):
            doff = np.asarray(dead, dtype=np.int64) - base
            doff = doff[(doff >= 0) & (doff < block_size)]
            touched[doff] = False
    idx = np.nonzero(touched)[0]
    scores = dense[idx]
    if len(idx) > k:
        # local bounded top-k. argpartition alone is tie-UNSAFE: docs tied
        # at the k-th score would be picked arbitrarily, breaking the
        # deterministic (-score, doc_id) order. Select everything >= the
        # k-th score, then refine by the exact order.
        kth = -np.partition(-scores, k - 1)[k - 1]
        cand = np.nonzero(scores >= kth)[0]
        order = np.lexsort((idx[cand], -scores[cand]))[:k]
        sel = cand[order]
    else:
        sel = np.lexsort((idx, -scores))
    return (idx[sel] + base).astype("int64"), scores[sel]


def _bm25_params(meta: dict) -> tuple[float, float, float, int, str]:
    """(k1, b, avgdl, block_size, codec) of an index's meta."""
    return (float(meta["k1"]), float(meta["b"]), float(meta["avgdl"]),
            int(meta["block_size"]), meta["codec"])


def _make_group_scorer(idfs: dict[str, float], k: int, meta: dict):
    """applyInPandas scorer: one group = one block_id's term blocks."""
    params = _bm25_params(meta)

    def score_group(pdf):
        import pandas as pd

        doc_ids, scores = _score_block_arrays(pdf, idfs, k, *params)
        return pd.DataFrame({"doc_id": doc_ids, "score": scores})

    return score_group


def _fetch_idfs(index: InvertedIndex, terms: list[str],
                k: int) -> tuple[dict[str, float], int]:
    """idf of every indexed term of *terms*, and their candidate-posting
    count Σ df, from one |terms|-row collect. Empty when there is nothing
    to rank (no terms, or k <= 0): the empty page needs no job."""
    if not terms or k <= 0:
        return {}, 0
    n = index.meta["n_docs"]
    rows = index.terms.filter(F.col("term").isin(terms)).collect()
    return {r["term"]: bm25_idf(n, r["df"]) for r in rows}, sum(r["df"] for r in rows)


def _candidates(index: InvertedIndex, terms) -> DataFrame:
    """Posting blocks of *terms*. With tombstones, each block carries its
    deleted doc ids (``_dead``); the scorer masks them before its local
    top-k. UBs stay valid upper bounds (removing docs only lowers block
    scores)."""
    cand = index.postings.filter(F.col("term").isin(sorted(terms)))
    if index.tombstones is None:
        return cand
    block_size = int(index.meta["block_size"])
    dead_by_block = (
        index.tombstones.select(
            "doc_id", F.expr(f"doc_id DIV {block_size}").alias("block_id")
        )
        .groupBy("block_id")
        .agg(F.collect_list("doc_id").alias("_dead"))
    )
    return cand.join(dead_by_block, "block_id", "left")


def _bound_wtf(meta: dict):
    """The BM25 tf/length factor at a block's (max_tf, min_dl): it rises
    with tf and falls with dl, so it bounds every posting in the block."""
    k1, b, avgdl, _, _ = _bm25_params(meta)
    max_tf = F.col("max_tf").cast("double")
    min_dl = F.col("min_dl").cast("double")
    return (max_tf * F.lit(k1 + 1.0)) / (
        max_tf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * min_dl) / F.lit(avgdl))
    )


def _block_runs(batches, keys: tuple[str, ...]):
    """(frame, start, stop) row runs sharing *keys*, in input order, over
    a partition's pandas batches. A run may straddle Arrow batches, so each
    batch's last run is carried over into the next batch."""
    import numpy as np
    import pandas as pd

    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        change = np.zeros(len(pdf), dtype=bool)
        for c in keys:
            v = pdf[c].to_numpy()
            change[1:] |= v[1:] != v[:-1]
        bounds = [0, *np.flatnonzero(change).tolist(), len(pdf)]
        for lo, hi in zip(bounds[:-2], bounds[1:-1]):
            yield pdf, lo, hi
        carry = pdf.iloc[bounds[-2]:]
    if carry is not None:
        yield carry, 0, len(carry)


def _make_pass_scorer(idfs_of, k: int, meta: dict, keys: tuple[str, ...]):
    """mapInPandas scorer of the pruning pass. The partition arrives sorted
    by (*keys[:-1], _ub desc, block_id), so each query's blocks come in
    falling-UB order. Keeps an exact running top-k per query (``idfs_of``
    maps a query_id — None for a single query — to its idf map) and skips,
    undecoded, every block from the first one whose UB is below its
    query's θ − ε."""
    params = _bm25_params(meta)
    query_col = keys[0] if len(keys) > 1 else None

    def score_partition(batches):
        import numpy as np
        import pandas as pd

        pages = {}  # query -> (doc_ids, scores) in (-score, doc_id) order
        done = set()
        for pdf, lo, hi in _block_runs(batches, keys):
            q = pdf[query_col].iat[lo] if query_col else None
            if q in done:
                continue
            ids, scores = pages.get(q, (np.empty(0, np.int64), np.empty(0)))
            if len(scores) == k and pdf["_ub"].iat[lo] < _prune_floor(scores[-1]):
                done.add(q)
                continue
            d, s = _score_block_arrays(pdf.iloc[lo:hi], idfs_of(q), k, *params)
            ids, scores = np.concatenate([ids, d]), np.concatenate([scores, s])
            top = np.lexsort((ids, -scores))[:k]
            pages[q] = ids[top], scores[top]
        for q, (ids, scores) in pages.items():
            if len(ids):
                head = {query_col: q} if query_col else {}
                yield pd.DataFrame({**head, "doc_id": ids, "score": scores})

    return score_partition


def _one_pass(cand: DataFrame, idf, keys: tuple[str, ...], idfs_of, k: int,
              meta: dict, schema: str) -> DataFrame:
    """Per-(*keys) upper bounds as a window sum — its exchange colocates
    each block — then every partition through the pass scorer in
    falling-UB order. *idf* is the candidate row's idf column."""
    ub = F.sum(idf * _bound_wtf(meta)).over(Window.partitionBy(*keys))
    return (
        cand.withColumn("_ub", ub)
        .sortWithinPartitions(*keys[:-1], F.desc("_ub"), keys[-1])
        .mapInPandas(_make_pass_scorer(idfs_of, k, meta, keys), schema=schema)
    )


def _empty_page(spark, schema: str) -> DataFrame:
    """An empty result; ``limit(0)`` plans it as an empty local relation,
    so collecting it launches no Spark job."""
    return spark.createDataFrame([], schema).limit(0)


def _prune_floor(theta: float) -> float:
    """θ − ε for a running k-th best score θ. ε slack: the UB window sum
    adds in shuffle order, which is nondeterministic, so a block's UB can
    land a few ulps below a contained doc's exact score; 1e-9 relative
    slack keeps such blocks (safe — they are then scored exactly) without
    materially weakening pruning."""
    return theta - (1e-9 * abs(theta) + 1e-12)


def wand_topk(index: InvertedIndex, query: str | list[str], k: int,
              small_candidate_limit: int = 200_000) -> DataFrame:
    """Deterministic BM25 top-k with block-max pruning; returns
    (doc_id, score) ordered by (-score, doc_id), bit-identical to the
    oracle and to ``QueryEngine.bm25_topk``."""
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    ensure_shipped(spark)
    # total candidate postings = Σ df over the query terms — comes with the
    # (|q|-row) idf fetch; no extra job
    idfs, total_cand = _fetch_idfs(index, query_terms(query), k)
    if not idfs:
        return _empty_page(spark, _SCORE_SCHEMA)
    cand = _candidates(index, idfs)
    if total_cand <= small_candidate_limit:
        # fast path: below this size the bound window and sort cost more
        # than exactly scoring every candidate block in one grouped pass
        scored = cand.groupBy("block_id").applyInPandas(
            _make_group_scorer(idfs, k, index.meta), schema=_SCORE_SCHEMA
        )
    else:
        idf_map = F.create_map(*[F.lit(x) for t in sorted(idfs) for x in (t, idfs[t])])
        scored = _one_pass(cand, idf_map[F.col("term")], ("block_id",),
                           lambda _q: idfs, k, index.meta, _SCORE_SCHEMA)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wand_topk_batch(
    index: InvertedIndex,
    queries: dict[str, str | list[str]],
    k: int,
) -> DataFrame:
    """Block-max WAND for a *batch* of queries: per-query top-k
    (query_id, doc_id, score), each page bit-identical to the per-query
    ``wand_topk`` / naive plan.

    One scan covers the union of all queries' terms; a broadcast
    (query_id, term, idf) fan-out replicates each candidate block per query
    *using* it, and the pruning pass runs keyed by (query_id, block_id)
    with one running top-k per query. A block shared by Q queries decodes
    up to Q times — the price of per-query pruning; the naive batch
    (``QueryEngine.bm25_topk_batch``) decodes once but scores everything,
    so WAND-batch wins when pruning discards most blocks (hot terms, small
    k), naive-batch when queries are selective anyway. The driver collects
    only the idf rows.
    """
    from tsidx.ship import ensure_shipped
    from tsidx.tokenize import query_terms

    spark = index.docs.sparkSession
    ensure_shipped(spark)
    kk = int(k)
    per_q = {qid: query_terms(q) for qid, q in queries.items()}
    idf_all, _ = _fetch_idfs(
        index, sorted({t for ts in per_q.values() for t in ts}), kk
    )
    idfs_by_query = {
        qid: {t: idf_all[t] for t in ts if t in idf_all}
        for qid, ts in per_q.items()
    }
    idfs_by_query = {qid: m for qid, m in idfs_by_query.items() if m}
    if not idfs_by_query:
        return _empty_page(spark, _BATCH_SCORE_SCHEMA)

    # every fetched term is some query's term, so idf_all's keys are the
    # candidate terms
    idf_fan = spark.createDataFrame(
        [
            (qid, t, w)
            for qid, m in sorted(idfs_by_query.items())
            for t, w in sorted(m.items())
        ],
        "query_id string, term string, idf double",
    )
    cand_q = _candidates(index, idf_all).join(F.broadcast(idf_fan), "term")
    scored = _one_pass(cand_q, F.col("idf"), ("query_id", "block_id"),
                       idfs_by_query.__getitem__, kk, index.meta,
                       _BATCH_SCORE_SCHEMA)
    w_q = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= kk)
        .drop("rn")
    )
