"""Block-max WAND top-k: safe block pruning with a bounded heap.

SURVEY §2.4 N7. The naive plan (`QueryEngine.bm25_topk`) decodes every
posting of every query term, scores, and TakeOrdereds. This engine prunes
whole posting *blocks* using the block-max metadata stored at build time
(`max_wtf` = block max of the BM25 tf/length factor, `tsidx/build.py`):

1. **Upper bounds.** For each candidate ``block_id`` (a docID range),
   ``UB = Σ_t idf_t · wtf(max_tf, min_dl)`` over the query's terms — the
   BM25 tf/length factor is monotone increasing in tf and decreasing in dl,
   so this bounds every doc in the range. Computed JVM-side from metadata
   columns only (no posting bytes touched).
2. **Seed θ.** Exactly score the few highest-UB block groups (enough to
   cover ≥ seed_factor·k candidate postings); θ = the k-th best seed score —
   a valid lower bound on the final k-th score.
3. **Prune + score.** Only blocks with ``UB ≥ θ − ε`` are decoded and scored.
   Scoring runs as ``applyInPandas`` over ``groupBy(block_id)``: because a
   document's postings for *all* terms share its block_id, every doc's score
   is complete within one group, so each group emits only its local top-k
   (bounded min-heap semantics) and the global top-k is the TakeOrdered
   merge of group winners.

Rank identity: per-doc contributions accumulate in sorted-term order into a
float64 dense array — the same IEEE754 op order as the single-node oracle
(`tsidx/oracle.py`) and the naive engine, so scores are bit-identical to
both. Ties break by ascending doc_id. Pruning is safe: skipped groups have
UB < θ ≤ final k-th score, and θ is established from ≥ k fully-scored docs.

At 10^12 docs: block metadata is ~|q| rows per 2^20-doc range; the UB
aggregation shuffles only metadata and *stays a DataFrame* — the driver
never materializes per-block rows. The only collects are bounded: the
seed-block selection (``ORDER BY ub DESC LIMIT seed_factor·k`` — each block
holds ≥ 1 candidate, so that prefix always covers the seed quota) and the
k-row seed top-k. Survivors are selected by a broadcast **semi-join** of
the candidate postings against ``ub_df.filter(ub ≥ θ − ε)``, so pruning
scales past 10^6 blocks with no giant ``isin()`` literal in the plan.
``ε`` absorbs the nondeterministic partial-agg summation order of the UB
doubles (relative slack 1e-9 ≫ ulp error): keeping a few extra borderline
blocks is safe; pruning stays exact because every kept block is scored
exactly.

This is the only top-k pruning engine: ``tsidx.maxscore.maxscore_topk`` is
this function (its module says why MaxScore's term rule adds nothing to the
block rule), and ``wand_topk_batch`` runs the same idf fetch, candidate
join, bound, seed cover and θ − ε floor per query of a batch.
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
        # neither seed θ nor crowd live docs out of a group's k rows
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


def _make_batch_group_scorer(idfs_by_query: dict[str, dict[str, float]],
                             k: int, meta: dict):
    """applyInPandas scorer for (query_id, block_id) groups: resolves the
    group's idf map from the (driver-built, closure-captured) per-query
    dict, then scores exactly like the single-query engine — so every
    (query, doc) score is bit-identical to the per-query plan."""
    params = _bm25_params(meta)

    def score_group(pdf):
        import pandas as pd

        qid = pdf["query_id"].iloc[0]
        doc_ids, scores = _score_block_arrays(pdf, idfs_by_query[qid], k, *params)
        return pd.DataFrame(
            {"query_id": qid, "doc_id": doc_ids, "score": scores}
        )

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


def _seed_cover(ranked, quota: int, query_of=lambda r: None) -> list:
    """Seed blocks: the leading rows of each query's highest-UB-first block
    rows whose candidate counts cover *quota* postings. Every block holds
    >= 1 candidate posting, so a query's first *quota* rows always do."""
    seeds, seen = [], {}
    for r in ranked:
        q = query_of(r)
        if seen.get(q, 0) < quota:
            seeds.append(r)
            seen[q] = seen.get(q, 0) + r["cand_count"]
    return seeds


def _prune_floor(page: list, k: int) -> float:
    """θ − ε for one query's seed page, where θ (the page's k-th best score)
    is a lower bound on the final k-th score; -inf when the seeds filled
    fewer than k rows. ε slack: UB partial-agg summation order is
    nondeterministic, so a degenerate block's UB can land a few ulps below
    a contained doc's exact score; 1e-9 relative slack keeps such blocks
    (safe — they are then scored exactly) without materially weakening
    pruning."""
    if len(page) < k:
        return float("-inf")
    theta = min(r["score"] for r in page)
    return theta - (1e-9 * abs(theta) + 1e-12)


def wand_topk(index: InvertedIndex, query: str | list[str], k: int,
              seed_factor: int = 4, small_candidate_limit: int = 200_000) -> DataFrame:
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
        return spark.createDataFrame([], _SCORE_SCHEMA)
    cand = _candidates(index, idfs)
    scorer = _make_group_scorer(idfs, k, index.meta)
    if total_cand <= small_candidate_limit:
        # fast path: below this size the seed/prune choreography (3 jobs)
        # costs more than exactly scoring every candidate block in one pass
        return (
            cand.groupBy("block_id")
            .applyInPandas(scorer, schema=_SCORE_SCHEMA)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    idf_map = F.create_map(*[F.lit(x) for t in sorted(idfs) for x in (t, idfs[t])])
    # per-block upper bounds — a metadata-only DataFrame (payload columns are
    # pruned from the scan); never collected in full. Eagerly checkpointed:
    # both the seed selection and the survivor filter read it, and the
    # checkpoint (~24 B/block, <= ~10^6 blocks at 10^12 docs) avoids
    # re-scanning the candidate metadata per consumer; blocks are freed by
    # the context cleaner when the frame is garbage-collected.
    ub_df = cand.groupBy("block_id").agg(
        F.sum(idf_map[F.col("term")] * _bound_wtf(index.meta)).alias("ub"),
        F.sum("block_df").alias("cand_count"),
    ).localCheckpoint()
    seed_rows = (
        ub_df.orderBy(F.desc("ub"), F.asc("block_id"))
        .limit(seed_factor * k)
        .collect()
    )
    seed_ids = [r["block_id"] for r in _seed_cover(seed_rows, seed_factor * k)]

    seed_scores = (
        cand.filter(F.col("block_id").isin(seed_ids))
        .groupBy("block_id")
        .applyInPandas(scorer, schema=_SCORE_SCHEMA)
    )
    seed_top = seed_scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    seed_df = spark.createDataFrame(
        [(r["doc_id"], r["score"]) for r in seed_top], _SCORE_SCHEMA
    )
    survivors = ub_df.filter(
        ~F.col("block_id").isin(seed_ids)
        & (F.col("ub") >= F.lit(_prune_floor(seed_top, k)))
    )
    rest = (
        cand.join(F.broadcast(survivors.select("block_id")), "block_id", "semi")
        .groupBy("block_id")
        .applyInPandas(scorer, schema=_SCORE_SCHEMA)
    )
    return (
        seed_df.unionByName(rest)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def wand_topk_batch(
    index: InvertedIndex,
    queries: dict[str, str | list[str]],
    k: int,
    seed_factor: int = 4,
) -> DataFrame:
    """Block-max WAND for a *batch* of queries: per-query top-k
    (query_id, doc_id, score), each page bit-identical to the per-query
    ``wand_topk`` / naive plan.

    One metadata+payload scan covers the union of all queries' terms; the
    per-(query, block) upper bounds are ONE metadata-only aggregation over
    a broadcast (query_id, term) fan-out, and pruning survives as a
    DataFrame join — per-query θ values ride a broadcast |Q|-row table,
    never a literal list. Candidate blocks replicate per query *using*
    them (the fan join), so a block shared by Q queries decodes Q times —
    the price of per-query pruning; the naive batch
    (``QueryEngine.bm25_topk_batch``) decodes once but scores everything,
    so WAND-batch wins when pruning discards most blocks (hot terms,
    small k), naive-batch when queries are selective anyway.

    Driver-side work stays bounded by |Q|·seed_factor·k rows (seed
    selection + seed pages); everything else is DataFrame-shaped exactly
    like the single-query engine.
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
        return spark.createDataFrame([], _BATCH_SCORE_SCHEMA)

    # every fetched term is some query's term, so idf_all's keys are the
    # candidate terms; candidate blocks replicate per query via the fan
    cand = _candidates(index, idf_all)
    fan = spark.createDataFrame(
        [(qid, t) for qid, m in sorted(idfs_by_query.items()) for t in sorted(m)],
        "query_id string, term string",
    )
    cand_q = cand.join(F.broadcast(fan), "term")
    scorer = _make_batch_group_scorer(idfs_by_query, kk, index.meta)

    # per-(query, block) upper bounds — metadata only, payloads pruned
    idf_fan = spark.createDataFrame(
        [
            (qid, t, w)
            for qid, m in sorted(idfs_by_query.items())
            for t, w in sorted(m.items())
        ],
        "query_id string, term string, idf double",
    )
    ub_df = (
        cand.join(F.broadcast(idf_fan), "term")
        .groupBy("query_id", "block_id")
        .agg(
            F.sum(F.col("idf") * _bound_wtf(index.meta)).alias("ub"),
            F.sum("block_df").alias("cand_count"),
        )
        .localCheckpoint()
    )

    # bounded per-query seed selection (|Q| * seed_factor * k rows)
    w_seed = Window.partitionBy("query_id").orderBy(
        F.desc("ub"), F.asc("block_id")
    )
    seed_rows = (
        ub_df.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= seed_factor * kk)
        .collect()
    )
    seed_pairs = [
        (r["query_id"], r["block_id"])
        for r in _seed_cover(
            sorted(seed_rows, key=lambda r: (r["query_id"], r["rn"])),
            seed_factor * kk,
            query_of=lambda r: r["query_id"],
        )
    ]
    seed_pair_df = spark.createDataFrame(
        seed_pairs, "query_id string, block_id long"
    )
    seed_scores = (
        cand_q.join(F.broadcast(seed_pair_df), ["query_id", "block_id"], "semi")
        .groupBy("query_id", "block_id")
        .applyInPandas(scorer, schema=_BATCH_SCORE_SCHEMA)
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    seed_top = (
        seed_scores.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= kk)
        .collect()
    )
    seed_df = spark.createDataFrame(
        [(r["query_id"], r["doc_id"], r["score"]) for r in seed_top],
        _BATCH_SCORE_SCHEMA,
    )
    # per-query pruning floor (-inf for queries whose seeds fell short of k)
    pages = {qid: [] for qid in idfs_by_query}
    for r in seed_top:
        pages[r["query_id"]].append(r)
    floor_df = spark.createDataFrame(
        [(qid, _prune_floor(page, kk)) for qid, page in pages.items()],
        "query_id string, floor double",
    )

    survivors = (
        ub_df.join(F.broadcast(seed_pair_df), ["query_id", "block_id"], "anti")
        .join(F.broadcast(floor_df), "query_id")
        .filter(F.col("ub") >= F.col("floor"))
        .select("query_id", "block_id")
    )
    rest = (
        cand_q.join(F.broadcast(survivors), ["query_id", "block_id"], "semi")
        .groupBy("query_id", "block_id")
        .applyInPandas(scorer, schema=_BATCH_SCORE_SCHEMA)
    )
    return (
        seed_df.unionByName(rest)
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= kk)
        .drop("rn")
    )
