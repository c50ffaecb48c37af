"""MaxScore top-k: runs the block-max WAND core (`tsidx/wand.py`).

Turtle & Flood, "Query evaluation: strategies and optimizations" (IP&M
1995). MaxScore prunes *terms*: sort the query's terms by their global
bound ``UB_t = idf_t · max over blocks of wtf(max_tf, min_dl)``, call the
largest ascending prefix whose bounds sum to < θ − ε **non-essential**, and
score only blocks that hold an essential term's posting.

At any threshold θ, that term rule never prunes a block the block rule of
``wand_topk`` keeps. A block whose postings all belong to non-essential
terms has ``UB = Σ_t idf_t · wtf_block(t) ≤ Σ_{non-essential} UB_t < θ − ε``,
so WAND drops it as well; every block WAND keeps therefore holds an
essential term. ``wand_topk`` prunes each partition with its own running
θ_p (the partition's k-th best exact score, a lower bound on the global
k-th score), and the argument holds for every θ_p: run with the same
θ_p, a MaxScore engine would score a superset of WAND's blocks and pay an
extra per-term bound collect on top of WAND's three Spark jobs per pruned
query. The rare-term + stopwords case is no exception: a stopword-only
block's UB is below θ_p too, so WAND also scores only the rare term's
blocks.

``maxscore_topk`` is therefore the same function as
:func:`tsidx.wand.wand_topk` — same signature
``(index, query, k, small_candidate_limit=200_000)``, same pages
(bit-identical to ``QueryEngine.bm25_topk`` and the oracle). The name
stays for its callers: ``QueryEngine.maxscore_topk``, ``jobs/query_topk.py
--engine maxscore`` and the ``maxscore_topk`` gate entry.
"""

from __future__ import annotations

from tsidx.wand import wand_topk as maxscore_topk

__all__ = ["maxscore_topk"]
