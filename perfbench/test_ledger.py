"""Tests for the event-log ledger (run: python3 -m pytest perfbench).

``testdata/tiny_eventlog.jsonl`` is a trimmed Spark 4.1 event log of a
400-turn session: ``build_index``, ``write``, ``read``, then one head query
through each of the four operators, each call in its own job group
(``<name>#<n>``). Call-site paths were rewritten to ``/checkout/``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import ledger as L  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_eventlog.jsonl")
QUERY = "bomo daba guli pina"  # the head query of the recorded calls
GROUPS = ["build_index#0", "write#1", "read#2", "bm25_topk#3", "wand_topk#4",
          "maxscore_topk#5", "match#6"]


def _ledger():
    return L.Ledger(L.read_event_log(FIXTURE))


def _span(group):
    return L.Span(group.split("#")[0], group, 0.0, 0.0)


def test_every_job_lands_in_a_call():
    led = _ledger()
    seen = set()
    for g in GROUPS:
        jobs = led.jobs_of(_span(g))
        seen.update(j.id for j in jobs)
        assert all(j.end >= j.start for j in jobs)
    assert seen == set(led.jobs)


def test_layers_by_call_site():
    """The fixture's call sites point at ``/checkout/``, which holds no
    sources, so only module-level rules apply to it: what the benchmark
    itself collects is the final layer of each call."""
    led = _ledger()
    build = {j.layer for j in led.jobs_of(_span("build_index#0"))}
    assert {"docids.assign", "build.fused"} <= build
    assert led.jobs_of(_span("write#1"))
    for op in ("bm25_topk#3", "wand_topk#4", "maxscore_topk#5", "match#6"):
        assert led.jobs_of(_span(op))[-1].layer == L.FINAL_LAYER


def test_tasks_and_python_metrics():
    led = _ledger()
    build_tasks = L.tasks_of(led.jobs_of(_span("build_index#0")))
    assert build_tasks and sum(t.run_ms for t in build_tasks) > 0
    assert L.accum(build_tasks, "data sent to Python workers") > 0
    assert L.accum(build_tasks, "time to run Python workers") > 0
    assert sum(t.shuffle_write_bytes for t in build_tasks) > 0
    assert L.task_skew(build_tasks) >= 1.0


def test_scorer_rows_are_candidate_blocks():
    """On the exhaustive path the WAND/MaxScore scorers receive one row per
    posting block of the query's terms: (term, doc_id // 64) pairs."""
    from perfbench.corpus import make_corpus

    corpus = make_corpus(3, 400)
    blocks = {
        (t, i // 64) for i, text in enumerate(corpus.texts) for t in set(text.split())
        if t in QUERY.split()
    }
    led = _ledger()
    for op in ("wand_topk#4", "maxscore_topk#5"):
        assert led.scorer_input_rows(led.jobs_of(_span(op))) == len(blocks)


def test_call_site_less_job_takes_next_layer(tmp_path):
    src = tmp_path / "tsidx" / "wand.py"
    src.parent.mkdir()
    src.write_text("def wand_topk():\n    rows = 1\n    seed_rows = 2\n    seed_top = 3\n")
    events = []
    for jid, (t, site) in enumerate([(1, f"collect at {src}:2"), (2, None),
                                     (3, f"collect at {src}:3"), (4, f"collect at {src}:4"),
                                     (5, "collect at /checkout/perfbench/run.py:9")]):
        props = {"spark.jobGroup.id": "wand_topk#0"}
        if site:
            props["callSite.short"] = site
        events += [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t * 1000,
             "Stage IDs": [], "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t * 1000 + 500},
        ]
    led = L.Ledger(events)
    layers = [j.layer for j in led.jobs_of(_span("wand_topk#0"))]
    assert layers == ["idf_fetch", "bound", "bound", "seed", L.FINAL_LAYER]
    assert L.busy_seconds(led.jobs_of(_span("wand_topk#0"))) == 2.5


def test_idf_fetch_of_exhaustive_ranker(tmp_path):
    src = tmp_path / "tsidx" / "query.py"
    src.parent.mkdir()
    src.write_text("class QueryEngine:\n    def query_idfs(self):\n        rows = (\n"
                   "            1)\n")
    sources = L._SourceIndex()
    assert L.classify(f"collect at {src}:4", sources) == "idf_fetch"
    assert L.classify(f"collect at {src}:1", sources) == L.OTHER_LAYER
    assert L.classify(None, sources) is None


def test_heap_peak_from_task_executor_metrics():
    assert _ledger().heap_peak == 0  # recorded without metric polling
    events = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {},
         "Task Executor Metrics": {"JVMHeapMemory": heap}}
        for heap in (3 << 20, 7 << 20, 5 << 20)
    ]
    assert L.Ledger(events).heap_peak == 7 << 20
