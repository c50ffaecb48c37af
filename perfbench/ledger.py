"""Per-layer ledger from a Spark event log, parsed with the stdlib only.

The benchmark wraps each public tsidx call in a span and gives the call
its own Spark job group. After the session stops, this module reads the
uncompressed JSON-lines event log Spark wrote and attributes every job:

1. to a span by job group (``spark.jobGroup.id``); a job without a group
   goes to the span whose time interval contains its submission;
2. to a layer inside the span by ``callSite.short`` (``collect at
   .../tsidx/wand.py:166``): the tsidx function and the variable the
   triggering statement assigns name the layer (see ``LAYER_RULES``). A job
   Spark records without a call site (``localCheckpoint``) takes the layer
   of the next job of its span, whose input it materialises.

Task metrics come from ``SparkListenerTaskEnd``; Python worker costs come
from the SQL metrics Spark's Arrow runners already emit
(``time to run Python workers``, ``data sent to Python workers``, ...).
The JVM heap's peak comes from the executor metrics Spark adds to each
task's end event when it polls them (``JVMHeapMemory``).
"""

from __future__ import annotations

import ast
import json
import os
import re
import statistics
from dataclasses import dataclass, field

# (tsidx module, enclosing function or None, assigned variable or None) ->
# layer. The first matching rule wins; ``None`` matches anything.
LAYER_RULES: list[tuple[str, str | None, str | None, str]] = [
    ("docids", "check_unique_keys", None, "docids.unique_check"),
    ("docids", None, None, "docids.assign"),
    ("build", None, None, "build.fused"),
    ("query", "query_idfs", None, "idf_fetch"),
    ("wand", None, "rows", "idf_fetch"),
    ("maxscore", None, "rows", "idf_fetch"),
    ("wand", None, "seed_rows", "bound"),
    ("maxscore", None, "term_ub", "bound"),
    ("maxscore", None, "seed_rows", "bound"),
    ("wand", None, "seed_top", "seed"),
    ("maxscore", None, "seed_top", "seed"),
]
# the job the caller's own ``collect()`` runs: the scoring of whatever
# survived pruning (all candidate blocks on the exhaustive path)
FINAL_LAYER = "final"
OTHER_LAYER = "other"

_CALLSITE = re.compile(r" at (?P<path>.+?):(?P<line>\d+)$")


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float
    seconds: float = 0.0  # measured with the monotonic clock


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    spill_bytes: int
    shuffle_write_bytes: int
    input_bytes: int
    accums: dict[str, int]  # SQL metric name -> this task's update


@dataclass
class Job:
    id: int
    group: str | None
    callsite: str | None
    sql_id: int | None
    start: float
    end: float
    stage_ids: list[int]
    tasks: list[Task] = field(default_factory=list)
    layer: str = OTHER_LAYER


def read_event_log(path: str) -> list[dict]:
    """Events of one application from its uncompressed JSON-lines log."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _int(v) -> int:
    return int(float(v)) if isinstance(v, str) else int(v)


class _SourceIndex:
    """Maps ``path:line`` of a tsidx call site to (module, function, target)."""

    def __init__(self):
        self._trees: dict[str, ast.Module | None] = {}

    def locate(self, path: str, line: int) -> tuple[str, str | None, str | None]:
        module = os.path.splitext(os.path.basename(path))[0]
        tree = self._trees.get(path)
        if path not in self._trees:
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                tree = None
            self._trees[path] = tree
        if tree is None:
            return module, None, None
        func, target, best = None, None, -1
        for node in ast.walk(tree):
            lo, hi = getattr(node, "lineno", None), getattr(node, "end_lineno", None)
            if lo is None or not lo <= line <= hi:
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if func is None or node.lineno > func.lineno:
                    func = node
            elif isinstance(node, ast.Assign) and node.lineno > best:
                best = node.lineno
                t = node.targets[0]
                target = t.id if isinstance(t, ast.Name) else None
        return module, (func.name if func else None), target


def classify(callsite: str | None, sources: _SourceIndex) -> str | None:
    """Layer of a job from its call site; None when Spark recorded none."""
    if not callsite:
        return None
    m = _CALLSITE.search(callsite)
    if not m or "/tsidx/" not in m["path"].replace(os.sep, "/"):
        return FINAL_LAYER
    module, func, target = sources.locate(m["path"], int(m["line"]))
    for r_mod, r_func, r_target, layer in LAYER_RULES:
        if r_mod == module and r_func in (None, func) and r_target in (None, target):
            return layer
    return OTHER_LAYER


class Ledger:
    """Jobs, tasks and SQL plans of one Spark application."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, Job] = {}
        self.plans: dict[int, dict] = {}  # sql execution id -> latest plan
        self.accum_totals: dict[int, int] = {}
        self.heap_peak = 0  # bytes; 0 unless Spark polled executor metrics
        stage_job: dict[int, int] = {}
        running: list[int] = []
        sources = _SourceIndex()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                job = Job(
                    id=e["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    callsite=props.get("callSite.short"),
                    sql_id=int(sql_id) if sql_id is not None else None,
                    start=e["Submission Time"] / 1000.0,
                    end=e["Submission Time"] / 1000.0,
                    stage_ids=list(e.get("Stage IDs", [])),
                )
                self.jobs[job.id] = job
                running.append(job.id)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
                if e["Job ID"] in running:
                    running.remove(e["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                for jid in reversed(running):
                    if sid in self.jobs[jid].stage_ids:
                        stage_job[sid] = jid
                        break
            elif kind == "SparkListenerTaskEnd":
                self._add_task(e, stage_job)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]
        for job in self.jobs.values():
            job.layer = classify(job.callsite, sources) or ""

    def _add_task(self, e: dict, stage_job: dict[int, int]) -> None:
        metrics = e.get("Task Metrics") or {}
        heap = (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
        self.heap_peak = max(self.heap_peak, heap)
        accums: dict[str, int] = {}
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if "Update" not in a:
                continue
            value = _int(a["Update"])
            self.accum_totals[a["ID"]] = self.accum_totals.get(a["ID"], 0) + value
            if a.get("Metadata") == "sql":
                accums[a["Name"]] = accums.get(a["Name"], 0) + value
        task = Task(
            stage=e["Stage ID"],
            run_ms=metrics.get("Executor Run Time", 0),
            gc_ms=metrics.get("JVM GC Time", 0),
            spill_bytes=metrics.get("Disk Bytes Spilled", 0),
            shuffle_write_bytes=(metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ),
            input_bytes=(metrics.get("Input Metrics") or {}).get("Bytes Read", 0),
            accums=accums,
        )
        jid = stage_job.get(task.stage)
        if jid is not None:
            self.jobs[jid].tasks.append(task)

    # ---------------------------------------------------------- attribution

    def jobs_of(self, span: Span) -> list[Job]:
        """Jobs of *span*, in submission order, with call-site-less jobs
        given the layer of the next job of the span."""
        jobs = sorted(
            (
                j
                for j in self.jobs.values()
                if j.group == span.group
                or (j.group is None and span.start <= j.start <= span.end)
            ),
            key=lambda j: (j.start, j.id),
        )
        following = FINAL_LAYER
        for j in reversed(jobs):
            if not j.layer:
                j.layer = following
            following = j.layer
        return jobs

    def scorer_input_rows(self, jobs: list[Job]) -> int:
        """Rows the jobs' plans shuffled into a grouped pandas scorer
        (``FlatMapGroupsInPandas``): posting blocks sent to be scored."""
        total = 0
        for sql_id in {j.sql_id for j in jobs if j.sql_id is not None}:
            plan = self.plans.get(sql_id)
            if plan is not None:
                total += self._scorer_rows(plan, inside=False)
        return total

    def _scorer_rows(self, node: dict, inside: bool) -> int:
        name = node.get("nodeName", "")
        if inside:
            for m in node.get("metrics", []):
                if m["name"] == "shuffle records written":
                    return self.accum_totals.get(m["accumulatorId"], 0)
        inside = inside or name.startswith("FlatMapGroupsInPandas")
        return sum(self._scorer_rows(c, inside) for c in node.get("children", []))


# ------------------------------------------------------------- aggregation


def busy_seconds(jobs: list[Job]) -> float:
    """Length of the union of the jobs' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((j.start, j.end) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tasks_of(jobs: list[Job]) -> list[Task]:
    return [t for j in jobs for t in j.tasks]


def accum(tasks: list[Task], name: str) -> int:
    return sum(t.accums.get(name, 0) for t in tasks)


def task_skew(tasks: list[Task]) -> float:
    """max / median executor run time over the stage of *tasks* that ran
    longest in total (the stage that sets the phase's critical path)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else 0.0
