"""tsidx benchmark: build throughput and per-ranker top-k latency.

Usage (from the repository root)::

    python3 perfbench/run.py --workload topk_head --seed 1 --seconds 12 --trace 0

One run, single process, one client, closed loop, on ``local[nproc]``:

1. record the host canary (``bench.host_canary``) and generate the seeded
   Zipf transcript table (``perfbench/corpus.py``) as a parquet input;
2. start a Spark session and build the index from the input with
   ``build_index`` and ``InvertedIndex.write``;
3. set up: ``InvertedIndex.read`` plus one untimed warm-up call per
   operator, the session's first call of each (``setup_s`` is this plus
   the session start);
4. for ``--seconds``, issue queries from the workload's pool, each to all
   four operators (``bm25_topk``, ``wand_topk``, ``maxscore_topk`` with
   k=10, and ``match``), timing every call;
5. check every answer against ``tsidx.OracleIndex`` and the index
   statistics against the oracle's.

Workloads differ only in the query pool: ``topk_head`` draws its terms from
df ranks 1-100 and keeps only queries with more candidate postings than
``PRUNE_LIMIT``, so WAND and MaxScore take their pruning path;
``topk_tail`` draws from ranks 3,000-30,000, far below that limit.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it holds the details behind the
metrics (host canary, sample counts, per-run setup times). With
``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1`` the
run first repeats itself untraced in a child process, then measures again
with Spark's event log on, and reports the per-layer ledger
(``perfbench/ledger.py``) plus ``trace_overhead``.

Every file a run writes (its input, the index, Spark's scratch space and
event log, temporary files of the JVM and of Python) goes under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench.ledger import Span  # noqa: E402

N_TURNS = 8_192
# 16 docID blocks, as a 1M-turn index has at jobs/build_index.py's default
# block size of 65,536
BLOCK_SIZE = N_TURNS // 16
# the rankers' exhaustive-path limit (small_candidate_limit, 200,000
# candidate postings, sized for ~1M-turn indexes) scaled to this corpus
PRUNE_LIMIT = 200_000 * N_TURNS // 1_000_000
K = 10
POOL_QUERIES = 24  # distinct timed queries per run, cycled in order
OPS = ("bm25_topk", "wand_topk", "maxscore_topk", "match")
WORKLOADS = {"topk_head": "head", "topk_tail": "tail"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_checkout() -> None:
    """Fail fast unless the benchmark sits in a checkout with the tsidx sources."""
    if not os.path.isfile(os.path.join(ROOT, "tsidx", "__init__.py")):
        sys.exit(f"perfbench: no tsidx/ package under {ROOT}")


# ------------------------------------------------------------------ host


def driver_memory() -> str:
    """An eighth of the host's RAM from /proc/meminfo, capped at 1 GiB; the
    benchmark's index fits in it many times over."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(512, min(kib // 8 // 1024, 1024))}m"


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _pss_kib(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return None


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of *root_pid* and all its descendants: pages
    that forked Python workers share with their daemon count once. A child
    that still shares its parent's address space (the JVM spawns shell
    commands through ``vfork``) reads the parent's PSS, within what the
    parent allocated between the two reads, and is not counted again."""
    total, stack = 0, [(root_pid, None)]
    while stack:
        pid, parent_pss = stack.pop()
        pss = _pss_kib(pid)
        if pss is None:
            continue
        if parent_pss is None or abs(pss - parent_pss) > parent_pss // 100:
            total += pss * 1024
        stack.extend((c, pss) for c in _children(pid))
    return total


class PeakMemory:
    """Samples the process tree's memory every 250 ms on a background thread.
    A sample costs ~15 ms of CPU, with the GIL held, for a JVM with a 1 GiB
    heap; sampling more often slows and jitters the measured calls."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(0.25):
            self.peak = max(self.peak, tree_pss_bytes(pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ spans


class Spans:
    """Benchmark-side spans: each wraps one public tsidx call and gives its
    Spark jobs a job group of their own."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[Span] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        span = Span(name, f"{name}#{len(self.records)}", time.time(), 0.0)
        self.sc.setJobGroup(span.group, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.seconds = time.perf_counter() - t0
            span.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(span)


# ------------------------------------------------------------------ spark


def make_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("tsidx-perfbench")
        .config("spark.driver.memory", driver_memory())
        # a heap resident from the start: the JVM's footprint then does not
        # depend on when it collects, and peak memory varies with what the
        # Python workers and off-heap buffers allocate; growth of the heap's
        # live data shows in the traced run's jvm_heap_peak_mb instead
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_memory()} -XX:+AlwaysPreTouch")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        # Spark 4 compresses event logs with zstd by default, which the
        # Python 3.11 stdlib cannot read, and rolls them into a directory;
        # one plain JSON-lines file instead. Polling executor metrics puts
        # the JVM heap's peak into each task's end event.
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.executor.metrics.pollingInterval", "200ms")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ steps


def write_input(corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*corpus.rows))
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path)
    parts = 4
    step = -(-len(table) // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run_op(qe, op: str, query: str):
    """One operator call. WAND and MaxScore are called through the functions
    ``QueryEngine`` delegates to, with the exhaustive-path limit scaled to
    the corpus (``PRUNE_LIMIT``)."""
    if op == "match":
        df = qe.match(query)
    elif op == "bm25_topk":
        df = qe.bm25_topk(query, K)
    else:
        from tsidx.maxscore import maxscore_topk
        from tsidx.wand import wand_topk

        ranker = wand_topk if op == "wand_topk" else maxscore_topk
        df = ranker(qe.index, query, K, small_candidate_limit=PRUNE_LIMIT)
    rows = df.collect()
    if op == "match":
        return [r["doc_id"] for r in rows]
    return [(r["doc_id"], r["score"]) for r in rows]


def measure(args, work: str, trace: bool) -> dict:
    """One complete benchmark pass; returns everything the reports need."""
    import bench  # host_canary lives in the repository's bench.py

    from perfbench.corpus import make_corpus, query_pool

    cores = os.cpu_count() or 1
    canary = bench.host_canary(cores)
    corpus = make_corpus(args.seed, N_TURNS)
    band = WORKLOADS[args.workload]
    min_postings = PRUNE_LIMIT if band == "head" else 0
    warmup, *pool = query_pool(corpus, band, POOL_QUERIES + 1, args.seed, min_postings)
    input_path = os.path.join(work, "input")
    index_path = os.path.join(work, "index")
    write_input(corpus, input_path)

    out: dict = {"canary": canary, "cores": cores, "pool": pool}
    with PeakMemory() as mem:
        t0 = time.perf_counter()
        spark = make_session(work, cores, trace)
        out["session_start_s"] = time.perf_counter() - t0
        spans = Spans(spark.sparkContext)
        try:
            out.update(_build(spark, spans, input_path, index_path))
            out.update(_serve(spark, spans, args, warmup, pool, index_path))
        finally:
            stop_session(spark)
    out["spans"] = spans.records
    out["peak_pss_bytes"] = mem.peak
    out["text_bytes"] = corpus.text_bytes()
    out.update(verify(corpus, out))
    return out


def verify(corpus, m: dict) -> dict:
    """Check the session's answers and index statistics against the
    single-node oracle, after the session (and the memory sampling) ended."""
    from tsidx.oracle import OracleIndex

    oracle = OracleIndex()
    oracle.add_corpus(corpus.texts)
    stats_ok = m["index_stats"] == oracle.statistics()
    gold = {}
    wrong = 0
    for op, query, answer in m["answers"]:
        if answer is None:
            continue
        key = (op == "match", query)
        if key not in gold:
            gold[key] = oracle.match(query) if op == "match" else oracle.bm25_topk(query, K)
        if answer != gold[key]:
            wrong += 1
    # blocks the rankers could score: posting blocks of the query's terms
    cand_blocks = {
        q: sum(
            len({d // BLOCK_SIZE for d, _tf in oracle.postings.get(t, ())})
            for t in set(q.split())
        )
        for q in m["pool"]
    }
    return {
        "attempted": len(m["answers"]) + 1,  # + the build
        "failed": len(m["errors"]) + wrong + (0 if stats_ok else 1),
        "stats_ok": stats_ok,
        "cand_blocks": cand_blocks,
    }


def _build(spark, spans, input_path, index_path) -> dict:
    from tsidx.build import build_index

    transcripts = spark.read.parquet(input_path)
    with spans("build_index") as s_build:
        index = build_index(transcripts, block_size=BLOCK_SIZE)
    with spans("write") as s_write:
        index.write(index_path)
    index.postings.unpersist()
    return {
        "build_s": s_build.seconds,
        "write_s": s_write.seconds,
        "index_bytes": {
            t: dir_bytes(os.path.join(index_path, t)) for t in ("postings", "terms", "docs")
        },
    }


def _serve(spark, spans, args, warmup, pool, index_path) -> dict:
    """Set-up (read + the first call of each operator), then the timed loop."""
    from tsidx.index import InvertedIndex
    from tsidx.query import QueryEngine

    with spans("read") as s_read:
        index = InvertedIndex.read(spark, index_path)
        qe = QueryEngine(index)
    warmup_s = 0.0
    for op in OPS:
        with spans(f"warmup:{op}") as s:
            run_op(qe, op, warmup)
        warmup_s += s.seconds

    latencies = {op: [] for op in OPS}
    answers = []  # (op, query, answer or None on error)
    errors = []
    deadline = time.perf_counter() + args.seconds
    rounds = 0
    while rounds == 0 or time.perf_counter() < deadline:
        query = pool[rounds % len(pool)]
        for op in OPS:
            with spans(op) as s:
                try:
                    answer = run_op(qe, op, query)
                except Exception as exc:  # a failed call counts, the loop goes on
                    answer = None
                    errors.append(f"{op}({query!r}): {type(exc).__name__}: {exc}")
            latencies[op].append(s.seconds)
            answers.append((op, query, answer))
        rounds += 1

    with spans("verify"):
        index_stats = index.statistics()
    return {
        "read_s": s_read.seconds,
        "warmup_s": warmup_s,
        "latencies": latencies,
        "rounds": rounds,
        "answers": answers,
        "errors": errors,
        "index_stats": index_stats,
    }


# ------------------------------------------------------------------ reports


def end_to_end(m: dict) -> tuple[dict, dict]:
    """(metrics, details) for a --trace 0 run."""
    idx = m["index_bytes"]
    metrics = {
        "setup_s": (m["session_start_s"] + m["read_s"] + m["warmup_s"], "s"),
        "build_turns_per_s": (N_TURNS / (m["build_s"] + m["write_s"]), "1/s"),
        "index_bytes_per_text_byte": ((idx["postings"] + idx["terms"]) / m["text_bytes"], "ratio"),
        "peak_pss_mb": (m["peak_pss_bytes"] / 2**20, "MB"),
    }
    samples = {}
    for op, values in m["latencies"].items():
        metrics[f"{op}_p50_s"] = (statistics.median(values), "s")
        samples[op] = {"n": len(values), "max_s": max(values)}
    details = {
        "canary": m["canary"],
        "cores": m["cores"],
        "driver_memory": driver_memory(),
        "n_turns": N_TURNS,
        "block_size": BLOCK_SIZE,
        "rounds": m["rounds"],
        "prune_limit": PRUNE_LIMIT,
        "samples": samples,
        "session_start_s": m["session_start_s"],
        "build_s": m["build_s"],
        "write_s": m["write_s"],
        "read_s": m["read_s"],
        "warmup_s": m["warmup_s"],
        "index_bytes": idx,
        "text_bytes": m["text_bytes"],
        "stats_ok": m["stats_ok"],
        "errors": m["errors"][:5],
    }
    return metrics, details


def per_layer(m: dict, work: str) -> dict:
    """Per-layer metrics from the run's spans and Spark event log."""
    from perfbench import ledger as L

    led = L.Ledger(L.read_event_log(_only_log(os.path.join(work, "eventlog"))))
    by_name: dict[str, list] = {}
    for span in m["spans"]:
        by_name.setdefault(span.name, []).append(span)
    metrics: dict[str, tuple] = {}

    build_jobs = [j for s in by_name["build_index"] for j in led.jobs_of(s)]
    phase = {p: [j for j in build_jobs if j.layer == p] for p in
             ("docids.unique_check", "docids.assign", "build.fused")}
    docid_jobs = phase["docids.unique_check"] + phase["docids.assign"]
    fused_tasks = L.tasks_of(phase["build.fused"])
    build_tasks = L.tasks_of(build_jobs)
    metrics.update({
        "docids.unique_check_s": (L.busy_seconds(phase["docids.unique_check"]), "s"),
        "docids.assign_s": (L.busy_seconds(phase["docids.assign"]), "s"),
        "docids.jobs": (len(docid_jobs), "count"),
        "docids.shuffle_write_bytes": (
            sum(t.shuffle_write_bytes for t in L.tasks_of(docid_jobs)), "bytes"),
        "build.fused_s": (L.busy_seconds(phase["build.fused"]), "s"),
        "build.fused_executor_s": (sum(t.run_ms for t in fused_tasks) / 1e3, "s"),
        "build.fused_python_s": (L.accum(fused_tasks, "time to run Python workers") / 1e3, "s"),
        "build.python_start_s": (L.accum(build_tasks, "time to start Python workers") / 1e3, "s"),
        "build.arrow_to_python_bytes": (L.accum(build_tasks, "data sent to Python workers"), "bytes"),
        "build.shuffle_write_bytes": (sum(t.shuffle_write_bytes for t in build_tasks), "bytes"),
        "build.task_skew": (L.task_skew(fused_tasks), "ratio"),
        "build.spill_bytes": (sum(t.spill_bytes for t in build_tasks), "bytes"),
        "build.gc_s": (sum(t.gc_ms for t in build_tasks) / 1e3, "s"),
        "build.jobs": (len(build_jobs), "count"),
        "index.write_s": (m["write_s"], "s"),
    })
    for t in ("postings", "terms", "docs"):
        metrics[f"index.{t}_bytes"] = (m["index_bytes"][t], "bytes")
    metrics["session_start_s"] = (m["session_start_s"], "s")
    metrics["index.read_s"] = (m["read_s"], "s")
    metrics["warmup_s"] = (m["warmup_s"], "s")
    metrics["jvm_heap_peak_mb"] = (led.heap_peak / 2**20, "MB")

    for op in OPS:
        calls = by_name[op]
        n = len(calls)
        jobs_per_call = [led.jobs_of(s) for s in calls]
        jobs = [j for js in jobs_per_call for j in js]
        tasks = L.tasks_of(jobs)
        driver = sum(
            (s.end - s.start) - L.busy_seconds(js) for s, js in zip(calls, jobs_per_call))
        metrics.update({
            f"{op}.calls": (n, "count"),
            f"{op}.jobs_per_query": (len(jobs) / n, "count"),
            f"{op}.tasks_per_query": (len(tasks) / n, "count"),
            f"{op}.driver_s_per_query": (driver / n, "s"),
            f"{op}.executor_s_per_query": (sum(t.run_ms for t in tasks) / 1e3 / n, "s"),
            f"{op}.python_s_per_query": (
                L.accum(tasks, "time to run Python workers") / 1e3 / n, "s"),
            f"{op}.scan_bytes_per_query": (sum(t.input_bytes for t in tasks) / n, "bytes"),
            f"{op}.shuffle_bytes_per_query": (
                sum(t.shuffle_write_bytes for t in tasks) / n, "bytes"),
        })
        if op != "match":  # match looks up no idf
            metrics[f"{op}.idf_fetch_s_per_query"] = (
                L.busy_seconds([j for j in jobs if j.layer == "idf_fetch"]) / n, "s")
        if op in ("wand_topk", "maxscore_topk"):
            for layer in ("bound", "seed"):
                metrics[f"{op}.{layer}_s_per_query"] = (
                    L.busy_seconds([j for j in jobs if j.layer == layer]) / n, "s")
            metrics[f"{op}.survivor_s_per_query"] = (
                L.busy_seconds([j for j in jobs if j.layer == L.FINAL_LAYER]) / n, "s")
            # calls that took the pruning path (all of them on topk_head)
            metrics[f"{op}.pruned_calls"] = (
                sum(any(j.layer == "bound" for j in js) for js in jobs_per_call), "count")
            # calls run the pool in order, one round per query
            cand = sum(m["cand_blocks"][m["pool"][i % len(m["pool"])]] for i in range(n))
            metrics[f"{op}.blocks_scored_ratio"] = (
                led.scorer_input_rows(jobs) / cand if cand else 0.0, "ratio")
    return metrics


def _only_log(log_dir: str) -> str:
    (app,) = os.listdir(log_dir)
    return os.path.join(log_dir, app)


def report(correct: bool, attempted: int, failed: int, metrics: dict, details: dict) -> None:
    print(json.dumps(details, sort_keys=True, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def untraced_child(args) -> dict:
    """Run this workload untraced in a child process; its result line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(f"perfbench: untraced pass exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> None:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    require_checkout()
    trace = bool(args.trace)
    untraced = untraced_child(args) if trace else None

    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every process this run starts writing inside the checkout: Python
    # temp files, the launcher and driver JVMs, Spark's scratch space
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        m = measure(args, work, trace)
        correct = m["failed"] == 0
        metrics, details = end_to_end(m)
        if trace:
            layers = per_layer(m, work)
            traced_wall = m["build_s"] + m["write_s"] + sum(
                metrics[f"{op}_p50_s"][0] for op in OPS)
            base = untraced["metrics"]
            untraced_wall = (N_TURNS / base["build_turns_per_s"]["value"]) + sum(
                base[f"{op}_p50_s"]["value"] for op in OPS)
            layers["trace_overhead"] = (traced_wall / untraced_wall, "ratio")
            details["untraced"] = base
            metrics = layers
        details["run_wall_s"] = time.perf_counter() - T_START
        report(correct, m["attempted"], m["failed"], metrics, details)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    main()
