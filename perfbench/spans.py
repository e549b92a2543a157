"""Traced-run instruments: spans around calls into the library's modules,
per-operation Spark counters, and the process-tree memory sampler.

Spans are recorded by wrapping module attributes where their callers bind
them (``plans.executor`` imports ``load_table`` by name, so that binding is
wrapped too). Every operation runs under its own job group; its Spark
counters are read right after it finishes, from the status store, so the
``spark.ui.retainedStages`` limit cannot evict them first.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import re
import threading
import time

# (module, attribute, span name). Span names are the per-layer metric stems.
SPAN_TARGETS = [
    ("sycamore_spark.sources.tables", "load_table", "sources.load"),
    ("sycamore_spark.plans.executor", "load_table", "sources.load"),
    ("sycamore_spark.plans.client", "load_table", "sources.load"),
    ("sycamore_spark.plans.client", "QueryClient.plan", "plans.plan"),
    ("sycamore_spark.plans.executor", "PlanExecutor.execute", "plans.execute"),
    ("sycamore_spark.operators.retrieval", "bm25_from_index", "retrieval.bm25"),
    ("sycamore_spark.operators.retrieval", "index_apply_changes", "retrieval.index_apply"),
    ("sycamore_spark.operators.retrieval", "norms_apply_changes", "retrieval.norms_apply"),
    ("sycamore_spark.operators.similarity", "ivf_pq_topk_multi", "similarity.ann_topk"),
    ("sycamore_spark.operators.similarity", "ann_store_apply_changes", "similarity.ann_apply"),
    ("sycamore_spark.writer", "write_parquet", "writer.write"),
]

# Per-layer metrics built from spans: metric name -> span name.
# Each gated workload reaches only some modules, so a module's time per
# operation would read exactly 0 on every run of the other workload. The
# result line therefore gives each module's share of the traced operations'
# wall time; the record keeps the milliseconds (``span_self_ms``).
# ``sources.load`` is reached by every workload and keeps its time.
SPAN_METRICS = {
    "docset.build_share": "docset.build",
    "plans.plan_share": "plans.plan",
    "plans.execute_share": "plans.execute",
    "sources.load_ms": "sources.load",
    "retrieval.bm25_share": "retrieval.bm25",
    "retrieval.index_apply_share": "retrieval.index_apply",
    "retrieval.norms_apply_share": "retrieval.norms_apply",
    "similarity.ann_topk_share": "similarity.ann_topk",
    "similarity.ann_apply_share": "similarity.ann_apply",
    "writer.write_share": "writer.write",
}

_PYTHON_SENT = "data sent to Python workers"
_PYTHON_RECV = "data returned from Python workers"
_ROWS = "number of output rows"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _resolve(module: str, attr: str):
    mod = importlib.import_module(module)
    owner, name = mod, attr
    if "." in attr:
        cls, name = attr.split(".", 1)
        owner = getattr(mod, cls)
    return owner, name


def _metric_number(text: str) -> float:
    """Parse a SQL metric display value: '1,234' or a size block whose
    first line after the header is '12.3 KiB (min, med, max ...)'."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    """Spans plus per-op Spark counters, kept in memory; run.py writes them
    to the run's record when the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.status = self.jsc.statusStore()
        self.sql_status = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._next_exec = self._first_free_execution()
        self._op = None
        # job groups must be unique per tracer: one session may host several runs
        self._stamp = time.time_ns()

    # -- spans -----------------------------------------------------------

    def install(self) -> None:
        if self._saved:
            return
        for module, attr, span in SPAN_TARGETS:
            owner, name = _resolve(module, attr)
            orig = owner.__dict__[name]
            self._saved.append((owner, name, orig))
            setattr(owner, name, self._wrapped(orig, span))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def _wrapped(self, fn, span_name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a span opened on a worker thread (overlap_jobs) belongs to the running op
        parent = stack[-1] if stack else (self._op["span"] if self._op else None)
        rec = {"name": name, "parent": parent, "op": self._op["id"] if self._op else None,
               "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    # -- operations ------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str):
        op_id = len(self.ops)
        group = f"perfbench-{self._stamp}-op-{op_id}"
        self.sc.setJobGroup(group, f"perfbench {kind} #{op_id}")
        rec = {"id": op_id, "kind": kind, "group": group, "t0_epoch_ms": time.time() * 1000.0}
        try:
            with self.span(f"op.{kind}") as span_id:
                rec["span"] = span_id
                self._op = rec
                yield rec
        finally:
            rec["t1_epoch_ms"] = time.time() * 1000.0
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    def collect(self, rec: dict, result_rows: int, plan_dfs=()) -> None:
        """Read the op's Spark counters (call after the op has finished)."""
        self.jsc.listenerBus().waitUntilEmpty()
        t0, t1 = rec["t0_epoch_ms"], rec["t1_epoch_ms"]
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = self.status.job(jid)
            sub = jd.submissionTime()
            end = jd.completionTime()
            s = max(sub.get().getTime() if sub.isDefined() else t0, t0)
            e = min(end.get().getTime() if end.isDefined() else t1, t1)
            if e > s:
                intervals.append((s, e))
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        c = dict.fromkeys(
            ("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_read_b",
             "shuffle_write_b", "spill_b", "input_b", "input_rows", "output_b"), 0.0)
        for sid in stage_ids:
            st = self.status.lastStageAttempt(sid)
            sub = st.submissionTime()
            if str(st.status()) == "SKIPPED" or not sub.isDefined() or sub.get().getTime() < t0 - 1:
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["task_run_ms"] += st.executorRunTime()
            c["task_cpu_ms"] += st.executorCpuTime() / 1e6
            c["gc_ms"] += st.jvmGcTime()
            c["shuffle_read_b"] += st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
            c["shuffle_write_b"] += st.shuffleWriteBytes()
            c["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["input_b"] += st.inputBytes()
            c["input_rows"] += st.inputRecords()
            c["output_b"] += st.outputBytes()
        job_ms = _union_ms(intervals)
        c.update(
            jobs=len(job_ids), job_ms=job_ms, wall_ms=t1 - t0,
            driver_ms=max(0.0, (t1 - t0) - job_ms),
            slot_idle_ms=max(0.0, job_ms * self.cores - c["task_run_ms"]),
            result_rows=result_rows,
            plan_ms=sum(self._plan_ms(df) for df in plan_dfs),
        )
        c.update(self._python_metrics())
        rec["counters"] = c

    @staticmethod
    def _plan_ms(df) -> float:
        phases = df._jdf.queryExecution().tracker().phases().valuesIterator()
        return float(sum(p.durationMs() for p in _scala_iter(phases)))

    def _first_free_execution(self) -> int:
        """One past the newest retained SQL execution id."""
        n = self.sql_status.executionsCount()
        if n == 0:
            return 0
        return int(self.sql_status.executionsList(int(n) - 1, 1).apply(0).executionId()) + 1

    def _python_metrics(self) -> dict:
        """Rows and bytes through Python exec nodes of the op's SQL executions."""
        out = {"python_rows": 0.0, "python_sent_b": 0.0, "python_recv_b": 0.0}
        eid, misses = self._next_exec, 0
        while misses < 8:
            if not self.sql_status.execution(eid).isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            self._next_exec = eid + 1
            values = {int(kv._1()): kv._2()
                      for kv in _scala_iter(self.sql_status.executionMetrics(eid).iterator())}
            nodes = self.sql_status.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                named = {ms.apply(j).name(): ms.apply(j).accumulatorId() for j in range(ms.size())}
                if _PYTHON_SENT not in named:
                    continue
                for key, metric in (("python_sent_b", _PYTHON_SENT), ("python_recv_b", _PYTHON_RECV),
                                    ("python_rows", _ROWS)):
                    acc = named.get(metric)
                    if acc is not None and int(acc) in values:
                        out[key] += _metric_number(values[int(acc)])
            eid += 1
        return out

    # -- summary ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            own = (s["end"] - s["start"]) - _union_ms(children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1000.0
        return out

    def span_totals(self) -> tuple[dict[str, float], dict[str, int]]:
        ms: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s in self.spans:
            if "end" in s:
                ms[s["name"]] = ms.get(s["name"], 0.0) + (s["end"] - s["start"]) * 1000.0
                calls[s["name"]] = calls.get(s["name"], 0) + 1
        return ms, calls


class MemSampler:
    """Peak memory of this process plus all its descendants (the JVM and its
    Python workers), sampled from /proc on a background thread: resident set
    size, and proportional set size, which counts a page that forked workers
    share once instead of once per worker."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_rss_kb = 0
        self.peak_pss_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss, pss = tree_mem_kb(os.getpid())
            self.peak_rss_kb = max(self.peak_rss_kb, rss)
            self.peak_pss_kb = max(self.peak_pss_kb, pss)
            self._stop.wait(self.period_s)


def tree_mem_kb(root: int) -> tuple[int, int]:
    """(RSS, PSS) in kB summed over ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    rss = pss = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Rss:"):
                        rss += int(line.split()[1])
                    elif line.startswith("Pss:"):
                        pss += int(line.split()[1])
        except OSError:
            continue
    return rss, pss
