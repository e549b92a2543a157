"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl,serve,ask} --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One closed-loop client thread drives the
workload for ``--seconds`` on a ``local[<nproc>]`` session, then the outputs
are checked outside the timed window. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. The full record (session proof, every latency, span self
times) is written to ``.perfbench/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("etl", "serve", "ask")
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Context:
    def __init__(self, spark, seed: int, smoke: bool):
        self.spark = spark
        self.seed = seed
        self.smoke = smoke
        self.work = os.path.join(WORK, "data")

    def size(self, full: int, smoke: int) -> int:
        return smoke if self.smoke else full


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The program's own session factory, pinned to this host's cores."""
    import sycamore_spark as ss

    cores = nproc()
    return ss.init(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.python.daemon.module": "worker_daemon",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )


def workload(name: str, ctx):
    if name == "etl":
        from etl import Etl
        return Etl(ctx)
    if name == "serve":
        from serve import Serve
        return Serve(ctx)
    from ask import Ask
    return Ask(ctx)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: always one of the measured samples."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def drive(wl, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: one operation at a time until ``seconds`` have passed,
    always finishing the workload's cycle of operation kinds, so every run
    measures the same mix. With a tracer, cycles alternate untraced and
    traced (at least one of each), so the two halves see the same drift."""
    ops: list[dict] = []
    deadline = time.perf_counter() + seconds
    traced = False
    while time.perf_counter() < deadline or len(ops) % wl.cycle or (tracer and len(ops) < 2 * wl.cycle):
        if tracer is not None and len(ops) % wl.cycle == 0:
            traced = (len(ops) // wl.cycle) % 2 == 1
            tracer.install() if traced else tracer.uninstall()
        kind, thunk = wl.next_op()
        rec = {"kind": kind, "traced": traced}
        t0 = time.perf_counter()
        try:
            if not traced:
                rec["items"], rec["rows"], _ = thunk(None)
            else:
                with tracer.op(kind) as trec:
                    rec["items"], rec["rows"], dfs = thunk(tracer)
            rec["ok"] = True
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            rec["ok"] = False
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        if traced and rec["ok"]:
            tracer.collect(trec, rec["rows"], dfs)
        ops.append(rec)
    return ops


def end_to_end(wl, ops: list[dict], setup_s: float, peak_kb: int) -> dict:
    good = [o for o in ops if o["ok"]]
    lat = [o["ms"] for o in good if o["kind"] in wl.latency_kinds]
    busy_s = sum(o["ms"] for o in ops) / 1000.0
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "throughput_per_s": {"value": sum(o["items"] for o in good) / busy_s, "unit": "1/s"},
        "p50_ms": {"value": statistics.median(lat), "unit": "ms"},
        "p90_ms": {"value": percentile(lat, 0.9), "unit": "ms"},
        "peak_pss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
    }


def per_layer(wl, tracer, traced: list[dict], untraced: list[dict]) -> dict:
    from spans import SPAN_METRICS

    n = max(1, len(traced))
    span_ms, span_calls = tracer.span_totals()
    m: dict[str, tuple[float, str]] = {}
    op_ms = sum(o["ms"] for o in traced if o["ok"])
    for metric, span in SPAN_METRICS.items():
        if metric.endswith("_ms"):
            m[metric] = (span_ms.get(span, 0.0) / n, "ms")
        else:
            m[metric] = (span_ms.get(span, 0.0) / op_ms, "ratio")
    m["sources.load_calls"] = (span_calls.get("sources.load", 0) / n, "count")
    cs = [op["counters"] for op in tracer.ops if "counters" in op]
    tot = {k: sum(c[k] for c in cs) for k in (cs[0] if cs else {})}
    g = lambda k: tot.get(k, 0.0)  # noqa: E731
    for metric, key, unit in (
        ("spark.jobs", "jobs", "count"), ("spark.stages", "stages", "count"), ("spark.tasks", "tasks", "count"),
        ("spark.job_ms", "job_ms", "ms"), ("spark.slot_idle_ms", "slot_idle_ms", "ms"),
        ("spark.driver_ms", "driver_ms", "ms"), ("catalyst.plan_ms", "plan_ms", "ms"),
        ("spark.task_run_ms", "task_run_ms", "ms"), ("spark.task_cpu_ms", "task_cpu_ms", "ms"),
        ("spark.gc_ms", "gc_ms", "ms"), ("spark.shuffle_read_b", "shuffle_read_b", "B"),
        ("spark.shuffle_write_b", "shuffle_write_b", "B"), ("spark.spill_b", "spill_b", "B"),
        ("spark.input_b", "input_b", "B"), ("python.rows", "python_rows", "count"),
        ("python.bytes_sent", "python_sent_b", "B"), ("python.bytes_received", "python_recv_b", "B"),
    ):
        m[metric] = (g(key) / n, unit)
    m["spark.cpu_frac"] = (g("task_cpu_ms") / g("task_run_ms") if g("task_run_ms") else 0.0, "ratio")
    m["spark.input_rows_per_result"] = (g("input_rows") / g("result_rows") if g("result_rows") else 0.0, "ratio")
    store = wl.store_stats() if hasattr(wl, "store_stats") else {"files": 0, "bytes": 0}
    write_b = sum(op["counters"]["output_b"] for op in tracer.ops if op["kind"] == "write" and "counters" in op)
    m["store.files"] = (store["files"], "count")
    m["store.bytes"] = (store["bytes"], "B")
    m["store.write_amp"] = (write_b / wl.delta_bytes if getattr(wl, "delta_bytes", 0) else 0.0, "ratio")
    mean = lambda ops: statistics.fmean(o["ms"] for o in ops if o["ok"])  # noqa: E731
    m["tracing.overhead_frac"] = (mean(traced) / mean(untraced) - 1.0, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def session_proof(spark) -> dict:
    import pyspark

    return {
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "nproc": nproc(),
    }


def calibration_probe(spark) -> float:
    """The fixed-work CPU probe of ``bench.calibration_probe`` (same query,
    same size), inlined because importing bench.py loads the 12k-line entry
    module. The first call warms its code generation."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    return time.perf_counter() - t0


def run(name: str, seed: int, seconds: float, trace: bool, smoke: bool = False, spark=None) -> dict:
    from spans import MemSampler, Tracer

    record: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
                    "loadavg_pre": os.getloadavg()}
    with MemSampler() as mem:
        t0 = time.perf_counter()
        own_session = spark is None
        if own_session:
            spark = start_session()
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        record["session"] = session_proof(spark)
        ctx = Context(spark, seed, smoke)
        wl = workload(name, ctx)
        prepares = []
        for _ in range(1 if smoke else wl.prepare_repeats):
            t = time.perf_counter()
            wl.prepare()
            prepares.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        # sources.tables.load_table resets this on local masters; record what the ops ran with
        record["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        setup_s = session_s + statistics.median(prepares) + warm_s
        record["setup"] = {"session_s": session_s, "prepare_s": prepares, "warm_s": warm_s}
        if not smoke:
            calibration_probe(spark)
            record["calibration_probe_pre"] = calibration_probe(spark)
        tracer = Tracer(spark) if trace else None
        try:
            ops = drive(wl, seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        if not smoke:
            record["calibration_probe_post"] = calibration_probe(spark)
        t = time.perf_counter()
        mismatches = wl.check()
        record["check_s"] = time.perf_counter() - t
        record["peak_rss_kb"] = mem.peak_rss_kb
        peak_kb = mem.peak_pss_kb
    failed = sum(not o["ok"] for o in ops) + len(mismatches)
    if trace:
        metrics = per_layer(wl, tracer, [o for o in ops if o["traced"]], [o for o in ops if not o["traced"]])
        record["span_self_ms"] = tracer.self_times()
        record["spans"] = tracer.spans
        record["op_counters"] = [{k: v for k, v in op.items() if k != "span"} for op in tracer.ops]
    else:
        metrics = end_to_end(wl, ops, setup_s, peak_kb)
    for m in mismatches:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    record.update(ops=ops, mismatches=mismatches, loadavg_post=os.getloadavg())
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"record-{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, default=str)
    if own_session:
        spark.stop()
    return {"correct": not mismatches and failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}


def smoke() -> int:
    """Every workload on tiny inputs, untraced and traced, in one session:
    checks the correctness checks pass and the result matches BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    problems = []
    if not {w["name"] for w in spec["workloads"]} <= set(WORKLOADS):
        problems.append("BENCHMARK.json names a workload run.py does not have")
    spark = start_session()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in WORKLOADS:
            for t in (0, 1):
                res = run(name, 1, 2.0, bool(t), smoke=True, spark=spark)
                got = set(res["metrics"])
                if set(res) != {"correct", "attempted", "failed", "metrics"} or got != want[t]:
                    problems.append(f"{name} trace={t}: metrics {sorted(got ^ want[t])} differ from BENCHMARK.json")
                if not res["correct"]:
                    problems.append(f"{name} trace={t}: incorrect ({res['failed']} failed)")
                print(f"smoke {name} trace={t}: {json.dumps(res)}", file=sys.stderr)
    finally:
        spark.stop()
    for p in problems:
        print(f"perfbench smoke: {p}", file=sys.stderr)
    print(json.dumps({"smoke_ok": not problems}))
    return 1 if problems else 0


def descendants(root: int) -> list[int]:
    """Live (non-zombie) processes below ``root``, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    found, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            found.append(pid)
            todo.append(pid)
    return found


def reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_descendants() -> bool:
    """Give the JVM and the Python worker daemon time to exit on their own,
    then terminate, then kill whatever is left; reap each one."""
    for sig, grace_s in ((None, 15.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in descendants(os.getpid()) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while True:
            reap()
            if not descendants(os.getpid()):
                return True
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
    return False


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and return only once every
    process it started has ended. The JVM and pyspark's worker daemon (which
    moves to its own process group) outlive the Python process that started
    them unless stopped; as child subreaper this process inherits them
    whatever their parent was, so it can stop and reap them all. The child's
    stdout goes through a file, so the result line is printed last."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}")

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    os.makedirs(WORK, exist_ok=True)
    out_path = os.path.join(WORK, f"stdout-{os.getpid()}.txt")
    rc, stopped = 1, False
    try:
        with open(out_path, "w+b") as out:
            child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], stdout=out,
                                     stdin=subprocess.DEVNULL, env=dict(os.environ, **{CHILD_ENV: "1"}))
            try:
                rc = child.wait()
            finally:
                if child.poll() is None:
                    child.kill()
                    child.wait()
                stopped = stop_descendants()
            out.seek(0)
            sys.stdout.flush()
            shutil.copyfileobj(out, sys.stdout.buffer)
            sys.stdout.buffer.flush()
    finally:
        os.unlink(out_path)
    if not stopped:
        fail(f"processes {descendants(os.getpid())} did not stop")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, every workload, schema + checks")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sycamore_spark")):
        fail(f"no sycamore_spark package under {ROOT}; run from a checkout of the repository")
    if not os.environ.get(CHILD_ENV):
        return supervise(sys.argv[1:])
    # Python workers must import sycamore_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path[:0] = [ROOT, HERE]
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
