"""Seeded end-to-end benchmark for the php_etl_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run from the root of a source tree. One process, one closed-loop
client: each operation starts only after the previous one finished.
Spark runs on ``local[nproc]``. Inputs are generated from ``--seed``
into a private scratch directory under the tree, which is removed at
exit together with Spark's local and temp directories.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

With ``--trace 0`` it carries the end-to-end metrics (``E2E``); with
``--trace 1`` the per-layer metrics (``PER_LAYER``), attributed by
spans around the engine's entry points and Spark's REST accounting
(see ``spans.py``). The line before it is a JSON record of the
environment and of workload-specific detail (per-step times, the tail
percentile, exact counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E = {
    "setup_s": "s",
    "unit_cpu_s": "s",
}

# span name → per-layer metric charged with the span's self time
SPAN_METRIC = {
    "catalog": "catalog.op_s",
    "queries.construct": "queries.construct_s",
    "exec": "queries.exec_s",
    "materialize": "materialize.s",
    "plans.pipeline": "plans.pipeline_s",
    "plans.build": "plans.build_s",
    "plans.run_table": "plans.run_table_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "llm": "llm.s",
    "streaming": "streaming.wall_s",
}

PER_LAYER = {
    "session.start_s": "s",
    "queries.import_s": "s",
    "catalog.resolve_s": "s",
    "setup.warmup_s": "s",
    "catalog.op_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.exec_s": "s",
    "materialize.calls": "count",
    "materialize.s": "s",
    "plans.pipeline_s": "s",
    "plans.build_s": "s",
    "plans.run_table_s": "s",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.upsert_rewrite_frac": "ratio",
    "llm.s": "s",
    "llm.cand_pairs": "count",
    "llm.cand_frac": "ratio",
    "llm.recall_at_5": "ratio",
    "streaming.wall_s": "s",
    "streaming.batch_ms": "ms",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.idle_s": "s",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "python.worker_cpu_s": "s",
    "trace.unit_wall_s": "s",
    "trace.unit_cpu_s": "s",
    "trace.unattributed_frac": "ratio",
}

# Per-layer counts that must repeat exactly for a given seed; later
# changes may cite them as counts, not as timings.
EXACT_COUNTS = [
    "queries.construct_jobs",
    "sched.jobs",
    "sources.files_written",
    "llm.cand_pairs",
    "llm.cand_frac",
]

DEADLINE_S = 170
MIN_UNITS = 2


class Ctx:
    """State of one run: scratch paths, the tracer, the timed
    operations and the checks' verdicts."""

    def __init__(self, seed: int, run_dir: Path, tracer):
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self.latencies: list[float] = []
        self.cpus: list[dict[str, float]] = []
        self.jvm_pid: int | None = None
        self.op_names: list[str] = []
        self.units: list[tuple[float, float, list[int]]] = []
        self.attempted = 0
        self.failed = 0
        self.wrong_ops: list[str] = []
        self.writes: dict[int, dict] = {}
        self._unit_ops: list[int] | None = None

    def path(self, *parts: str) -> str:
        p = self.run_dir.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    @contextmanager
    def clock(self):
        class _T:
            s = 0.0

        t = _T()
        t0 = time.perf_counter()
        try:
            yield t
        finally:
            t.s = time.perf_counter() - t0

    @contextmanager
    def op(self, name: str, timed: bool = True):
        """One operation. Timed operations count as attempted; one that
        raises counts as failed and aborts its unit."""
        if not timed:
            yield None
            return
        self.attempted += 1
        c0 = cpu_snapshot(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.tracer.op(name) as span:
                yield span
        except BaseException:
            self.failed += 1
            raise
        self.latencies.append(time.perf_counter() - t0)
        self.cpus.append(cpu_delta(c0, cpu_snapshot(self.jvm_pid)))
        self.op_names.append(name)
        if span is not None and self._unit_ops is not None:
            self._unit_ops.append(span.id)

    def wrong(self, op_name: str, why: str) -> None:
        print(f"perfbench: wrong answer in {op_name}: {why}", file=sys.stderr)
        self.wrong_ops.append(op_name)

    def snapshot(self, root: str) -> dict[str, tuple[int, int]]:
        """Data files under ``root`` → (size, mtime_ns); traced runs only."""
        if not self.tracer.enabled:
            return {}
        out = {}
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def record_writes(self, span, step: str, before: dict, after: dict) -> None:
        if span is None:
            return
        new = {p: v for p, v in after.items() if before.get(p) != v}
        rec = {"sources.files_written": len(new),
               "sources.bytes_written": sum(s for s, _ in new.values())}
        if step == "upsert":
            parts = {os.path.dirname(p) for p in after if "dst_orders" in p}
            touched = {os.path.dirname(p) for p in new if "dst_orders" in p}
            rec["sources.upsert_rewrite_frac"] = len(touched) / max(1, len(parts))
        self.writes[span.id] = rec


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, with_children: bool) -> tuple[int, int] | None:
    """(parent pid, CPU ticks) from a /proc stat file: user + system,
    plus reaped children's when asked."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    n = 15 if with_children else 13  # utime stime [cutime cstime]
    return int(fields[1]), sum(int(x) for x in fields[11:n])


def _thread_kind(comm: str) -> str:
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "work"


def descendants(root: int, parent: dict[int, int]) -> list[int]:
    """``root`` and every process below it, given pid → parent pid."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, pp in parent.items():
        kids[pp].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def cpu_snapshot(jvm_pid: int | None) -> dict[tuple[str, int], tuple[str, int]]:
    """CPU ticks so far of this process, of every thread of the JVM and
    of every Python worker under it, keyed by ``("t", tid)`` or
    ``("p", pid)`` and tagged: ``jit`` and ``gc`` for the JVM's compiler
    and garbage-collector threads, ``pyworker`` for the Python workers,
    ``work`` for the driver and the JVM threads that run the engine's
    code. Workers are kept apart because a pass forks a varying number
    of them, and each new one pays for importing pandas and PyArrow."""
    out = {}
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            got = _ticks(f"/proc/{d}/stat", with_children=True)
            if got is not None:
                procs[int(d)] = got
    # the JVM and, under it, the Python workers descend from this process
    me = os.getpid()
    for pid in descendants(me, {p: pp for p, (pp, _) in procs.items()}):
        if pid != jvm_pid:
            out[("p", pid)] = ("work" if pid == me else "pyworker", procs[pid][1])
    if jvm_pid is not None:
        task = f"/proc/{jvm_pid}/task"
        for t in os.listdir(task):
            got = _ticks(f"{task}/{t}/stat", with_children=False)
            try:
                with open(f"{task}/{t}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if got is not None:
                out[("t", int(t))] = (_thread_kind(comm), got[1])
    return out


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per kind between two snapshots. A thread or process
    that appeared in between counts from zero; one that ended in between
    is left out, so a compiler thread that exits cannot carry its whole
    history into the interval."""
    out = {"work": 0.0, "jit": 0.0, "gc": 0.0, "pyworker": 0.0}
    for k, (kind, t) in after.items():
        out[kind] += (t - before.get(k, (kind, 0))[1]) / _CLK_TCK
    return out


def _vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _collect_garbage(spark) -> None:
    """Full collections in Python and the JVM before each timed unit, so
    every unit starts from the same heap state instead of paying for a
    collection its predecessors triggered."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _live_heap_mib(spark) -> float:
    """JVM heap still reachable after full collections: what the engine
    keeps (block-manager caches, checkpoints, broadcasts, leaks).
    Steadier than peak RSS, which follows the collector's timing. Spark
    frees blocks of collected plans asynchronously (ContextCleaner), so
    the reading is the least of three collections a moment apart.

    The gated reading is taken at the end of set-up, after every
    operation has run once: by the end of the timed units the UI's
    status store holds a run-length-dependent number of jobs and trims
    them in steps, which made the end-of-run reading bimodal."""
    import gc

    gc.collect()  # drop Python-side proxies that pin JVM objects
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.25)
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / 2**20


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _env_record(spark) -> dict:
    import pyspark

    rev = "unknown"
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_rev": rev,
    }


def _install_wrappers(tracer) -> None:
    """Span every public entry point the layers expose (traced run only)."""
    from php_etl_spark import catalog, materialize
    from php_etl_spark.llm import similarity
    from php_etl_spark.plans import runner
    from php_etl_spark.sources import readers, writers
    from php_etl_spark.streaming import events

    tracer.wrap_method(catalog.Catalog, "table", "catalog")
    tracer.wrap(materialize, "materialize", "materialize")
    tracer.wrap(runner, "run_pipeline", "plans.pipeline")
    tracer.wrap(runner, "build_table_frame", "plans.build")
    tracer.wrap(runner, "run_table", "plans.run_table")
    tracer.wrap(readers, "read_source", "sources.read")
    for f in ("append", "upsert", "overwrite"):
        tracer.wrap(writers, f, "sources.write")
    for f in ("ann_topk_lsh", "lsh_buckets", "brute_force_topk"):
        tracer.wrap(similarity, f, "llm")
    for f in ("stream_table", "run_to_files", "run_to_memory"):
        tracer.wrap(events, f, "streaming")


def _streaming_listener(spark, batches: list) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            batches.append((time.time(), float(event.progress.batchDuration)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())


def _layer_metrics(ctx: Ctx, setup: dict, batches: list, extra: dict) -> dict:
    """Fold spans and REST accounting into one value per metric: the
    sum over each timed unit, then the median over units."""
    from spans import aggregate_stages, idle_seconds, median, rest_time, self_times

    tr = ctx.tracer
    spans = {s.id: s for s in tr.spans}
    selfs = self_times(tr.spans)
    unit_of = {o: u for u, (_, _, ops) in enumerate(ctx.units) for o in ops}
    per = [defaultdict(float) for _ in ctx.units]
    op_wall = [0.0 for _ in ctx.units]

    def under(span_id, name):
        s = spans.get(span_id)
        while s is not None:
            if s.name == name:
                return True
            s = spans.get(s.parent)
        return False

    for s in tr.spans:
        u = unit_of.get(s.op)
        if u is None:
            continue
        if s.id == s.op:
            per[u]["trace.unattributed"] += selfs[s.id]
            op_wall[u] += s.end - s.start
            for k, v in ctx.writes.get(s.id, {}).items():
                per[u][k] += v
        else:
            per[u][SPAN_METRIC[s.name]] += selfs[s.id]
            if s.name == "materialize":
                per[u]["materialize.calls"] += 1

    # charge each job to the span that issued it; jobs started on other
    # threads under their own group (streaming micro-batches) fall back
    # to the operation whose interval contains their submission
    roots = [spans[o] for o in unit_of]
    jobs = []
    for j in tr.jobs:
        g = j.get("jobGroup")
        if g is None or not g.isdigit() or int(g) not in spans:
            t = rest_time(j["submissionTime"])
            hit = [r for r in roots if r.start <= t <= r.end]
            g = str(hit[0].id) if hit else None
        jobs.append(dict(j, jobGroup=g))
    for g, m in aggregate_stages(jobs, list(tr.stages.values())).items():
        if g is None or spans[int(g)].op not in unit_of:
            continue
        u = unit_of[spans[int(g)].op]
        for k, v in m.items():
            per[u][k] += v
        if under(int(g), "queries.construct"):
            per[u]["queries.construct_jobs"] += m["sched.jobs"]
    for r in roots:
        ivs = [
            (rest_time(j["submissionTime"]), rest_time(j.get("completionTime", j["submissionTime"])))
            for j in jobs if j["jobGroup"] is not None and spans[int(j["jobGroup"])].op == r.id
        ]
        per[unit_of[r.id]]["sched.idle_s"] += idle_seconds(r.start, r.end, ivs)

    out = {k: 0.0 for k in PER_LAYER}
    out.update(setup)
    for k in PER_LAYER:
        if any(k in p for p in per):
            out[k] = median([p.get(k, 0.0) for p in per])
    out["trace.unattributed_frac"] = median(
        [p["trace.unattributed"] / w for p, w in zip(per, op_wall) if w > 0]
    )
    in_units = [d for t, d in batches if any(a <= t <= b for a, b, _ in ctx.units)]
    if in_units:
        out["streaming.batch_ms"] = median(in_units)
    out.update(extra)
    return out


def run(args, run_dir: Path) -> tuple[dict, dict]:
    import workloads
    from spans import Tracer, median, tail_percentile

    wl = workloads.WORKLOADS[args.workload]()
    ctx = Ctx(args.seed, run_dir, Tracer(enabled=bool(args.trace)))
    with ctx.clock() as prep:
        wl.prep(ctx)

    setup = {}
    with ctx.clock() as t:
        from php_etl_spark.session import get_spark

        ctx.spark = get_spark("perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.jvm_pid = _jvm_pid()
    setup["session.start_s"] = t.s
    with ctx.clock() as t:
        import php_etl_spark.queries  # noqa: F401 — the registry import users pay
    setup["queries.import_s"] = t.s

    batches: list = []
    ctx.tracer.attach(ctx.spark.sparkContext)
    if ctx.tracer.enabled:
        _install_wrappers(ctx.tracer)
        _streaming_listener(ctx.spark, batches)
    setup.update(wl.setup(ctx))
    setup_s = sum(setup.values())
    live = _live_heap_mib(ctx.spark)
    if ctx.tracer.enabled:
        ctx.tracer.collect()  # consume set-up jobs before the first unit

    # at least two units: on a loaded host one unit can outlast the run
    # length, and a figure from one unit read ~10% above one from two
    start = time.perf_counter()
    i = 0
    while i < MIN_UNITS or time.perf_counter() - start < args.seconds:
        ops: list[int] = []
        ctx._unit_ops = ops
        _collect_garbage(ctx.spark)
        a = time.time()
        try:
            wl.unit(ctx, i)
        except Exception:
            traceback.print_exc()
            break
        ctx.units.append((a, time.time(), ops))
        i += 1
    ctx._unit_ops = None
    rss = _vm_hwm_mib(os.getpid()) + _vm_hwm_mib(_jvm_pid() or os.getpid())
    live_end = _live_heap_mib(ctx.spark)

    wl.check(ctx)
    failed_names = set(ctx.wrong_ops)
    ctx.failed += sum(1 for n in ctx.op_names if n in failed_names)
    ctx.failed = min(ctx.failed, ctx.attempted)

    extra = {}
    if ctx.tracer.enabled and isinstance(wl, workloads.QueryMix):
        extra = wl.llm_counts(ctx)

    walls = [b - a for a, b, _ in ctx.units] or [0.0]
    pct, tail = tail_percentile(ctx.latencies or [0.0])
    op_lats: dict[str, list[float]] = defaultdict(list)
    op_cpus: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for n, lat, cpu in zip(ctx.op_names, ctx.latencies, ctx.cpus):
        op_lats[n].append(lat)
        for kind, v in cpu.items():
            op_cpus[kind][n].append(v)
    per_op = {n: median(v) for n, v in sorted(op_lats.items())}
    # a unit runs every operation once; composing it from each
    # operation's median over the run keeps one slow pass or one stalled
    # operation from moving the figure
    unit_wall = sum(per_op.values())
    unit_cpu = {k: sum(median(v) for v in ops.values()) for k, ops in op_cpus.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": _env_record(ctx.spark),
        "prep_s": prep.s,
        "setup_parts": setup,
        "units": len(ctx.units),
        "unit_walls_s": walls,
        "ops": len(ctx.latencies),
        "error_rate": ctx.failed / max(1, ctx.attempted),
        "peak_rss_mb": rss,
        "live_heap_mb": live,
        "live_heap_end_mb": live_end,
        "op_p50_s": median(ctx.latencies or [0.0]),
        "op_tail": {"percentile": pct, "value_s": tail, "samples": len(ctx.latencies)},
        "per_op_median_s": per_op,
        "per_op_s": op_lats,
        "unit_wall_s": unit_wall,
        "unit_cpu_by_kind_s": unit_cpu,
        "per_op_cpu_s": op_cpus,
    }
    if isinstance(wl, workloads.EtlMigrate):
        loads = [lat for m, lat in zip(ctx.op_names, ctx.latencies) if m == "load"]
        if loads:
            detail["load_rows_per_s"] = wl.source_rows / median(loads)

    if ctx.tracer.enabled:
        metrics = _layer_metrics(ctx, setup, batches, extra)
        metrics["trace.unit_wall_s"] = unit_wall
        metrics["trace.unit_cpu_s"] = unit_cpu.get("work", 0.0)
        metrics["jvm.jit_cpu_s"] = unit_cpu.get("jit", 0.0)
        metrics["jvm.gc_cpu_s"] = unit_cpu.get("gc", 0.0)
        metrics["python.worker_cpu_s"] = unit_cpu.get("pyworker", 0.0)
        detail["exact_counts"] = {k: metrics[k] for k in EXACT_COUNTS}
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "unit_cpu_s": unit_cpu.get("work", 0.0)}
        units = E2E
    result = {
        "correct": ctx.failed == 0 and ctx.attempted > 0 and not ctx.wrong_ops,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return detail, result


def _shutdown() -> None:
    """Stop Spark and wait for the JVM to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "etl_migrate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (run_dir / "local").mkdir(exist_ok=True)
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": nproc,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(tmp),
        # C1 only: on a few shared cores the C2 compiler is still
        # compiling minutes into a run, so every figure would measure
        # how far its queue got; C1 finishes within the warm-up
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        # Python workers import the engine from this tree
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    })
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]
    cwd = os.getcwd()
    os.chdir(run_dir)  # stray relative writes (warehouse, logs) land in scratch
    try:
        detail, result = run(args, run_dir)
    finally:
        signal.alarm(0)
        try:
            _shutdown()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = run_dir.parent
            if parent.exists() and not any(parent.iterdir()):
                parent.rmdir()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
