#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

One run: start a Spark session on local[nproc], generate the workload's
inputs from the seed, check the engine's outputs against known answers,
then run timed closed-loop passes (one client, the driver thread) until
``--seconds`` have passed. Set-up is repeated and its median reported.
With ``--trace 1`` the session also writes a Spark event log and every
layer call is recorded as a span; the per-layer numbers come from that run.

Every metric is printed as ``metric <name> <value> <unit>``; the last line
is one JSON object: correct, attempted, failed and the metrics of the mode
(end-to-end with --trace 0, per-layer with --trace 1). The full record,
with inputs and environment, is written to perfbench/results/.

Each run keeps its files in a private directory under perfbench/.runs/
(TMPDIR, SPARK_LOCAL_DIRS, data, event log), removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import measure  # noqa: E402
import workloads as W  # noqa: E402
from measure import median  # noqa: E402

#: workload → phases run back to back in each pass. A run starts its own
#: JVM and pays first-execution cost for every path it touches, so a
#: comparison over ten seeds affords two workloads; each carries two paths:
#: registry queries with a stateful stream, and the filing ETL with the
#: crawl → curate → index → search → delete lifecycle.
WORKLOADS = {
    "queries_streams": ["query_mix", "stream_state"],
    "filings_corpus": ["filing_etl", "corpus_lifecycle"],
}

#: input sizes per phase; "tiny" is the self-test's
SIZES = {
    "full": {
        "query_mix": {"sf": 0.002},
        "stream_state": {"sf": 0.002},
        # 17 + 437 = 454 facts per filing, the shape of a real quarterly report
        "filing_etl": {"companies": 8, "quarters": 4, "items": 437},
        "corpus_lifecycle": {"sf": 0.005, "copies": 2, "pages": 30, "deletes": 3},
    },
    "tiny": {
        "query_mix": {"sf": 0.001},
        "stream_state": {"sf": 0.001},
        "filing_etl": {"companies": 6, "quarters": 3, "items": 4},
        "corpus_lifecycle": {"sf": 0.001, "copies": 1, "pages": 30, "deletes": 2},
    },
}

#: end-to-end timings are CPU seconds of the run's process tree (driver,
#: JVM threads, Python workers). On the 4-core machine this was built on,
#: the host's CPU steal moved wall times by up to 40% between runs, CPU
#: times by half as much. Per-operation figures (wall and CPU) are in the
#: result file: in a single cold pass the JIT's work lands on whichever
#: operation runs first, which moved their median by 25% across seeds.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

PER_LAYER = {
    "mem.peak_rss_mb": "MB", "mem.jvm_hwm_mb": "MB",
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "registry.build_s": "s", "registry.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.sink_s": "s", "exec.job_wall_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes", "exec.scan_rows": "count",
    "io.scan_plan_s": "s", "io.scan_groups": "count",
    "etl.standardize_s": "s", "etl.conform_s": "s",
    "etl.quarantine_ratio": "ratio",
    "io.sinks.merge_upsert_s": "s", "io.sinks.append_missing_s": "s",
    "io.sinks.replace_partition_s": "s",
    "io.bytes_written_per_input_byte": "ratio", "io.silver_files": "count",
    "summary.build_s": "s", "summary.exec_s": "s",
    "curate.build_s": "s", "curate.write_s": "s", "curate.keep_ratio": "ratio",
    "retrieval.read_index_s": "s",
    "retrieval.append_bytes_per_batch_byte": "ratio",
    "retrieval.delete_s": "s", "retrieval.index_bytes": "bytes",
    "retrieval.index_files": "count",
    "retrieval.scan_rows_per_result": "ratio",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_instances": "count",
    "streaming.start_to_first_batch_s": "s",
    "io.tmp_residue_bytes": "bytes",
    "trace.coverage": "ratio", "trace.pass_s": "s", "trace.overhead_s": "s",
}

#: span name → per-layer metric holding its per-pass total
SPAN_METRICS = {
    "registry.build": "registry.build_s", "catalyst.plan": "catalyst.plan_s",
    "exec.sink": "exec.sink_s", "io.scan_plan": "io.scan_plan_s",
    "etl.standardize": "etl.standardize_s", "etl.conform": "etl.conform_s",
    "io.sinks.merge_upsert": "io.sinks.merge_upsert_s",
    "io.sinks.append_missing": "io.sinks.append_missing_s",
    "io.sinks.replace_partition": "io.sinks.replace_partition_s",
    "summary.build": "summary.build_s", "summary.exec": "summary.exec_s",
    "curate.build": "curate.build_s", "curate.write": "curate.write_s",
    "retrieval.read_index": "retrieval.read_index_s",
}

#: spans that time one call into an engine layer; trace.coverage is the
#: share of the pass they cover
LAYER_SPANS = set(SPAN_METRICS) | {
    "retrieval.build", "retrieval.append", "retrieval.delete", "retrieval.search"}

N_SETUPS = 3
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    """What the phases see: the session, the tracer and the op runner."""

    def __init__(self, seed: int, traced: bool, run_dir: str) -> None:
        self.seed = seed
        self.traced = traced
        self.run_dir = run_dir
        self.tracer = measure.Tracer(False)
        self.spark = None
        self.pass_no = 0
        self.checking = False
        self.checked = 0
        self.check_errors: list[str] = []
        self.check_s = 0.0
        self.check_cpu_s = 0.0
        self.overhead_s = 0.0
        self.ops: list[dict] = []
        self.layer: dict[str, list] = defaultdict(list)
        self.stream_events: list[dict] = []
        self.stream_ops: list = []
        self._registry = None

    def registry(self):
        if self._registry is None:
            from ir_analyses_spark.registry import all_queries

            self._registry = all_queries()
        return self._registry

    def oracles(self):
        from ir_analyses_spark.registry import all_oracles

        return all_oracles()

    def op(self, kind: str, name: str, fn, layer: str | None = None):
        """Run one closed-loop operation and record its latency; a raised
        exception is a failed op and returns None. ``layer`` names the span
        around the call when the op has no finer layer spans of its own."""
        gid = f"p{self.pass_no}o{len(self.ops)}"
        t = self.tracer
        if t.enabled:
            self.spark.sparkContext.setJobGroup(gid, name, False)
            t.op = gid
        rec = {"kind": kind, "name": name, "pass": self.pass_no, "gid": gid,
               "ok": True}
        out = None
        c0 = measure.cpu_s()
        t0 = time.perf_counter()
        try:
            with t.span("op", kind=kind, label=name):
                if layer is None:
                    out = fn()
                else:
                    with t.span(layer):
                        out = fn()
            if isinstance(out, list):
                rec["rows"] = len(out)
        except Exception as e:
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"op failed: {name}: {rec['error']}", file=sys.stderr)
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = measure.cpu_s() - c0
        if t.enabled:
            with self.overhead():
                rec["jobs"], rec["stages"], rec["tasks"] = measure.group_counts(
                    self.spark, gid)
                rec["residue"] = measure.dir_bytes(os.environ["TMPDIR"])
        self.ops.append(rec)
        return out

    def check(self, fn) -> None:
        """Compare outputs with known answers; ``fn`` returns the list of
        mismatches. Its time is kept out of the pass wall."""
        t0, c0 = time.perf_counter(), measure.cpu_s()
        self.checked += 1
        if self.tracer.enabled:
            # the check's jobs must not count as the last op's
            self.spark.sparkContext.setJobGroup("check", "check", False)
        try:
            with self.tracer.span("check"):
                self.check_errors += fn()
        except Exception as e:
            self.check_errors.append(f"check raised {type(e).__name__}: {str(e)[:300]}")
        self.check_s += time.perf_counter() - t0
        self.check_cpu_s += measure.cpu_s() - c0

    @contextlib.contextmanager
    def overhead(self):
        """Time spent on work only the traced run does."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def note_eager_jobs(self) -> None:
        """Jobs the current op launched so far (called after the builder)."""
        with self.overhead():
            self.layer["_eager"].append(
                measure.group_counts(self.spark, self.tracer.op)[0])

    @contextlib.contextmanager
    def wrap_etl(self):
        """In the traced run, wrap the ETL pipeline's calls into io.sources,
        etl and io.sinks with spans. Standardize and conform only build
        plans; their frames execute inside the sink writes, whose jobs the
        event log splits into exec.* figures."""
        if not self.tracer.enabled:
            yield
            return
        from ir_analyses_spark.etl import pipeline
        from ir_analyses_spark.io import sinks

        t = self.tracer
        saved = {}

        def patch(mod, attr, wrapper):
            saved[(mod, attr)] = getattr(mod, attr)
            setattr(mod, attr, wrapper(getattr(mod, attr)))

        def scan(orig):
            def f(*a, **k):
                with t.span("io.scan_plan"):
                    df = orig(*a, **k)
                with self.overhead():
                    self.layer["io.scan_groups"].append(
                        df._jdf.queryExecution().logical().collectLeaves().size())
                return df
            return f

        def spanned(name):
            def w(orig):
                def f(*a, **k):
                    with t.span(name):
                        return orig(*a, **k)
                return f
            return w

        patch(pipeline, "read_filing_csvs", scan)
        patch(pipeline, "standardize_raw", spanned("etl.standardize"))
        patch(pipeline, "conform_all_with_mappings", spanned("etl.conform"))
        for name in ("merge_upsert", "append_missing", "replace_partition"):
            patch(sinks, name, spanned(f"io.sinks.{name}"))
        try:
            yield
        finally:
            for (mod, attr), orig in saved.items():
                setattr(mod, attr, orig)

    @contextlib.contextmanager
    def wrap_retrieval(self):
        """In the traced run, time the stored-index reads of llm.retrieval."""
        if not self.tracer.enabled:
            yield
            return
        from ir_analyses_spark.llm import retrieval

        orig, t = retrieval.read_retrieval_index, self.tracer

        def f(*a, **k):
            with t.span("retrieval.read_index"):
                return orig(*a, **k)

        retrieval.read_retrieval_index = f
        try:
            yield
        finally:
            retrieval.read_retrieval_index = orig


def start_spark(ctx: Ctx, cpus: int):
    from ir_analyses_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={ctx.run_dir}",
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.traced:
        log = os.path.join(ctx.run_dir, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log}",
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
                     extra_conf=conf)


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, then the JVM, and wait for every child process
    (the JVM's Python workers go with it)."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    while measure.children_alive() and time.time() < deadline:
        time.sleep(0.1)


def run(args, ctx: Ctx, phases: list, out: dict) -> None:
    """Set up N_SETUPS times, then run passes until ``args.seconds`` have
    passed; the first pass also checks outputs."""
    cpus = nproc()
    setups, get_spark_s, warm_s, setup_cpu = [], [], [], []
    for k in range(N_SETUPS):
        t0, cpu0 = time.perf_counter(), measure.cpu_s()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = start_spark(ctx, cpus)
        get_spark_s.append(time.perf_counter() - t0)
        data = os.path.join(ctx.run_dir, "data", f"setup{k}")
        shutil.rmtree(os.path.join(ctx.run_dir, "data", f"setup{k - 1}"),
                      ignore_errors=True)
        out["inputs"] = {ph.name: ph.prepare(ctx, data) for ph in phases}
        # one trivial job starts the session's lazy machinery (executor
        # threads, codegen); the engine's own code paths stay cold, as a
        # fresh command-line process finds them
        t1 = time.perf_counter()
        ctx.spark.range(1).count()
        warm_s.append(time.perf_counter() - t1)
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(measure.cpu_s() - cpu0)
    out["setup_runs_s"] = setups
    out["setup_runs_cpu_s"] = setup_cpu
    out["setup_get_spark_s"] = get_spark_s
    out["setup_warm_s"] = warm_s
    ctx.spark.streams.addListener(measure.make_listener(ctx.stream_events))

    def one_pass():
        ctx.pass_no += 1
        ctx.checking = ctx.pass_no == 1
        c0, o0, k0 = ctx.check_s, ctx.overhead_s, ctx.check_cpu_s
        t0, cpu0 = time.perf_counter(), measure.cpu_s()
        with ctx.tracer.span("pass"), ctx.wrap_retrieval():
            for ph in phases:
                ph.run_pass(ctx)
        cpu.append(measure.cpu_s() - cpu0 - (ctx.check_cpu_s - k0))
        return time.perf_counter() - t0 - (ctx.check_s - c0), ctx.overhead_s - o0

    ctx.tracer = measure.Tracer(ctx.traced)
    passes, overheads, cpu = [], [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        wall, over = one_pass()
        passes.append(wall)
        overheads.append(over)
        if time.perf_counter() >= deadline:
            break
    if ctx.traced:
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    out["passes_s"] = passes
    out["check_s"] = ctx.check_s
    out["setup_wall_s"] = median(setups)
    out["setup_s"] = median(setup_cpu)
    out["pass_s"] = median(passes)
    out["pass_cpu_s"] = median(cpu)
    out["trace_overhead_s"] = median(overheads)


def end_to_end(ctx: Ctx, out: dict) -> dict:
    out["op_cpu_p50_s"] = median([o["cpu_s"] for o in ctx.ops])
    return {k: out[k] for k in END_TO_END}


def per_layer(ctx: Ctx, out: dict, elog: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    ops = ctx.ops
    n_pass = len(out["passes_s"])
    m["mem.peak_rss_mb"] = out["peak_rss_mb"]
    m["mem.jvm_hwm_mb"] = out["hwm_mb"].get("java", 0.0)
    m["session.get_spark_s"] = median(out["setup_get_spark_s"])
    m["session.warmup_s"] = median(out["setup_warm_s"])
    per_pass = defaultdict(lambda: defaultdict(float))
    in_check = set()
    for s in ctx.tracer.spans:  # parents precede children
        if s["name"] == "check" or s["parent"] in in_check:
            in_check.add(s["id"])
    for s in ctx.tracer.spans:
        metric = SPAN_METRICS.get(s["name"])
        if metric and s["end"] is not None and s["id"] not in in_check:
            p = int(s["op"][1:].split("o")[0]) if s["op"] else 0
            per_pass[metric][p] += s["end"] - s["start"]
    for metric, by_pass in per_pass.items():
        m[metric] = median(list(by_pass.values()))
    if ctx.layer["_eager"]:
        m["registry.eager_jobs"] = sum(ctx.layer["_eager"]) / n_pass
    if ops:
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = sum(o[k] for o in ops) / len(ops)
        m["io.tmp_residue_bytes"] = max(o["residue"] for o in ops)
    for k in ("job_wall_s", "task_run_s", "task_cpu_s", "gc_s", "shuffle_records",
              "spill_bytes", "scan_rows"):
        m[f"exec.{k}"] = sum(elog.get(o["gid"], {}).get(k, 0) for o in ops) / n_pass
    # the share of each kind of op's wall during which a Spark job ran:
    # data work, against driver-side planning and Python between jobs
    share = defaultdict(lambda: [0.0, 0.0])
    for o in ops:
        share[o["kind"]][0] += elog.get(o["gid"], {}).get("job_wall_s", 0)
        share[o["kind"]][1] += o["s"]
    out["job_wall_share"] = {k: j / w for k, (j, w) in share.items() if w}
    search = [o for o in ops if o["kind"] == "search"]
    results = sum(o.get("rows", 0) for o in search)
    if search:
        m["retrieval.scan_rows_per_result"] = sum(
            elog.get(o["gid"], {}).get("scan_rows", 0) for o in search) / max(results, 1)
    deletes = [o["s"] for o in ops if o["name"] == "delete"]
    if deletes:
        m["retrieval.delete_s"] = median(deletes)
    for k in ("io.scan_groups", "io.bytes_written_per_input_byte",
              "io.silver_files", "etl.quarantine_ratio", "curate.keep_ratio",
              "retrieval.append_bytes_per_batch_byte", "retrieval.index_bytes",
              "retrieval.index_files"):
        if ctx.layer[k]:
            m[k] = median(ctx.layer[k])
    m.update(stream_layer(ctx, n_pass))
    m["trace.coverage"] = ctx.tracer.coverage(LAYER_SPANS)
    m["trace.pass_s"] = out["pass_s"]
    m["trace.overhead_s"] = out["trace_overhead_s"]
    # a layer the workload never reached reads 0
    return {k: v if math.isfinite(v) else 0.0 for k, v in m.items()}


def stream_layer(ctx: Ctx, n_pass: int) -> dict:
    prog = [e for _t, evs in ctx.stream_ops for e in evs if e["kind"] == "progress"]
    if not prog:
        return {}
    d = {}
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                      ("queryPlanning", "query_planning_ms")):
        d[f"streaming.{name}"] = median([e["dur"].get(key, 0) for e in prog])
    d["streaming.batches"] = len(prog) / n_pass
    d["streaming.state_commit_ms"] = median([e["state_commit_ms"] for e in prog])
    d["streaming.state_rows"] = max(e["state_rows"] for e in prog)
    d["streaming.state_memory_bytes"] = max(e["state_mem"] for e in prog)
    d["streaming.state_instances"] = max(e["state_instances"] for e in prog)
    first = []
    for t0, evs in ctx.stream_ops:
        walls = [e["wall"] for e in evs if e["kind"] == "progress"]
        if walls:
            first.append(min(walls) - t0)
    d["streaming.start_to_first_batch_s"] = median(first)
    return d


def environment() -> dict:
    import pyspark

    java = None
    try:
        p = subprocess.run(["java", "-version"], capture_output=True, text=True,
                           timeout=30)
        java = (p.stderr or p.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    sha = None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=30)
        sha = p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": nproc(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_memory": DRIVER_MEMORY, "pyspark": pyspark.__version__,
            "java": java, "git_sha": sha, "python": sys.version.split()[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: falsify one checked output")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ir_analyses_spark", "registry.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the workers of Python data sources import the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from ir_analyses_spark.streaming.pbvendor import ensure_protobuf_driver

    ensure_protobuf_driver()

    sizes = SIZES[args.size]
    phases = [W.PHASES[p](sizes[p]) for p in WORKLOADS[args.workload]]
    if args.corrupt:
        for ph in phases:
            ph.corrupt = True
    ctx = Ctx(args.seed, bool(args.trace), run_dir)
    out = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "size": args.size, "env": environment()}
    rss = measure.RssPeak()
    elog = {}
    try:
        run(args, ctx, phases, out)
        for ph in phases:
            out.update(ph.detail(ctx, ctx.ops))
    finally:
        out["peak_rss_mb"] = rss.stop_mb()
        out["hwm_mb"] = measure.hwm_mb()
        stop_spark(ctx)
        if ctx.traced:
            elog = measure.parse_event_log(os.path.join(run_dir, "eventlog"))
        out["tmp_residue_bytes"] = measure.dir_bytes(tmp)
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        if ctx.traced:
            ctx.tracer.dump(os.path.join(
                results, f"{args.workload}-seed{args.seed}-spans.json"))
            out["span_self_s"] = ctx.tracer.self_times()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_ops = [o for o in ctx.ops if not o["ok"]]
    out["checked"] = ctx.checked
    out["check_errors"] = ctx.check_errors
    attempted = len(ctx.ops) + ctx.checked
    failed = len(failed_ops) + len(ctx.check_errors)
    out["error_rate"] = failed / attempted
    out["failed_ops"] = [f"{o['name']}: {o['error']}" for o in failed_ops]
    if ctx.traced:
        metrics = per_layer(ctx, out, elog)
        units = PER_LAYER
    else:
        metrics = end_to_end(ctx, out)
        units = END_TO_END
    out["input_bytes"] = sum(i["input_bytes"] for i in out["inputs"].values())
    out["input_rows"] = sum(i["input_rows"] for i in out["inputs"].values())
    out["metrics"] = metrics
    out["ops"] = [{k: o.get(k) for k in ("name", "kind", "pass", "s", "cpu_s", "ok")}
                  for o in ctx.ops]
    with open(os.path.join(HERE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    for k, v in out["env"].items():
        print(f"env {k} {v}")
    for k, v in out.items():
        if k not in ("metrics", "inputs", "env") and not isinstance(v, (list, dict)):
            print(f"detail {k} {v}")
    for e in out["check_errors"] + out["failed_ops"]:
        print(f"error {e}")
    for k, v in metrics.items():
        print(f"metric {k} {v} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
