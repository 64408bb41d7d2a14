"""Measurement helpers: layer spans, peak RSS, Spark status and event log,
and a streaming progress listener. Nothing here imports the engine."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory layer spans. Each span has a name, start, end, parent span
    and op id; spans are only recorded when ``enabled``, so the untraced
    run pays one attribute test per layer call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()
        self.op = None

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    def add(self, name: str, start: float, end: float, parent: int,
            **attrs) -> None:
        """Record an already-finished span (e.g. a streaming micro-batch
        reported by the listener) under span ``parent``."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "op": self.op,
                "parent": parent, "start": start - self.t0,
                "end": end - self.t0, **attrs})

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += max(0.0, s["end"] - s["start"] - child[s["id"]])
        return dict(out)

    def coverage(self, layers: set[str], root_name: str = "pass") -> float:
        """Share of the passes' wall, checks excluded, that layer spans
        cover: the spans named in ``layers`` directly under an op span. An
        op's time outside them is uncovered. The median over passes."""
        by_parent = defaultdict(list)
        for s in self.spans:
            by_parent[s["parent"]].append(s)
        def dur(s):
            return s["end"] - s["start"] if s["end"] is not None else 0.0

        shares = []
        for p in (s for s in self.spans if s["name"] == root_name):
            kids = by_parent[p["id"]]
            checks = sum(dur(c) for c in kids if c["name"] == "check")
            covered = sum(dur(g) for op in kids if op["name"] == "op"
                          for g in by_parent[op["id"]] if g["name"] in layers)
            shares.append(covered / max(dur(p) - checks, 1e-9))
        return median(shares) if shares else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if not n:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest whole percentile that leaves at
    least 10 samples above it — or the median when fewer than 21 samples
    exist, where no such percentile is above the median."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    pct = max(50, int(100 * (n - 10) / n)) if n > 10 else 50
    # nearest-rank: the k-th smallest with k = ceil(pct/100 * n)
    k = max(1, -(-pct * n // 100))
    return s[k - 1], float(pct), n


class RssPeak:
    """Peak summed RSS of this process's subtree (driver Python, the
    Spark JVM and Python workers), sampled from /proc on a daemon thread;
    the tools/scale_funnel sampler's method at a finer interval."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak_kib = 0
        self.interval = interval
        self._page_kib = os.sysconf("SC_PAGESIZE") // 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        ppid, rss = {}, {}
        for pid_s in os.listdir("/proc"):
            if not pid_s.isdigit():
                continue
            try:
                with open(f"/proc/{pid_s}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{pid_s}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            ppid[int(pid_s)] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[int(pid_s)] = pages * self._page_kib
        total, frontier = 0, {os.getpid()}
        while frontier:
            total += sum(rss.get(p, 0) for p in frontier)
            frontier = {c for c, pp in ppid.items() if pp in frontier}
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak_kib = max(self.peak_kib, self.sample())
            except OSError:
                pass
            self._stop.wait(self.interval)

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kib / 1024


def hwm_mb() -> dict[str, float]:
    """VmHWM (the kernel's peak-RSS mark) of this process and of each live
    descendant, by command name, in MB."""
    out: dict[str, float] = defaultdict(float)
    for pid in [os.getpid()] + children_alive():
        try:
            with open(f"/proc/{pid}/status") as fh:
                st = dict(ln.split(":", 1) for ln in fh if ":" in ln)
            out[st["Name"].strip()] += int(st["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            continue
    return dict(out)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and its live descendants: the driver, the JVM's
    threads and the Python workers."""
    total = 0
    for pid in [os.getpid()] + children_alive():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def children_alive() -> list[int]:
    """Pids of live descendants of this process."""
    ppid = {}
    for pid_s in os.listdir("/proc"):
        if pid_s.isdigit():
            try:
                with open(f"/proc/{pid_s}/stat") as fh:
                    ppid[int(pid_s)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {c for c, pp in ppid.items() if pp in frontier}
        out.extend(frontier)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(suffix))


# ---------------------------------------------------------------------------
# Spark status tracker (jobs / stages / tasks per op job group)
# ---------------------------------------------------------------------------


def group_counts(spark, group: str) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), stages, tasks


# ---------------------------------------------------------------------------
# Spark event log (traced session only)
# ---------------------------------------------------------------------------


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: the wall time during which any of its jobs ran,
    executor run / CPU / GC seconds, shuffle records written, bytes spilled
    and records read by scans, from every event file under ``log_dir``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, float]] = {}
    job_spans: dict[str, list] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".")
    )
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = (g, ev["Submission Time"] / 1e3)
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = g
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    g, t0 = job_group.get(ev["Job ID"], (None, 0.0))
                    if g:
                        job_spans[g].append((t0, ev["Completion Time"] / 1e3))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    o = out[g]
                    o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    o["shuffle_records"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Records Written", 0)
                    o["scan_rows"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
    for g, spans in job_spans.items():
        out[g]["job_wall_s"] = _union_s(spans)
    return out


# ---------------------------------------------------------------------------
# Streaming progress listener
# ---------------------------------------------------------------------------


def make_listener(sink: list):
    """A StreamingQueryListener appending one dict per event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            sink.append({"kind": "start", "id": str(event.id),
                         "wall": time.time(), "ts": event.timestamp})

        def onQueryProgress(self, event):
            p = event.progress
            states = p.stateOperators or []
            sink.append({
                "kind": "progress", "id": str(p.id), "wall": time.time(),
                "ts": p.timestamp, "batch": p.batchId,
                "rows": p.numInputRows, "dur": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_mem": sum(s.memoryUsedBytes for s in states),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
                "state_instances": sum(
                    getattr(s, "numStateStoreInstances", 0) or
                    s.numShufflePartitions for s in states),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            sink.append({"kind": "end", "id": str(event.id),
                         "wall": time.time()})

    return _Listener()


def wait_streams_quiet(events: list, timeout: float = 10.0) -> None:
    """Block until every started query's termination event has arrived
    (listener events are delivered asynchronously)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        started = {e["id"] for e in events if e["kind"] == "start"}
        ended = {e["id"] for e in events if e["kind"] == "end"}
        if started <= ended:
            return
        time.sleep(0.02)
