"""Shared machinery of the benchmark: deployment settings, session
set-up, spans and job groups, streaming progress, event-log reading,
memory sampling and the result line.

Nothing here changes a program default.  The benchmark passes only
deployment settings -- CPU count, driver heap, local directories -- and,
in the traced run, Spark event logging.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
PACKAGE = "gmall_flink_2022_spark"


def process_start_time() -> float:
    """Wall time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def driver_heap_mb(mem_total_mb: int) -> int:
    """Driver heap sized to the host: a fifth of physical memory, between
    1 GiB and 4 GiB, so the JVM, the Python workers and the page cache
    all fit beside each other on a shared machine."""
    return max(1024, min(4096, mem_total_mb // 5))


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty sample."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans around calls into the program's layers, held in memory and
    written when the run ends.  A span also names the Spark job group of
    the jobs its thread submits, so event-log tasks attribute to layers.
    Disabled, it records nothing and touches no Spark state."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        parent = getattr(self._local, "cur", None)
        sid = next(self._ids)
        prev_group = None
        if self.sc is not None and group:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._local.cur = sid
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._local.cur = parent
            if self.sc is not None and group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent,
                                   "run": self.run_id})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class RssSampler:
    """Peak resident memory of the JVM plus the Python workers: every
    process descended from this one except the load generator, summed,
    sampled every 0.25 s."""

    def __init__(self):
        self.peak_kb = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


class Run:
    """One benchmark run: its work directory, session, counters, spans."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool,
                 inject: str = ""):
        self.t_process = process_start_time()
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.host = host_facts()
        self.cpus = self.host["nproc"]
        self.work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.inject = inject  # self-test fault: "stream-death" or "corrupt-result"
        self.fault_after = 0.0  # when the injected stream death is due
        self.check = lambda: True  # the workload's output check, set by its run()
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.spark = None
        self.setup_s = 0.0
        self.listener = None
        self._idle = 0.0
        self._procs: list[subprocess.Popen] = []

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def problem(self, msg: str, count: int = 1) -> None:
        """Record ``count`` failed operations with a reason (stderr)."""
        self.failed += count
        self.problems.append(msg)
        print(f"[perfbench] FAILED x{count}: {msg}", file=sys.stderr, flush=True)

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    # ------------------------------------------------------------ generator
    def gen(self, mode: str, *args: str, wait: bool = True,
            seed: int | None = None) -> subprocess.Popen:
        seed = self.seed if seed is None else seed
        cmd = [sys.executable, GEN, mode, "--seed", str(seed), *args]
        # stdout is kept for the result line alone
        p = subprocess.Popen(cmd, cwd=self.root, stdout=sys.stderr)
        self.rss.exclude.add(p.pid)
        self._procs.append(p)
        if wait and p.wait() != 0:
            raise RuntimeError(f"generator {mode} exited with {p.returncode}")
        return p

    # ---------------------------------------------------------------- setup
    def _deploy(self) -> dict[str, str]:
        """Deployment settings only: CPU count, driver heap, local dirs."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb(self.host['mem_total_mb'])}m"
        # every JVM started (the launcher and the driver) keeps its
        # temporary files inside the work directory
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} -XX:-UsePerfData")
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            evdir = os.path.join(self.work, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = evdir
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup(self) -> None:
        """Start the session from process start to its first finished
        Spark job.  ``setup_s`` is that time plus whatever the workload
        spends inside ``warming()``; input generation in between is not
        counted."""
        sys.path.insert(0, self.root)
        from gmall_flink_2022_spark.session import get_spark

        self.rss.start()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", **self._deploy())
        self.tracer.sc = self.spark.sparkContext if self.trace else None
        with self.tracer.span("setup.first_job", group="setup"):
            self.spark.range(1 << 16).selectExpr("sum(id)").collect()
        self.setup_s = time.time() - self.t_process
        if self.trace:
            self._add_listener()

    @contextmanager
    def warming(self):
        """The workload's own warm-up: timed into ``setup_s``, less any
        ``idle()`` inside it."""
        t0 = time.time()
        self._idle = 0.0
        with self.tracer.span("setup.warmup", group="setup"):
            yield
        self.setup_s += time.time() - t0 - self._idle

    def idle(self, seconds: float) -> None:
        """Sleep inside ``warming()`` without counting it as set-up."""
        time.sleep(seconds)
        self._idle += seconds

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.progress: list[dict] = []
                self.terminated: list[str | None] = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                self.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.terminated.append(event.exception)

        self.listener = Progress()
        self.spark.streams.addListener(self.listener)

    # -------------------------------------------------------------- finish
    def close(self) -> None:
        for p in self._procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self._stop_jvm()
            self.spark = None

    def event_log(self) -> list[dict]:
        """Events of every application of this run (traced runs only;
        call after the session has stopped).  Handles plain and rolling
        (directory) event logs."""
        evdir = os.path.join(self.work, "eventlog")
        files = []
        for dirpath, _dirs, names in os.walk(evdir):
            for name in names:
                if not name.startswith((".", "appstatus")):
                    files.append(os.path.join(dirpath, name))

        def order(path):
            m = re.match(r"events_(\d+)_", os.path.basename(path))
            return (os.path.dirname(path), int(m.group(1)) if m else 0)

        out = []
        for path in sorted(files, key=order):
            with open(path) as f:
                for line in f:
                    out.append(json.loads(line))
        return out


def exec_metrics(events: list[dict]) -> dict:
    """Task-level totals from the event log, for jobs outside the set-up
    and check job groups, plus task seconds and scheduler waits (job
    submit to first task launch) per job group."""
    stage_group: dict[int, str] = {}
    job_submit: dict[int, tuple[float, list[int], str]] = {}
    first_launch: dict[int, float] = {}
    tasks: dict[int, list[float]] = {}
    tot = {"task": 0.0, "cpu": 0.0, "gc": 0.0, "sw": 0.0, "sr": 0.0, "spill": 0.0}
    group_task: dict[str, float] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for s in e.get("Stage IDs", []):
                stage_group[s] = g
            job_submit[e["Job ID"]] = (e["Submission Time"] / 1000.0,
                                       e.get("Stage IDs", []), g)
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if stage_group.get(sid, "") in ("setup", "check"):
                continue
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            launch = info["Launch Time"] / 1000.0
            first_launch[sid] = min(first_launch.get(sid, launch), launch)
            run_s = m.get("Executor Run Time", 0) / 1000.0
            tasks.setdefault(sid, []).append(run_s)
            tot["task"] += run_s
            tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            tot["gc"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            g = stage_group.get(sid, "")
            group_task[g] = group_task.get(g, 0.0) + run_s
    skews = []
    for ts in tasks.values():
        if len(ts) >= 2 and median(ts) > 0:
            skews.append(max(ts) / median(ts))
    waits = {}
    for _, (t_sub, stages, g) in job_submit.items():
        launches = [first_launch[s] for s in stages if s in first_launch]
        if launches:
            waits.setdefault(g, []).append(max(0.0, min(launches) - t_sub))
    return {
        "exec.task_s": tot["task"], "exec.cpu_s": tot["cpu"], "exec.gc_s": tot["gc"],
        "exec.task_skew": median(skews), "shuffle.write_bytes": tot["sw"],
        "shuffle.read_bytes": tot["sr"], "spill.bytes": tot["spill"],
        "_group_task": group_task, "_waits": waits,
    }


def progress_metrics(progress: list[dict]) -> dict:
    """Per-layer streaming metrics from StreamingQueryListener progress."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0 or p.get("stateOperators")]
    dur = lambda k: [p.get("durationMs", {}).get(k, 0) for p in data]  # noqa: E731
    last_state: dict[str, list[dict]] = {}
    for p in progress:
        if p.get("stateOperators"):
            last_state[p["id"]] = p["stateOperators"]
    ops = [op for v in last_state.values() for op in v]
    commit = [sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))
              for p in data if p.get("stateOperators")]
    lat = [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))]
    return {
        "sources.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "sources.latest_offset_ms_p50": median(lat),
        "streaming.batches": len(data),
        "streaming.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.planning_ms_p50": median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": median(dur("walCommit")),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "streaming.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
        "streaming.state_commit_ms_p50": median(commit),
        "streaming.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress for op in p.get("stateOperators", [])),
        "_trigger_ms_sum": sum(dur("triggerExecution")),
    }


def source_log(ckpt: str) -> dict[str, int]:
    """file name -> id of the query batch that read it, for every file
    source of a query, from its checkpoint: each source's metadata log
    gives the file's log offset, and the query's offset log gives the
    first batch whose end offset for that source reaches it."""
    by_src: dict[int, dict[str, int]] = {}
    base = os.path.join(ckpt, "sources")
    for src in (os.listdir(base) if os.path.isdir(base) else []):
        d = os.path.join(base, src)
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            for e in _log_entries(os.path.join(d, name)):
                by_src.setdefault(int(src), {})[os.path.basename(e["path"])] = int(e["batchId"])
    ends: list[tuple[int, list]] = []
    odir = os.path.join(ckpt, "offsets")
    for name in (os.listdir(odir) if os.path.isdir(odir) else []):
        if name.isdigit():
            try:
                with open(os.path.join(odir, name)) as f:
                    lines = f.read().splitlines()[2:]
            except OSError:
                continue
            offs = []
            for line in lines:
                try:
                    offs.append(json.loads(line).get("logOffset"))
                except (ValueError, AttributeError):
                    offs.append(None)
            ends.append((int(name), offs))
    ends.sort()
    out: dict[str, int] = {}
    for src, files in by_src.items():
        for f, log_off in files.items():
            for batch, offs in ends:
                if src < len(offs) and offs[src] is not None and offs[src] >= log_off:
                    out[f] = batch
                    break
    return out


def _log_entries(path: str) -> list[dict]:
    try:
        with open(path) as f:
            lines = f.read().splitlines()[1:]
    except OSError:
        return []
    out = []
    for line in lines:
        try:
            out.append(json.loads(line))
        except ValueError:
            pass  # a log file caught mid-write
    return out


def program_id(root: str) -> str:
    """The checkout's git commit, or -- outside a git checkout -- a
    digest of the program's Python sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "sha256:" + h.hexdigest()[:16]


def emit(run: Run, correct: bool, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result line, and keep it with the host facts under
    ``.perfbench/results.jsonl``."""
    result = {
        "correct": bool(correct),
        "attempted": int(max(run.attempted, 1)),
        "failed": int(min(run.failed, max(run.attempted, 1))),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"workload": run.workload, "seed": run.seed, "seconds": run.seconds,
              "trace": run.trace, "host": dict(run.host, program=program_id(run.root)),
              "problems": run.problems, "result": result}
    with open(os.path.join(run.root, ".perfbench", "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    sys.stdout.flush()
