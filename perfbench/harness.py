"""Shared machinery for the perfbench workloads.

Everything here sits OUTSIDE the library: the Spark session comes from
``scalligraph_spark.get_spark`` with benchmark-only settings, spans are
recorded by wrapping public functions from the outside, and per-op Spark
figures are read offline from Spark's own event log.
"""

from __future__ import annotations

import json
import os
import re
import signal
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLK_TCK = os.sysconf("SC_CLK_TCK")
# A run lives about a minute on a few cores: the C2 compiler threads spend
# more CPU than they win back, and G1's concurrent threads made jobs slower
# and peak RSS depend on when G1 chose to grow the heap (see README.md)
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
DRIVER_MEMORY = "2g"


# -- summaries -----------------------------------------------------------------


def median(values):
    s = sorted(values)
    if not s:
        return None
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


# -- /proc accounting --------------------------------------------------------


def _read_stat(pid: int):
    """(state, ppid, cpu ticks incl. reaped children) from /proc/<pid>/stat, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces/parens: split after the LAST ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return rest[0], int(rest[1]), utime + stime + cutime + cstime


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM child, its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is not None:
            children.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree, including children
    that already exited and were reaped inside the tree."""
    total = 0
    for p in tree_pids(root):
        st = _read_stat(p)
        if st is not None:
            total += st[2]
    return total / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids(root)) / 1024.0


# -- run bookkeeping ---------------------------------------------------------


@dataclass
class Op:
    idx: int
    cls: str
    params: dict
    t0: float = 0.0
    t1: float = 0.0
    ok: bool = False
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Run:
    """Private temp root, Spark session, tracer and op log of one run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = os.path.join(base, f"{workload}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.tmp)
        for d in ("tmp", "eventlog", "warehouse", "local"):
            os.makedirs(os.path.join(self.tmp, d))
        # every temp file the driver, the JVM and the Python workers make
        # lands under the private root
        os.environ["TMPDIR"] = os.path.join(self.tmp, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.slots = max(1, len(os.sched_getaffinity(0)) - 1)
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self._t_start = time.perf_counter()

    def phase(self, name: str) -> None:
        """One stderr line per run phase, with seconds since the run began."""
        print(f"perfbench {self.workload}: {name} at {time.perf_counter() - self._t_start:.1f}s", file=sys.stderr)

    # -- spark ---------------------------------------------------------------
    def start_spark(self):
        if self.spark is not None:
            return self.spark
        # task slots + the one client thread never exceed the cores we have
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_GRAFT_CPUS"] = str(self.slots)
        from scalligraph_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir=" + os.path.join(self.tmp, "tmp"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": "file://" + os.path.join(self.tmp, "eventlog"),
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.slots}]",
            shuffle_partitions=self.slots,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase("spark started")
        return self.spark

    def set_group(self, group: str | None) -> None:
        """Label the calling thread's Spark jobs (traced run only)."""
        if self.trace and self.spark is not None:
            sc = self.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

    def stop(self) -> None:
        """Stop Spark, then the JVM and everything under it, and wait."""
        me = os.getpid()
        pids = [p for p in tree_pids(me) if p != me]
        if self.spark is not None:
            sc = self.spark.sparkContext
            gw = getattr(sc, "_gateway", None)
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # the gateway may already be gone
                    pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            self.spark = None
        deadline = time.time() + 20
        while time.time() < deadline:
            # a zombie has ended; only its parent can still reap it
            if all((_read_stat(p) or ("Z",))[0] in ("Z", "X") for p in pids):
                break
            time.sleep(0.2)
        else:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        base = os.path.dirname(self.tmp)
        try:
            os.rmdir(base)
        except OSError:
            pass

    # -- ops -----------------------------------------------------------------
    def fail(self, op: Op, msg: str) -> None:
        op.ok = False
        self.failures.append(f"{op.cls}#{op.idx}: {msg}")


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def count_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def time_setup(fn, reps: int) -> tuple[float, object]:
    """Run ``fn(i)`` ``reps`` times; (median seconds, last result)."""
    times, out = [], None
    for i in range(reps):
        t = time.perf_counter()
        out = fn(i)
        times.append(time.perf_counter() - t)
    return median(times), out


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) around public
    functions, installed by wrapping module/class attributes from outside."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None  # one closed-loop client: one op at a time
        self._local = threading.local()
        self._mu = threading.Lock()

    def wrap(self, owner, attr: str, name: str, on_exit=None, on_enter=None, also=()) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.  ``on_enter``
        / ``on_exit`` may annotate the span; ``also`` lists further
        namespaces that re-export the same object."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = {
                "name": name,
                "op": tracer.op,
                "parent": stack[-1]["id"] if stack else None,
                "start": time.perf_counter(),
            }
            with tracer._mu:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span)
            if on_enter is not None:
                on_enter(span, args, kwargs)
            out = None
            try:
                out = orig(*args, **kwargs)
                return out
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
                if on_exit is not None:
                    on_exit(span, args, kwargs, out)

        setattr(owner, attr, wrapper)
        for ns in also:
            if getattr(ns, attr, None) is orig:
                setattr(ns, attr, wrapper)

    def durations_ms(self, name: str, ops: set | None = None) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and "end" in s and (ops is None or s["op"] in ops)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def planning_ms(df) -> float:
    """Catalyst analysis+optimization+planning time of ``df``'s query
    execution (forces planning when the action ran on a derived plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total


# -- Spark event log ---------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    sched_wait_ms: float = 0.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from an uncompressed Spark event log."""
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[tuple[int, int]]] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    out: dict[str, GroupStats] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    g = out[group]
                    info = ev.get("Task Info", {})
                    stage_tasks.setdefault(sid, []).append(
                        (info.get("Launch Time", 0), info.get("Finish Time", 0))
                    )
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.cpu_ms += (m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0)) / 1e6
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
    for sid, (sub, done) in stage_span.items():
        group = stage_group.get(sid)
        tasks = stage_tasks.get(sid)
        if group is None or not tasks:
            continue
        longest = max(f - l for l, f in tasks)
        out[group].sched_wait_ms += max(0, (done - sub) - longest)
    return out


def sum_groups(stats: dict[str, GroupStats], pattern: str) -> GroupStats:
    rx = re.compile(pattern)
    tot = GroupStats()
    for g, s in stats.items():
        if rx.fullmatch(g):
            for k in tot.__dataclass_fields__:
                setattr(tot, k, getattr(tot, k) + getattr(s, k))
    return tot


# -- reporting ---------------------------------------------------------------


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(run: Run, metrics: dict[str, tuple[float, str]]) -> dict:
    """Build the result object; every declared metric of the run's kind
    must be present with its declared unit, and nothing else."""
    decl = load_declared()
    kind = "per_layer" if run.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in decl[kind]}
    missing = sorted(set(want) - set(metrics))
    extra = sorted(set(metrics) - set(want))
    if missing or extra:
        raise RuntimeError(f"metric set mismatch: missing={missing} undeclared={extra}")
    bad_unit = [n for n, (_, u) in metrics.items() if u != want[n]]
    if bad_unit:
        raise RuntimeError(f"metric units differ from BENCHMARK.json: {bad_unit}")
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o.ok)
    return {
        "correct": failed == 0 and not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in sorted(metrics.items())},
    }
