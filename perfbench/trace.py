"""Measurement layer of the benchmark: spans around the engine's public
functions, py4j call counts, Catalyst phase times, Spark job/stage/task
figures, process CPU and memory, and the host context.

Everything here observes the engine from outside. Spans are recorded
only in a traced run, by wrapping the public functions the benchmark
calls into; an untraced run installs nothing and pays nothing.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import platform
import subprocess
import time
from collections import defaultdict
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: float = 0.0  # time covered by direct child spans

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children


@dataclass
class OpRecord:
    """One timed operation of the closed loop."""

    kind: str
    wall_s: float
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    catalyst_ms: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)
    sink_tail_s: float | None = None
    persisted_rdds: int | None = None
    ok: bool = True
    detail: str = ""  # write kind or registry row name
    n_queries: int = 0  # query vectors of a search
    cpu_s: float = 0.0  # CPU of the JVM tree and this process during the op
    client_cpu_s: float = 0.0  # the part of cpu_s spent in this process
    steal_s: float = 0.0  # host-wide CPU time the hypervisor took during the op

    def self_times(self) -> dict[str, float]:
        """Self time per span name, plus the ``unattributed`` remainder:
        the part of the op's wall time no span covers. The values add up
        to ``wall_s``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.self_s
        out["unattributed"] = self.wall_s - sum(out.values())
        return dict(out)


class Tracer:
    """Stack of open spans plus the py4j call counter. With
    ``enabled=False`` every method is a no-op and nothing is patched."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self._stack: list[Span] = []
        self._done: list[Span] = []
        self.py4j_calls = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(name, time.perf_counter())
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children += s.end - s.start
            self._done.append(s)

    def take(self) -> list[Span]:
        """Closed spans since the last take()."""
        done, self._done = self._done, []
        return done

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def count_py4j(self) -> None:
        """Count every py4j round trip (client-server and classic modes)."""
        if not self.enabled:
            return
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            fn = cls.send_command

            def counted(conn, command, *a, _fn=fn, **kw):
                self.py4j_calls += 1
                return _fn(conn, command, *a, **kw)

            self._patched.append((cls, "send_command", fn))
            cls.send_command = counted

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


# -- Spark substrate, read through its public status API -----------------

STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "shuffle_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def spark_group_stats(spark, group: str) -> tuple[dict[str, float], float | None]:
    """Jobs, stages and task figures of one job group, and the epoch time
    (s) its last job completed. Waits for the listener bus first so the
    status store has seen every task end."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    stats = dict.fromkeys(["jobs", "stages", *STAGE_FIELDS], 0.0)
    last_end = None
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        stats["jobs"] += 1
        end = store.job(jid).completionTime()
        if end.isDefined():
            t = end.get().getTime() / 1e3
            last_end = t if last_end is None else max(last_end, t)
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages never ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            stats["stages"] += 1
            for k, f in STAGE_FIELDS.items():
                stats[k] += f(sd)
    return stats, last_end


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of an executed DataFrame, read by
    key from its QueryPlanningTracker (a Scala map)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


# -- processes and host ----------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and every live descendant (the JVM and its
    Python workers), including children they have already reaped. Time
    the hypervisor steals is not in it, so it moves less than wall time
    on a contended host."""
    parent: dict[int, int] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        stat[int(d)] = fields
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    ticks = sum(sum(int(x) for x in stat[p][11:15]) for p in tree if p in stat)
    return ticks / CLK_TCK


def proc_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """Host-wide steal time so far (s): CPU taken by the hypervisor."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def source_digest(root: str) -> str:
    """Content hash of the engine package and entry module: identifies the
    code under test when the checkout is not a git repository."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    pkg = os.path.join(root, "executor_u1mindexer_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith((".py", ".c"))]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_context(root: str, spark=None) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    ctx = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "commit": commit,
        "source_digest": source_digest(root),
    }
    if spark is not None:
        ctx["spark"] = spark.version
        ctx["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return ctx
