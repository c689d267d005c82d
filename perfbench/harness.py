"""Session lifecycle, timing spans, resource sampling and event-log parsing.

The benchmark measures the engine from outside: every call into a module's
public function runs inside a :class:`Tracer` span that times it and, when
tracing is on, labels its Spark jobs with a job group (one per span) and
the description ``<module>.<function>``.  After the run, :func:`parse_event_log`
reads Spark's local event log and rolls jobs, stages, tasks and SQL metrics
up to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict

def configure_env(work: str, cores: int, event_dir: str | None) -> None:
    """Point every file Spark, the JVM and Python workers write at ``work``
    and size the session; must run before the first Spark import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"


def start_session():
    from geetiles_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited.

    ``spark.stop()`` leaves the JVM running; on its own it only exits once
    it reads end-of-file on its stdin, which happens when this process ends."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the connection may be gone already
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (Linux ``PR_SET_CHILD_SUBREAPER``): the
    Python daemon and workers the JVM forks reparent to this process when
    the JVM exits, so :func:`reap_descendants` can still find them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def reap_descendants(grace: float = 15.0) -> None:
    """Wait until every process this one started, and every process those
    started, has ended; kill what is still running after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        _reap_exited()
        live = [p for p in descendants(os.getpid()) if _running(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def force(df, *metrics):
    """Run ``df`` to completion through a noop-format write.  Optional
    aggregate ``metrics`` ride along through ``observe()`` and are returned
    as a dict, so counting or digesting the output costs no second job."""
    obs = None
    if metrics:
        from pyspark.sql.observation import Observation

        obs = Observation()
        df = df.observe(obs, *metrics)
    df.write.format("noop").mode("overwrite").save()
    return dict(obs.get) if obs is not None else {}


def count_and_digest(cols):
    """observe() aggregates: row count and an order-independent digest of
    the rows (the exact decimal sum of per-row xxhash64 values)."""
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("digest"),
    )


class Tracer:
    """Times calls as spans; with ``labels`` on, tags their Spark jobs."""

    def __init__(self, spark, labels: bool):
        self.sc = spark.sparkContext
        self.labels = labels
        self.spans: list[dict] = []
        self.pass_no = 0

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as span ``name``; returns (result, seconds)."""
        sid = f"pb{len(self.spans)}"
        if self.labels:
            self.sc.setJobGroup(sid, name)
            self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            if self.labels:
                self.sc.setJobGroup("perfbench-untimed", "untimed")
                self.sc.setJobDescription(None)
        self.spans.append({"id": sid, "name": name, "s": dt, "pass": self.pass_no})
        return out, dt

    def note(self, **values) -> None:
        """Attach measured values (row counts, bytes) to the last span."""
        self.spans[-1].update(values)


class RssSampler:
    """Peak memory of this process's descendants: the JVM and the Python
    workers it forks, each summed separately and sampled on a background
    thread.  Each process counts its proportional set size, so pages the
    forked Python workers share are counted once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = {"jvm": 0, "python_workers": 0}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            for k, v in descendants_pss_kb(os.getpid()).items():
                self.peak_kb[k] = max(self.peak_kb[k], v)
            self._stop.wait(self.period)


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def descendants_pss_kb(pid: int) -> dict[str, int]:
    """Summed PSS of the descendant JVM processes and of every other
    descendant (the Python workers)."""
    total = {"jvm": 0, "python_workers": 0}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python_workers"
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total[kind] += int(line.split()[1])
                        break
        except OSError:  # the process exited between listing and reading
            pass
    return total


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ------------------------------------------------------------ event log ----


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(event_dir: str) -> dict[str, dict]:
    """Roll the event log up to job groups (= span ids).

    Returns ``{group: {"jobs", "shuffle_bytes", "spill_bytes", "python_s",
    "max_task_ratio", "nodes"}}``.  ``nodes`` lists, per SQL plan node the
    group's executions ran, ``(node_name, {metric: value}, child_indices)``
    so callers can read row counts off specific operators."""
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "executions": set()}
    )
    stage_group: dict[int, str] = {}
    stage_accs: dict[int, dict[int, str]] = {}  # stage -> {accumulator id: name}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    # accumulator values are cumulative (a stage reports the running total),
    # so the largest value seen is the total
    acc_values: dict[int, float] = defaultdict(float)
    plans: dict[int, dict] = {}

    def seen(aid, v):
        acc_values[aid] = max(acc_values[aid], _num(v))

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if not g:
                        continue
                    rec = groups[g]
                    rec["jobs"] += 1
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        rec["executions"].add(int(ex))
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_accs[info["Stage ID"]] = {
                        a["ID"]: a.get("Name", "") for a in info.get("Accumulables", [])
                    }
                    for a in info.get("Accumulables", []):
                        seen(a["ID"], a.get("Value"))
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    if e.get("Task End Reason", {}).get("Reason") == "Success":
                        stage_tasks[e["Stage ID"]].append(_num(tm.get("Executor Run Time")))
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in e.get("accumUpdates", []):
                        seen(aid, v)
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[int(e["executionId"])] = e["sparkPlanInfo"]

    out = {}
    for g, rec in groups.items():
        stages = [s for s, gg in stage_group.items() if gg == g and s in stage_accs]

        def total(name):
            ids = {a for s in stages for a, n in stage_accs[s].items() if n == name}
            return sum(acc_values[a] for a in ids)

        ratio = 1.0
        if stages:
            heavy = max(stages, key=lambda s: sum(stage_tasks.get(s, [0])))
            ts = stage_tasks.get(heavy, [])
            if ts and statistics.median(ts) > 0:
                ratio = max(ts) / statistics.median(ts)
        nodes: list = []
        for ex in sorted(rec["executions"]):
            if ex in plans:
                _flatten(plans[ex], acc_values, nodes)
        out[g] = {
            "jobs": rec["jobs"],
            "shuffle_bytes": total("internal.metrics.shuffle.write.bytesWritten"),
            "spill_bytes": total("internal.metrics.diskBytesSpilled"),
            "python_s": total("time to run Python workers") / 1000.0,
            "max_task_ratio": ratio,
            "nodes": nodes,
        }
    return out


def _flatten(info: dict, acc_values: dict, nodes: list) -> int:
    kids = [_flatten(c, acc_values, nodes) for c in info.get("children", [])]
    metrics = {m["name"]: acc_values.get(m["accumulatorId"], 0.0) for m in info.get("metrics", [])}
    nodes.append((info.get("nodeName", ""), metrics, kids))
    return len(nodes) - 1


def node_rows(nodes: list, prefix: str, metric: str = "number of output rows") -> float:
    return sum(m.get(metric, 0.0) for n, m, _ in nodes if n.startswith(prefix))


def refine_input_rows(nodes: list) -> tuple[float, float]:
    """(rows into, rows out of) every MapInPandas that sits above a join —
    the exact refine step of a filter-and-refine spatial join.  The rows in
    are read off the nearest descendant that counts its output rows."""
    rows_in = rows_out = 0.0

    def has_join_below(i):
        return any("Join" in nodes[k][0] or has_join_below(k) for k in nodes[i][2])

    def first_counted(i):
        for k in nodes[i][2]:
            if "number of output rows" in nodes[k][1]:
                return nodes[k][1]["number of output rows"]
            v = first_counted(k)
            if v is not None:
                return v
        return None

    for i, (n, m, _) in enumerate(nodes):
        if n.startswith("MapInPandas") and has_join_below(i):
            rows_out += m.get("number of output rows", 0.0)
            rows_in += first_counted(i) or 0.0
    return rows_in, rows_out
