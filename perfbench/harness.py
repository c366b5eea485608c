"""Shared benchmark machinery: work directory, Spark session construction,
spans, event-log metrics, peak-RSS sampling and the run context.

Everything here is driven from the benchmark's own files; the package
under test is only called through its public entry points.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
CORES = 4
DRIVER_HEAP = "3g"


def prepare_env() -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers inside the checkout, and make the package importable
    by the workers, before the JVM starts."""
    for sub in ("local", "tmp", "warehouse", "cache", "out", "events"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def median(values) -> float:
    return float(statistics.median(values))


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))])


# ---------------------------------------------------------------- sessions


def start_session(cores: int = CORES, event_dir: Path | None = None):
    """The benchmark's one session constructor: the package's own
    build_session with the benchmark's heap, scratch dirs and, for a
    traced run, the Spark event log."""
    from fluvio_jolt_spark.plans.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC "
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
        })
    return build_session(app_name="perfbench", master=f"local[{cores}]",
                         shuffle_partitions=cores, extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: closing its
    stdin is the gateway's own shutdown signal."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, trace id). When
    enabled, each span also becomes the Spark job description, so the
    event log attributes every job to the innermost open span."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = uuid.uuid4().hex[:16]

    def attach(self, sc) -> None:
        """Use a (new) SparkContext; jobs it runs from now on carry the
        innermost open span's name."""
        self.sc = sc
        self._describe(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _describe(self, name) -> None:
        if self.enabled and self.sc is not None and self.sc._jsc is not None:
            self.sc.setJobDescription(name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "trace": self.trace_id, "start": time.perf_counter(), "end": None})
        self._stack.append(sid)
        self._describe(name)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self.spans[parent]["name"] if parent is not None else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- event log

EMPTY = {"tasks": {}, "plans": {}, "jobs": 0}
_TREE_EXCHANGE = re.compile(r"\bExchange \((\d+)\)")


def plan_exchanges(plan: str) -> tuple[int, int]:
    """(shuffle exchanges, round-robin exchanges) in the final plan of a
    formatted physical-plan description (tree, then numbered details)."""
    tree, _, details = plan.partition("\n\n\n")
    ids = _TREE_EXCHANGE.findall(tree.split("== Initial Plan ==")[0])
    round_robin = 0
    for i in ids:
        m = re.search(rf"^\({i}\) Exchange\n(?:.*\n)*?Arguments: (\w+)", details, re.M)
        round_robin += bool(m and m.group(1) == "RoundRobinPartitioning")
    return len(ids), round_robin


def read_event_logs(event_dir: Path) -> dict:
    """Per job description: task metrics of its stages and the final
    physical plans of its SQL executions, from every event-log file."""
    by_desc: dict[str, dict] = {}

    def slot(desc):
        return by_desc.setdefault(desc or "", {"tasks": {}, "plans": {}, "jobs": 0})

    for path in sorted(event_dir.rglob("events_*")):
        stage_desc: dict[int, str] = {}
        tasks: list[tuple[int, dict]] = []
        plans: dict[int, tuple[str, str]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    slot(desc)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = (ev.get("description"), ev.get("physicalPlanDescription", ""))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    if eid in plans:
                        plans[eid] = (plans[eid][0], ev.get("physicalPlanDescription", ""))
        for sid, m in tasks:
            stages = slot(stage_desc.get(sid))["tasks"]
            stages.setdefault((str(path), sid), []).append(m)
        for eid, (desc, plan) in plans.items():
            slot(desc)["plans"][(str(path), eid)] = plan
    return by_desc


def spark_metrics(entries: list[dict]) -> dict:
    """Shuffle/spill/GC totals, task skew of the heaviest stage, and the
    exchange counts of the final plans, over event-log entries."""
    shuffle_w = shuffle_r = spill = gc_ms = 0
    stages: dict = {}
    exchanges = round_robin = jobs = 0
    for e in entries:
        jobs += e["jobs"]
        for key, ms in e["tasks"].items():
            stages.setdefault(key, []).extend(ms)
        for plan in e["plans"].values():
            n, rr = plan_exchanges(plan)
            exchanges += n
            round_robin += rr
    for ms in stages.values():
        for m in ms:
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            gc_ms += m.get("JVM GC Time", 0)
    skew = 1.0
    if stages:
        heaviest = max(stages.values(), key=lambda ms: sum(m.get("Executor Run Time", 0) for m in ms))
        run = [m.get("Executor Run Time", 0) for m in heaviest]
        skew = max(run) / max(median(run), 1.0)
    return {
        "shuffle_write_mb": shuffle_w / 1e6,
        "shuffle_read_mb": shuffle_r / 1e6,
        "spill_mb": spill / 1e6,
        "gc_s": gc_ms / 1e3,
        "task_skew": skew,
        "exchanges": exchanges,
        "repartitions": round_robin,
        "jobs": jobs,
    }


def pass_metrics(entries: list[dict], n_passes: int) -> dict:
    """Event-log metrics of the traced passes, per pass (task skew as is)."""
    sm = spark_metrics(entries)
    out = {f"spark.{k}": v if k == "task_skew" else v / n_passes
           for k, v in sm.items() if k not in ("repartitions", "jobs")}
    out["operators.partitioning.repartitions"] = sm["repartitions"] / n_passes
    return out


def task_seconds(entries: list[dict]) -> float:
    return sum(m.get("Executor Run Time", 0) for e in entries
               for ms in e["tasks"].values() for m in ms) / 1e3


# ---------------------------------------------------------------- memory


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _proc_kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class MemorySampler:
    """Peak memory of the driver JVM and the Python workers it forks:
    the JVM's own high-water mark (VmHWM; the largest of the JVMs, which
    a run starts one after another) plus the peak sampled sum of the
    workers' proportional set size, which splits the pages forked
    workers share with their parent instead of counting them per worker."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.jvm_hwm_kb: dict[int, int] = {}
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        workers = 0
        for pid in _descendants(os.getpid()):
            if _comm(pid) == "java":
                hwm = _proc_kb(f"/proc/{pid}/status", "VmHWM:")
                self.jvm_hwm_kb[pid] = max(self.jvm_hwm_kb.get(pid, 0), hwm)
            else:
                workers += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        self.workers_peak_kb = max(self.workers_peak_kb, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def parts_mb(self) -> dict:
        return {"jvm": max(self.jvm_hwm_kb.values(), default=0) / 1024.0,
                "workers": self.workers_peak_kb / 1024.0}

    @property
    def peak_mb(self) -> float:
        return sum(self.parts_mb.values())


# ---------------------------------------------------------------- run context


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class RunContext:
    """Host and build facts for the result: a noisy host window shows in
    the output instead of reading as a regression."""

    def __init__(self, seed: int):
        self.seed = seed
        self._cpu0 = _cpu_jiffies()

    def finish(self) -> dict:
        total, steal = _cpu_jiffies()
        dt = total - self._cpu0[0]
        versions = {}
        for mod in ("pyspark", "pyarrow", "orjson", "duckdb"):
            try:
                versions[mod] = __import__(mod).__version__
            except (ImportError, AttributeError):
                versions[mod] = None
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            sha = None
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        return {
            "git_sha": sha,
            "seed": self.seed,
            "nproc": len(os.sched_getaffinity(0)),
            "cores_used": CORES,
            "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
            "driver_heap": DRIVER_HEAP,
            "versions": versions,
            "cpu_steal_pct": round(100.0 * (steal - self._cpu0[1]) / dt, 3) if dt > 0 else None,
            "loadavg": list(os.getloadavg()),
        }
