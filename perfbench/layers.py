"""Per-layer numbers for the traced run, read from outside the program.

Three sources, none of them inside the package:

* Spark's own event log (jobs, stages, tasks and the SQL metrics of
  every plan node), parsed after the session stops;
* a ``StreamingQueryListener`` that the benchmark registers;
* ``/proc``, sampled for the resident memory of the driver JVM (which
  hosts the local executors) and of its Python workers.

The benchmark's own timers around its calls into ``session`` and
``operators`` give the spans these are attributed to:
run -> pass -> op (build, execute) -> job -> stage.

``/proc`` and ``HostProbe`` also serve the end-to-end metrics: CPU
time, stolen time and the host's current speed.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import subprocess
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# Plan nodes whose work runs in Python Arrow workers.
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")


# --------------------------------------------------------------- /proc
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of ``root``
    and every process below it.  Workers that exit are reaped by the
    PySpark daemon, so their time moves into its children's total.
    Time the hypervisor steals from a busy vCPU is not charged."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(f) for f in fields[11:15])
    return total * _TICK_S


PROBE_JAVA = """
import java.util.*;
public class Probe {
    public static void main(String[] a) {
        long s = 0;
        Map<Integer, String> m = new HashMap<>();
        for (int i = 0; i < 200000; i++) {
            m.put(i, Integer.toString(i));
            s += m.get(i / 2).length();
        }
        System.out.println(s);
    }
}
"""


def _children_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


class HostProbe:
    """How fast this host runs JVM work right now.

    CPU seconds of a new JVM that compiles and runs a small Java source
    file (``PROBE_JAVA``): class loading, the compiler and the JIT, the
    kind of work a cold pass does, in code that shares nothing with the
    program.  Other guests on the physical machine slow such work down
    by up to 2.2x for minutes at a time without any of it showing as
    stolen time; this probe slows down with it."""

    def __init__(self, work_dir: str) -> None:
        src = os.path.join(work_dir, "Probe.java")
        with open(src, "w") as fh:
            fh.write(PROBE_JAVA)
        self.cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work_dir}", src]
        self.samples: list[float] = []

    def sample(self, reps: int = 2) -> None:
        for _ in range(reps):
            c0 = _children_cpu_s()
            subprocess.run(self.cmd, capture_output=True, check=True)
            self.samples.append(_children_cpu_s() - c0)

    def cpu_s(self) -> float:
        """Mean over the samples, which are spread over the run."""
        return statistics.fmean(self.samples)


def steal_s() -> float:
    """CPU time the hypervisor stole from all vCPUs so far (summed)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) * _TICK_S


def _status_kb(pid: int, field_name: str) -> int:
    """One ``kB`` field of /proc/<pid>/status, 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers are split between them instead of counted once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Resident memory of the Spark driver JVM (which hosts the local
    executors) and of the Python processes below it (the PySpark daemon
    and its workers).

    The JVM's peak is the kernel's own high-water mark (VmHWM); the
    Python side is the summed PSS, sampled every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_jvm_kb = 0
        self.peak_python_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        python = sum(_pss_kb(p) for p in descendants(self.jvm_pid))
        self.peak_python_kb = max(self.peak_python_kb, python)
        self.peak_jvm_kb = max(self.peak_jvm_kb, _status_kb(self.jvm_pid, "VmHWM"))

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()


# ------------------------------------------------------- streaming
class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress report, for attribution to ops
    by the trigger's start time."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.progress)


def progress_time(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------- event log
@dataclass
class Stage:
    sid: int
    submit: float = 0.0
    complete: float = 0.0
    python: bool = False
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


# task metric -> (layer counter, scale to base unit)
_TASK_METRICS = {
    ("Executor Run Time",): ("run_s", 1e-3),
    ("Executor CPU Time",): ("cpu_s", 1e-9),
    ("JVM GC Time",): ("gc_s", 1e-3),
    ("Disk Bytes Spilled",): ("spill_bytes", 1),
    ("Input Metrics", "Bytes Read"): ("scan_bytes", 1),
    ("Input Metrics", "Records Read"): ("scan_rows", 1),
    ("Output Metrics", "Bytes Written"): ("output_bytes", 1),
    ("Output Metrics", "Records Written"): ("output_rows", 1),
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): ("shuffle_write_bytes", 1),
    ("Shuffle Write Metrics", "Shuffle Records Written"): ("shuffle_write_records", 1),
    ("Shuffle Read Metrics", "Remote Bytes Read"): ("shuffle_read_bytes", 1),
    ("Shuffle Read Metrics", "Local Bytes Read"): ("shuffle_read_bytes", 1),
    ("Shuffle Read Metrics", "Fetch Wait Time"): ("fetch_wait_s", 1e-3),
    ("Shuffle Read Metrics", "Total Records Read"): ("shuffle_read_records", 1),
}

# SQL metric of a Python plan node -> (layer counter, scale)
_PYTHON_METRICS = {
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
    "time to start Python workers": ("worker_start_s", 1e-3),
    "time to initialize Python workers": ("worker_start_s", 1e-3),
    "number of output rows": ("python_rows_out", 1),
}


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        d = d.get(k) or {}
    return d or 0


def parse_event_log(path: str) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs (with their group tag and interval) and stages (with task
    metrics summed, Python-ness and scheduler delay)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev["sparkPlanInfo"], acc_node)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1e3, stage_ids=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit = info.get("Submission Time", 0) / 1e3
                st.complete = info.get("Completion Time", 0) / 1e3
                # RDD-level Python work (createDataFrame from Python
                # objects, rdd.map) runs in the same workers but has no
                # SQL metrics
                if any(r.get("Name") == "PythonRDD" for r in info.get("RDD Info", ())):
                    st.python = True
                for acc in info.get("Accumulables", ()):
                    node, name = acc_node.get(acc["ID"], ("", acc["Name"]))
                    if not any(m in node for m in PYTHON_NODE_MARKERS):
                        continue
                    st.python = True
                    if name in _PYTHON_METRICS:
                        key, scale = _PYTHON_METRICS[name]
                        st.metrics[key] = st.metrics.get(key, 0) + float(acc["Value"]) * scale
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                tinfo = ev["Task Info"]
                m = st.metrics
                m["tasks"] = m.get("tasks", 0) + 1
                m["failed_tasks"] = m.get("failed_tasks", 0) + int(tinfo["Failed"])
                m["launch_sum"] = m.get("launch_sum", 0) + tinfo["Launch Time"] / 1e3
                tm = ev.get("Task Metrics") or {}
                if _dig(tm, ("Input Metrics", "Bytes Read")):
                    m["scan_tasks"] = m.get("scan_tasks", 0) + 1
                    m["scan_s"] = m.get("scan_s", 0) + tm["Executor Run Time"] / 1e3
                for path_, (key, scale) in _TASK_METRICS.items():
                    m[key] = m.get(key, 0) + float(_dig(tm, path_)) * scale
    for st in stages.values():
        # scheduler delay: each task's launch minus its stage's submit
        st.metrics["sched_delay_s"] = max(
            0.0, st.metrics.pop("launch_sum", 0) - st.metrics.get("tasks", 0) * st.submit
        )
    return sorted(jobs.values(), key=lambda j: j.submit), stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------- per op
def owned_jobs(op: dict, jobs: list[Job], group_prefix: str) -> list[Job]:
    """Jobs of one op execution.

    Jobs belong to the op when they carry its job group; jobs started
    by streaming query threads carry the query's own group, so they
    are attributed by submission time inside the op's interval (ops
    run one at a time)."""
    lo, hi = op["start"], op["end"]

    def owned(j: Job) -> bool:
        if (j.group or "").startswith(group_prefix):
            return j.group == op["group"]
        return lo <= j.submit <= hi

    return [j for j in jobs if owned(j)]


def op_layers(op: dict, mine: list[Job], stages: dict[int, Stage],
              progress: list[dict]) -> dict[str, float]:
    """Layer counters of one op execution, from its jobs (``owned_jobs``)."""
    lo, hi = op["start"], op["end"]
    busy = union_length([(j.submit, j.end) for j in mine])
    out: dict[str, float] = {
        "operators.build_s": op["build_end"] - lo,
        "operators.floor_s": (hi - lo) - busy,
        "operators.jobs": len(mine),
    }
    seen: set[int] = set()
    tot: dict[str, float] = {}
    for j in mine:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if sid in seen or st is None or not st.metrics.get("tasks"):
                continue  # skipped stages never ran
            seen.add(sid)
            for k, v in st.metrics.items():
                tot[k] = tot.get(k, 0) + v
            if st.metrics.get("shuffle_write_records"):
                tot["exchanges"] = tot.get("exchanges", 0) + 1
            m = st.metrics
            if st.python:
                tot["kernel.run_s"] = tot.get("kernel.run_s", 0) + m.get("run_s", 0)
                rows_in = m.get("shuffle_read_records", 0) + m.get("scan_rows", 0)
                tot["python_rows_in"] = tot.get("python_rows_in", 0) + rows_in
            else:
                tot["jvm.run_s"] = tot.get("jvm.run_s", 0) + m.get("run_s", 0)
                tot["jvm.cpu_s"] = tot.get("jvm.cpu_s", 0) + m.get("cpu_s", 0)
    g = tot.get
    out.update({
        "operators.stages": len(seen),
        "catalog.scan_rows": g("scan_rows", 0),
        "catalog.scan_bytes": g("scan_bytes", 0),
        "catalog.scan_tasks": g("scan_tasks", 0),
        "catalog.scan_s": g("scan_s", 0),
        "exchange.count": g("exchanges", 0),
        "exchange.write_bytes": g("shuffle_write_bytes", 0),
        "exchange.write_records": g("shuffle_write_records", 0),
        "exchange.read_bytes": g("shuffle_read_bytes", 0),
        "exchange.fetch_wait_s": g("fetch_wait_s", 0),
        "jvm.run_s": g("jvm.run_s", 0),
        "jvm.cpu_s": g("jvm.cpu_s", 0),
        "jvm.gc_s": g("gc_s", 0),
        "jvm.spill_bytes": g("spill_bytes", 0),
        "kernel.run_s": g("kernel.run_s", 0),
        "kernel.bytes_to_python": g("bytes_to_python", 0),
        "kernel.bytes_from_python": g("bytes_from_python", 0),
        "kernel.rows_out": g("python_rows_out", 0),
        "kernel.rows_in": g("python_rows_in", 0),
        "kernel.worker_start_s": g("worker_start_s", 0),
        "sched.tasks": g("tasks", 0),
        "sched.delay_s": g("sched_delay_s", 0),
        "sched.failed_tasks": g("failed_tasks", 0),
        "writers.output_rows": g("output_rows", 0),
        "writers.output_bytes": g("output_bytes", 0),
    })
    batches = [p for p in progress if lo <= progress_time(p) <= hi]
    final_state: dict[str, list[dict]] = {}
    for p in batches:
        final_state[p["runId"]] = p.get("stateOperators") or []
    dur = [p.get("durationMs") or {} for p in batches]
    trigger_s = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
    input_rows = sum(p.get("numInputRows", 0) for p in batches)
    out.update({
        "streaming.batches": len(batches),
        "streaming.input_rows": input_rows,
        "streaming.trigger_s": trigger_s,
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1e3,
        "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
        "streaming.state_rows": sum(
            s.get("numRowsTotal", 0) for ops in final_state.values() for s in ops
        ),
        "streaming.state_bytes": sum(
            s.get("memoryUsedBytes", 0) for ops in final_state.values() for s in ops
        ),
    })
    return out


def pass_layers(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Sum a pass's op counters and derive its ratios."""
    tot: dict[str, float] = {}
    for d in per_op:
        for k, v in d.items():
            tot[k] = tot.get(k, 0) + v
    rows_out, rows_in = tot.pop("kernel.rows_out"), tot.pop("kernel.rows_in")
    tot["kernel.rows_out_per_in"] = rows_out / rows_in if rows_in else 0.0
    trigger_s = tot.pop("streaming.trigger_s")
    tot["streaming.rows_per_s"] = (
        tot["streaming.input_rows"] / trigger_s if trigger_s else 0.0
    )
    return tot
