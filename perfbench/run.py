#!/usr/bin/env python3
"""Engine benchmark: seeded workloads through the registry's public
entry points, with an oracle check and a traced run that attributes
time to layers.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout.  One run:

1. generates the workload's inputs from the seed into ``.perfbench/``
   inside the checkout (not timed);
2. sets up: ``session.get_spark`` + ``operators.load_all`` + the
   warm-up query of bench.py, in a new JVM (``setup_s``);
3. runs the workload's pass in that fresh session: each op is called
   as ``REGISTRY[name](spark, dir)`` and its result collected to the
   driver (timed), then compared with its DuckDB ``ORACLES`` twin (not
   timed).  Passes repeat until ``--seconds`` have gone by; only the
   first is checked;
4. stops the JVM and every process below it, measures what the ops
   left in the run's private TMPDIR and removes it.

With ``--trace 1`` Spark's event log is switched on from outside the
program, each op execution gets its own job group, a streaming
listener is registered, and the last line carries the per-layer
metrics instead of the end-to-end ones; the span tree
(run -> pass -> op -> job -> stage) goes to ``.perfbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; ``failed`` /
``attempted`` is the failed share of op executions.  The line before it
(``perfbench-info ...``) records the host posture, the seed, the input
properties as stated and as measured, every op's timings and every
failure.  perfbench/README.md says what each workload and metric is
for.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import gen
import layers
from oracle import Oracle

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "bigdataentrytask_spark"
WORK = ROOT / ".perfbench"
GROUP_PREFIX = "perfbench/"  # job group of every op execution

WORKLOADS = {
    # North-star LLM-data path: Python Arrow kernels and the banding
    # exchange do most of the work.
    "corpus": [
        "dedup_exact", "text_quality", "tfidf_top_term", "minhash_dedup",
        "simhash_pairs", "chunk_dedup_corpus", "decontaminate_ngram",
        "quality_classifier_score", "heavy_hitter_tokens",
        "token_feature_hashing", "knn_bruteforce", "knn_lsh",
        "embedding_neardup_pairs", "embedding_neardup_lsh",
    ],
    # The reference's real-time path: streaming upserts, checkpoints
    # and file landing over a hot-key-skewed events table.
    "ingest": [
        "stream_concurrent_topology", "stream_tumble_minute",
        "stream_user_totals", "stream_daily_uv",
        "stream_sessionize_stateful", "stream_signup_attribution",
        "stream_dedup_exactly_once", "stream_restart_recovery",
        "file_landing_roundtrip", "observed_landing_gate",
        "partitioned_write_prune_read",
    ],
}
DRIVER_MEM_GB = 3
# The host probe's CPU time (layers.HostProbe), rounded, on the 4-vCPU
# virtual machine the benchmark was tuned on in a quiet spell (0.72 s).
# End-to-end times are scaled by PROBE_REF_S / (the probe's time in the
# run): a change of host speed moves the probe and the pass alike, a
# change of the program moves only the pass.
PROBE_REF_S = 0.7
WARMUP_ROWS = 1_000_000  # bench.py's warm-up query


class MismatchError(Exception):
    """An op's collected result differs from its oracle."""


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_posture(run_dir: Path, trace: bool) -> dict:
    """Set the environment the program and the JVM read; must run
    before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    ram = host_ram_gb()
    if DRIVER_MEM_GB >= ram:
        raise RuntimeError(f"driver memory {DRIVER_MEM_GB}g >= host RAM {ram:.1f}g")
    tmp = run_dir / "tmp"
    tmp.mkdir()
    # -XX:-UsePerfData: HotSpot otherwise keeps /tmp/hsperfdata_<user>
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = ["--driver-java-options", java_opts]
    if trace:
        (run_dir / "eventlog").mkdir()
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        # Python workers are started by the JVM with this environment;
        # without the checkout on their path they cannot import the
        # package whatever directory the benchmark was started from.
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that builds the command
    })
    tempfile.tempdir = None
    return {"nproc": cpus, "ram_gb": round(ram, 1),
            "driver_mem_gb": DRIVER_MEM_GB, "python": platform.python_version()}


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes in files, top-level entries) under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(dirpath, f)).st_size
    return total, len(os.listdir(path))


class Bench:
    """One run: the session, the op executions and their records."""

    def __init__(self, args: argparse.Namespace, data_dir: Path) -> None:
        self.args, self.data = args, str(data_dir)
        self.ops = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.records: list[dict] = []  # one per op execution
        self.failures: list[dict] = []
        self.setup_times: dict[str, float] = {}
        self.spark = None
        self.jvm_pid = 0
        self.nproc = len(os.sched_getaffinity(0))
        self.probe: layers.HostProbe | None = None

    def setup(self) -> None:
        from bigdataentrytask_spark.operators import load_all
        from bigdataentrytask_spark.session import get_spark

        cpu0 = time.process_time()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        load_all()
        t2 = time.perf_counter()
        self.spark.range(WARMUP_ROWS).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.setup_times = {
            "session.get_spark_s": t1 - t0,
            "session.load_all_s": t2 - t1,
            "session.warmup_s": t3 - t2,
            "wall_s": t3 - t0,
            # the JVM's own total includes the launcher JVM it was
            # exec'ed from (reaped child)
            "cpu_s": time.process_time() - cpu0 + layers.tree_cpu_s(self.jvm_pid),
        }

    def cpu_s(self) -> float:
        """CPU seconds so far of this process, the JVM and its workers."""
        return time.process_time() + layers.tree_cpu_s(self.jvm_pid)

    def run_op(self, name: str, pass_no: int, oracle) -> None:
        """One op execution: build, collect (timed), then compare with
        the oracle when one is given (not timed)."""
        from bigdataentrytask_spark.operators import ORACLES, REGISTRY

        group = f"{GROUP_PREFIX}{pass_no}/{name}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, f"{self.args.workload} pass {pass_no}: {name}")
        rec = {"op": name, "pass": pass_no, "group": group, "failed": False}
        cpu0, steal0 = self.cpu_s(), layers.steal_s()
        start = time.time()
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            df = REGISTRY[name](self.spark, self.data)
            t1 = time.perf_counter()
            result = df.toPandas()
            t2, cpu1, steal1 = time.perf_counter(), self.cpu_s(), layers.steal_s()
            if oracle is not None:
                reason = oracle.check(ORACLES[name], result)
                if reason:
                    raise MismatchError(reason)
        except Exception as exc:  # an op failure is a result, not a crash
            if t2 is None:
                t2, cpu1, steal1 = time.perf_counter(), self.cpu_s(), layers.steal_s()
            t1 = t1 or t2
            rec["failed"] = True
            self.failures.append({"op": name, "pass": pass_no,
                                  "reason": f"{type(exc).__name__}: {exc}"[:500]})
            if not isinstance(exc, MismatchError):
                traceback.print_exc(file=sys.stderr)
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec.update(start=start, build_end=start + (t1 - t0), end=start + (t2 - t0),
                   wall_s=t2 - t0, build_s=t1 - t0, cpu_s=cpu1 - cpu0,
                   steal_s=steal1 - steal0)
        self.records.append(rec)

    def run_passes(self, oracle) -> None:
        window = time.perf_counter()
        pass_no = 0
        while True:
            for i, name in enumerate(self.ops):
                if pass_no == 0 and i == len(self.ops) // 2:
                    self.probe.sample()
                self.run_op(name, pass_no, oracle if pass_no == 0 else None)
            if time.perf_counter() - window >= self.args.seconds:
                return
            pass_no += 1

    def pass_sum(self, key: str, pass_no: int = 0) -> float:
        return sum(r[key] for r in self.records if r["pass"] == pass_no)

    def pass_walls(self) -> dict[int, float]:
        return {p: self.pass_sum("wall_s", p) for p in {r["pass"] for r in self.records}}

    def unstolen_wall_s(self) -> float:
        """Wall time of the first pass less the time the hypervisor stole
        from it: the CPU time stolen from all vCPUs while its ops ran,
        divided by their number.  On a host with no steal this is the
        wall time."""
        return self.pass_sum("wall_s") - self.pass_sum("steal_s") / self.nproc

    def host_scale(self) -> float:
        """Factor that puts times measured now on the reference host's
        speed: the probe's reference time over its time in this run."""
        return PROBE_REF_S / self.probe.cpu_s()

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        k = self.host_scale()
        return {
            "first_pass_s": (k * self.unstolen_wall_s(), "s"),
            "first_pass_cpu_s": (k * self.pass_sum("cpu_s"), "s"),
            "setup_s": (k * self.setup_times["cpu_s"], "s"),
        }


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM and every
    process below it (the PySpark daemon and its workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    below = layers.descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 10
    while below and time.time() < deadline:
        below = [p for p in below if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in below:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package at {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args: argparse.Namespace, run_dir: Path) -> int:
    t_start = time.perf_counter()
    posture = pin_posture(run_dir, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    data_dir = run_dir / "data"
    tables = gen.generate(args.workload, args.seed)
    gen.write(tables, str(data_dir))
    measured = gen.measured_properties(tables)
    del tables

    import pyspark

    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    bench = Bench(args, data_dir)
    phases = {"inputs_s": time.perf_counter() - t_start}
    recorder = oracle = None
    try:
        bench.setup()
        # after set-up: the oracle's comparison module imports the
        # package's entry module, which loads every operator
        oracle = Oracle(str(data_dir))
        spark = bench.spark
        missing = [n for n in bench.ops if n not in ORACLES or n not in REGISTRY]
        if missing:
            raise RuntimeError(f"ops without a registry entry or oracle: {missing}")
        posture.update(pyspark=pyspark.__version__,
                       java=spark.sparkContext._jvm.System.getProperty("java.version"))
        app_id = spark.sparkContext.applicationId
        sampler = None
        if bench.trace:
            recorder = layers.ProgressRecorder()
            spark.streams.addListener(recorder)
            sampler = layers.RssSampler(bench.jvm_pid)
            sampler.start()
        # the host probe runs outside every timed region, before, in the
        # middle of and after the first pass, so that it sees the host
        # as the pass did
        bench.probe = layers.HostProbe(str(run_dir))  # not in the ops' TMPDIR
        bench.probe.sample()
        try:
            bench.run_passes(oracle)
            bench.probe.sample()
        finally:
            if sampler is not None:
                sampler.stop()
        if recorder is not None:
            time.sleep(1.0)  # let the listener bus deliver the last progress
            spark.streams.removeListener(recorder)
        spark.stop()
    finally:
        if oracle is not None:
            oracle.close()
        stop_jvm()
    tmp_bytes, tmp_entries = dir_bytes(run_dir / "tmp")
    phases["run_s"] = time.perf_counter() - t_start

    attempted = len(bench.records)
    failed = sum(r["failed"] for r in bench.records)
    correct = failed == 0
    stated = gen.PROFILES[args.workload]
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "posture": posture,
        "input_stated": {"hot_user_share": stated.hot_user_share,
                         "neardup_share": stated.neardup_share},
        "input_measured": measured,
        "setup": bench.setup_times,
        "host_probe": {"samples": bench.probe.samples, "cpu_s": bench.probe.cpu_s(),
                       "ref_s": PROBE_REF_S, "scale": bench.host_scale()},
        "phases": phases,
        "tmp_left": {"bytes": tmp_bytes, "entries": tmp_entries},
        "failures": bench.failures,
        "first_pass": {
            "wall_s": bench.pass_sum("wall_s"),
            "steal_s": bench.pass_sum("steal_s"),
            "unstolen_wall_s": bench.unstolen_wall_s(),
            "cpu_s": bench.pass_sum("cpu_s"),
            "op_p50_wall_s": statistics.median(
                r["wall_s"] for r in bench.records if r["pass"] == 0),
        },
        "ops": [{k: r[k] for k in ("op", "pass", "wall_s", "build_s", "cpu_s",
                                   "steal_s", "failed")}
                for r in bench.records],
    }
    if args.trace:
        metrics, checks = traced_metrics(
            bench, run_dir / "eventlog" / app_id, recorder.snapshot(),
            sampler, tmp_bytes,
        )
        info["trace_checks"] = [c for c in checks if not c["ok"]] or "all ok"
        correct = correct and all(c["ok"] for c in checks)
    else:
        metrics = bench.end_to_end()
    print("perfbench-info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


TRACE_UNITS = {
    "session.get_spark_s": "s", "session.load_all_s": "s", "session.warmup_s": "s",
    "operators.build_s": "s", "operators.floor_s": "s", "operators.jobs": "count",
    "operators.stages": "count",
    "catalog.scan_rows": "count", "catalog.scan_bytes": "bytes",
    "catalog.scan_tasks": "count", "catalog.scan_s": "s",
    "exchange.count": "count", "exchange.write_bytes": "bytes",
    "exchange.write_records": "count", "exchange.read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "jvm.run_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.spill_bytes": "bytes",
    "jvm.peak_rss_mb": "MB",
    "kernel.run_s": "s", "kernel.bytes_to_python": "bytes",
    "kernel.bytes_from_python": "bytes", "kernel.rows_out_per_in": "ratio",
    "kernel.worker_start_s": "s", "kernel.worker_peak_rss_mb": "MB",
    "sched.tasks": "count", "sched.delay_s": "s", "sched.failed_tasks": "count",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.rows_per_s": "1/s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.planning_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "writers.output_rows": "count", "writers.output_bytes": "bytes",
    "writers.tmp_bytes_left": "bytes",
    "trace.first_pass_s": "s",
}


EPS_S = 0.005  # event-log times are whole milliseconds


def attribution_checks(owned: list[tuple[dict, list]], jobs: list,
                       spans: list[dict]) -> list[dict]:
    """Checks that the event log's jobs are attributed to ops as the
    layer numbers assume, on the jobs' own (unclipped) intervals:

    * every job submitted from the first op on is owned by exactly one
      op, and runs inside that op's interval: a job outside every op or
      one that ends after its op (a query left running, background
      work) would otherwise be counted against the wrong op or none;
    * a streaming query's jobs (one job group per query run) all belong
      to one op: a query that outlives its op would otherwise be
      charged to the ops after it;
    * each op's self time (``operators.floor_s``) is not negative.
    """
    who: dict[int, list[dict]] = {}
    query_ops: dict[str, set[str]] = {}
    for rec, mine in owned:
        for j in mine:
            who.setdefault(j.jid, []).append(rec)
            if j.group and not j.group.startswith(GROUP_PREFIX):
                query_ops.setdefault(j.group, set()).add(rec["group"])
    first = min(rec["start"] for rec, _ in owned)
    outside = []
    for j in jobs:
        if j.submit < first - EPS_S:
            continue  # set-up
        recs = who.get(j.jid, [])
        if len(recs) != 1 or not j.end or not (
                recs[0]["start"] - EPS_S <= j.submit and j.end <= recs[0]["end"] + EPS_S):
            outside.append({"job": j.jid, "group": j.group, "submit": j.submit,
                            "end": j.end, "ops": [r["group"] for r in recs]})
    spread = {g: sorted(ops) for g, ops in query_ops.items() if len(ops) > 1}
    negative = [{"op": s["group"], "floor_s": s["layers"]["operators.floor_s"]}
                for s in spans if s["layers"]["operators.floor_s"] < -EPS_S]
    return [
        {"check": "every job inside exactly one op", "ok": not outside,
         "bad": outside[:20]},
        {"check": "every streaming query inside one op", "ok": not spread,
         "bad": spread},
        {"check": "operators.floor_s >= 0", "ok": not negative, "bad": negative},
    ]


def traced_metrics(bench: Bench, log_path: Path, progress: list[dict],
                   sampler, tmp_bytes: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the first pass (the op counters summed over
    the pass), the run-level ones, the trace self-checks, and the span
    tree written to ``.perfbench/traces/``."""
    jobs, stages = layers.parse_event_log(str(log_path))
    spans = []
    owned = []
    for rec in bench.records:
        mine = layers.owned_jobs(rec, jobs, GROUP_PREFIX)
        owned.append((rec, mine))
        spans.append({**rec, "layers": layers.op_layers(rec, mine, stages, progress)})
    checks = attribution_checks(owned, jobs, spans)
    out = layers.pass_layers([s["layers"] for s in spans if s["pass"] == 0])
    for k in ("session.get_spark_s", "session.load_all_s", "session.warmup_s"):
        out[k] = bench.setup_times[k]
    out["jvm.peak_rss_mb"] = sampler.peak_jvm_kb / 1024
    out["kernel.worker_peak_rss_mb"] = sampler.peak_python_kb / 1024
    out["writers.tmp_bytes_left"] = tmp_bytes
    out["trace.first_pass_s"] = bench.host_scale() * bench.unstolen_wall_s()
    if bench.args.workload != "ingest":
        checks.append({"check": "streaming.batches == 0 outside ingest",
                       "ok": out["streaming.batches"] == 0,
                       "value": out["streaming.batches"]})
    if bench.args.workload == "corpus":
        checks.append({"check": "kernel.bytes_to_python > 0 on corpus",
                       "ok": out["kernel.bytes_to_python"] > 0,
                       "value": out["kernel.bytes_to_python"]})
    span_tree = {
        "workload": bench.args.workload, "seed": bench.args.seed,
        "setup": bench.setup_times,
        "passes": [
            {"pass": p, "wall_s": w,
             "ops": [s for s in spans if s["pass"] == p]}
            for p, w in sorted(bench.pass_walls().items())
        ],
        "jobs": [
            {"job": j.jid, "group": j.group, "submit": j.submit, "end": j.end,
             "stages": [
                 {"stage": sid, "python": stages[sid].python,
                  "submit": stages[sid].submit, "complete": stages[sid].complete,
                  "metrics": stages[sid].metrics}
                 for sid in j.stage_ids if sid in stages
             ]}
            for j in jobs
        ],
        "streaming_progress": progress,
    }
    trace_dir = WORK / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    with open(trace_dir / f"{bench.args.workload}-seed{bench.args.seed}.json", "w") as fh:
        json.dump(span_tree, fh, default=str)
    return {k: (out[k], TRACE_UNITS[k]) for k in TRACE_UNITS}, checks


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
