"""Benchmark runner: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload analyst_queries --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. A run:

1. generates the workload's inputs from ``--seed`` (cached by seed and
   size under ``perfbench/.work``; timed apart from set-up);
2. sets up ``SETUP_REPS`` times: starts a Spark session and runs one
   untimed warm-up pass over the whole operation mix, in a seeded
   shuffled order. The first repetition also launches the JVM, warms
   its JIT and collects the outputs the check needs, so it is always
   the slowest and ``setup_s``, the median, is a fresh session on a
   warm JVM. The timed phase uses the last session;
3. runs whole rounds of the mix, each in a new seeded shuffled order,
   until ``--seconds`` have passed and at least the workload's
   ``min_rounds`` have run (so every run of a workload times the same
   number of operations);
4. checks the outputs (see ``workloads``); a mismatch or an exception
   counts as a failed operation and the run carries on. The expected
   outputs are computed in a background thread during the first
   warm-up repetition, which is never the median.

With ``--trace 1`` the last session writes an uncompressed Spark event
log, which is folded into per-operation and per-layer counters
(``eventlog``). End-to-end numbers come from plain runs; the traced
run's own end-to-end numbers are in its record line, so the tracing
overhead is their difference (``overhead.py``).

Every file the run writes, Spark's scratch space included, stays under
``perfbench/.work``. The last stdout line is the result; the line
before it is the run record (host, versions, inputs, CPU probe).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUP_REPS = 3
HEAP_CAP_MB = 4096


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def _fs_type(path: Path) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts", encoding="utf-8") as fh:
        for line in fh:
            _, mount, kind = line.split()[:3]
            if str(path).startswith(mount) and len(mount) > len(best):
                best, fstype = mount, kind
    return fstype


def _cpu_probe() -> float:
    """scripts/cpu_probe.py's fixed loop, in seconds (higher = slower
    host). Recorded to explain noise, never used to discard a run."""
    spec = importlib.util.spec_from_file_location(
        "cpu_probe", ROOT / "scripts" / "cpu_probe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return round(mod.probe(), 4)


def _configure(trace: bool) -> dict:
    """Point every scratch path into WORK and size the JVM heap; return
    the host part of the run record."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb("MemTotal")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or \
        f"{min(HEAP_CAP_MB, mem_mb // 2)}m"
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import pyspark

    return {
        "nproc": nproc, "master": f"local[{nproc}]", "driver_mem": heap,
        "mem_total_mb": mem_mb, "spark": pyspark.__version__,
        "python": platform.python_version(), "work_dir": str(WORK),
        "work_fs": _fs_type(WORK), "trace": trace,
    }


def _session_confs(trace: bool) -> dict[str, str]:
    tmp = WORK / "tmp"
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def _start_session(trace: bool):
    from sql_data_warehouse_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
                      **_session_confs(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def _run_pass(spark, ops: dict, order: list[str], log: list[dict]) -> None:
    for name in order:
        start, t = time.time(), time.perf_counter()
        try:
            spans, ok = ops[name](spark), True
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            spans, ok = {}, False
        wall = time.perf_counter() - t
        log.append({"name": name, "start": start, "end": start + wall,
                    "wall": wall, "spans": spans, "ok": ok})


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    retains (cached plans, artifacts, broadcast and block-cache data)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop_jvm() -> None:
    """Stop the gateway JVM, if running, and wait for it and its Python
    workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc.poll() is not None:
        return
    workers = _descendants(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of stdin
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _layer_metrics(timed: list[dict], setup_log: list[dict], starts: list[float],
                   live_heap_mb: float, written_mb: float, input_mb: float,
                   folded: tuple[dict, dict]) -> dict[str, float]:
    """Per-layer metrics: span medians per timed operation, plus the
    event-log counters as means per timed operation."""
    ok = [s for s in timed if s["ok"]]

    def span(key: str) -> float:
        return _median([s["spans"][key] for s in ok if key in s["spans"]])

    warm = {}
    for s in ok:
        warm.setdefault(s["name"], []).append(s["wall"])
    first = {}
    for s in setup_log:
        first.setdefault(s["name"], s["wall"])
    cold_extra = sum(first[n] - _median(w) for n, w in warm.items() if n in first)

    ops_c, stage_c = folded
    n = max(1, len(ok))

    def per_op(counter: str, scale: float = 1.0) -> float:
        return sum(c[counter] for c in ops_c.values()) / n * scale

    wall = sum(s["wall"] for s in ok) or 1.0
    job_s = sum(c["job_s"] for c in ops_c.values())
    out = {
        "session.launch_s": starts[0],
        "session.start_s": _median(starts),
        "session.live_heap_mb": live_heap_mb,
        "medallion.bronze_s": span("medallion.bronze"),
        "medallion.silver_s": span("medallion.silver"),
        "medallion.gold_s": span("medallion.gold"),
        "medallion.bytes_written_mb": written_mb,
        "medallion.write_amp": written_mb / input_mb,
        "analytics.build_s": span("analytics.build"),
        "analytics.exec_s": span("analytics.exec"),
        "analytics.cold_extra_s": cold_extra,
        "analytics.jobs_per_op": per_op("jobs"),
        "analytics.stages_per_op": per_op("stages"),
        "analytics.tasks_per_op": per_op("tasks"),
        "analytics.driver_only_s": max(0.0, wall - job_s) / n,
        "analytics.driver_only_share": max(0.0, wall - job_s) / wall,
        "analytics.shuffle_mb": per_op("shuffle_bytes", 1e-6),
        "analytics.spill_mb": per_op("spill_bytes", 1e-6),
        "operators.py_bytes_mb": per_op("py_bytes", 1e-6),
        "operators.py_run_s": per_op("py_run_ms", 1e-3),
        "sources.scan_rows": per_op("scan_rows"),
    }
    for stage in ("bronze", "silver", "gold"):
        c = stage_c.get(stage, {})
        out[f"medallion.{stage}.jobs"] = c.get("jobs", 0) / n
        out[f"medallion.{stage}.shuffle_mb"] = c.get("shuffle_bytes", 0) / n * 1e-6
        out[f"medallion.{stage}.spill_mb"] = c.get("spill_bytes", 0) / n * 1e-6
    return out


def _fold_trace(timed: list[dict]) -> tuple[dict, dict]:
    """Event-log counters per timed operation and per medallion stage."""
    import eventlog

    events = eventlog.read_events(str(WORK / "eventlog"))
    op_spans = [(str(i), s["start"], s["end"]) for i, s in enumerate(timed) if s["ok"]]
    stage_spans = []
    for s in timed:
        if not s["ok"]:
            continue
        t = s["start"]
        for stage in ("bronze", "silver", "gold"):
            d = s["spans"].get(f"medallion.{stage}")
            if d is not None:
                stage_spans.append((stage, t, t + d))
                t += d
    return eventlog.fold(events, op_spans), eventlog.fold(events, stage_spans)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads

    record = _configure(trace)
    record.update({"workload": workload, "seed": seed, "seconds": seconds,
                   "cpu_probe_before_s": _cpu_probe()})
    wl = workloads.WORKLOADS[workload](str(WORK / "inputs"), seed, str(WORK))
    record["inputs"] = wl.inputs
    shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    (WORK / "eventlog").mkdir(parents=True)

    rng = random.Random(seed)
    names = sorted(wl.ops)
    setups, starts, rep_logs = [], [], []
    spark = None
    with ThreadPoolExecutor(max_workers=1) as pool:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark, start_s = _start_session(trace and rep == SETUP_REPS - 1)
            if rep == 0:
                expected = pool.submit(wl.expected)
            rep_logs.append([])
            ops = wl.warmup_ops if rep == 0 else wl.ops
            _run_pass(spark, ops, rng.sample(names, len(names)), rep_logs[-1])
            setups.append(time.perf_counter() - t)
            starts.append(start_s)
            if rep == 0:
                t = time.perf_counter()
                expected = expected.result()
                record["expected_wait_s"] = time.perf_counter() - t

    timed: list[dict] = []
    rounds, t = 0, time.perf_counter()
    while rounds < wl.min_rounds or time.perf_counter() - t < seconds:
        _run_pass(spark, wl.ops, rng.sample(names, len(names)), timed)
        rounds += 1
    timed_wall = time.perf_counter() - t
    live_heap_mb = _live_heap_mb(spark)

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    record["peak_rss_mb"] = {"jvm": _hwm_mb(jvm_pid), "python_workers": [
        _hwm_mb(p) for p in _descendants(jvm_pid)]}
    written_mb = wl.written_bytes() * 1e-6
    spark.stop()
    t = time.perf_counter()
    folded = _fold_trace(timed) if trace else ({}, {})
    record["fold_s"] = time.perf_counter() - t
    t = time.perf_counter()
    _stop_jvm()
    record["stop_s"] = time.perf_counter() - t

    t = time.perf_counter()
    errors = wl.check(expected)
    record["check_s"] = time.perf_counter() - t
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    all_ops = [s for log in rep_logs for s in log] + timed
    failed_ops = sum(not s["ok"] for s in all_ops)
    ok_walls = [s["wall"] for s in timed if s["ok"]]
    # The mix's median operation: each operation's median over the
    # timed rounds, then the median over the mix. A median pooled over a
    # few distinct operations jumps between them from run to run.
    op_medians = [_median([s["wall"] for s in timed if s["ok"] and s["name"] == n])
                  for n in names]
    end_to_end = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (_median([w for w in op_medians if w]), "s"),
        "ops_per_min": (len(ok_walls) / timed_wall * 60.0, "1/min"),
    }
    record.update({
        "setup_reps_s": setups, "timed_wall_s": timed_wall,
        "timed_ops": len(timed), "check_failures": len(errors),
        # per operation: first run on a cold JVM, first run in the last
        # (fresh) session, median timed run
        "op_walls_s": {n: [_median([x["wall"] for x in log if x["name"] == n])
                           for log in (rep_logs[0], rep_logs[-1], timed)]
                       for n in names},
        "cpu_probe_after_s": _cpu_probe(),
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
    })
    result = {
        "correct": not errors and failed_ops == 0,
        "attempted": len(all_ops),
        "failed": failed_ops + len(errors),
    }
    if trace:
        layers = _layer_metrics(timed, rep_logs[-1], starts, live_heap_mb,
                                written_mb, wl.inputs["bytes"] * 1e-6, folded)
        result["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(json.dumps({"record": record}))
    return result


def _unit(metric: str) -> str:
    suffix = metric.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "share": "ratio", "amp": "ratio"}.get(suffix, "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "sql_data_warehouse_spark").is_dir() or \
            not (ROOT / "tests" / "oracle_harness.py").is_file():
        print(f"perfbench: no program sources under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
