#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload elt_nightly --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads:

- ``elt_nightly``: one replication night per pass (``perfbench/elt.py``);
- ``warehouse_sql``: relational catalog queries (``perfbench/analytics.py``);
- ``curation_graph``: curation and graph catalog queries, whose build
  step runs the ``functions.*`` driver paths.

One client issues jobs one after another, as one scheduler worker slot
would; a job is one pipeline call or one query. The session is
``session.get_spark(master=f"local[{nproc}]")`` with the engine defaults.
Set-up (session, input generation, table seeding) runs once and is timed
from process start. Then the first pass runs in the fresh session, then
warm passes for ``--seconds``, at least one.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` warm passes run in blocks of four, traced, untraced,
untraced, traced, and the line carries the per-layer metrics of the
traced passes plus the tracing overhead: per block, the traced pair's
time minus the untraced pair's, halved; the median over blocks. The
mirrored order cancels any linear drift across a block, such as warm-up
or a night's table growth. Lines before it are a
human-readable context block: every end-to-end figure with its unit, the
failed-job ratio, the host-calibration probes, the CPU time the
hypervisor gave other guests during the passes, and any failures. All
scratch output stays under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bi_gcp_stitch_repl_spark"
WORKLOADS = ("elt_nightly", "warehouse_sql", "curation_graph")
#: warm passes a run makes at least, whatever --seconds says
MIN_WARM = {0: 1, 1: 4}
#: traced (True) and untraced passes of one block in a --trace 1 run
TRACE_BLOCK = (True, False, False, True)

#: end-to-end metrics of the result line, all in seconds. The two CPU
#: figures are what a pass costs in core-seconds; the wall-clock pass and
#: job latencies, printed in the context block with job_s.tail,
#: failed_ratio, peak_rss_mb and the elt job classes, move with the CPU
#: time other guests of the host take (see METRICS.md).
END_TO_END = ("setup_s", "first_pass_cpu_s", "pass_cpu_s")


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant,
    with the reaped children each one has already waited for."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _calibrate(spark, nproc: int) -> dict[str, float]:
    """Fixed work per core: a Spark codegen sum over ``nproc`` partitions
    and a single-thread Python loop. Drift between runs shows here."""
    t0 = time.perf_counter()
    spark.range(0, 12_500_000 * nproc, 1, nproc).selectExpr("sum(id * 2 + 1)").collect()
    spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    return {"spark_parallel_s": spark_s, "py_single_s": time.perf_counter() - t0}


def _set_environment(work: str, nproc: int) -> None:
    """Keep every temp file of Python, Spark and the JVM inside ``work``
    and let Python workers import the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _make_workload(name, spark, work, seed, nproc, size):
    if name == "elt_nightly":
        from perfbench.elt import EltNightly

        return EltNightly(spark, work, seed, nproc, size)
    from perfbench import analytics

    queries = analytics.WAREHOUSE_SQL if name == "warehouse_sql" else analytics.CURATION_GRAPH
    return analytics.CatalogQueries(name, queries, spark, work, seed, nproc, size)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    """Run one benchmark and return the result object (also printed)."""
    t_process = _process_start()
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    _set_environment(work, nproc)

    t0 = time.perf_counter()
    from bi_gcp_stitch_repl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        result = _measure(spark, workload, seed, seconds, trace, size, work, nproc,
                          session_s, t_process, base)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = _hwm_mb(os.getpid()) + (_hwm_mb(jvm.pid) if jvm else 0.0)
        print(f"# peak_rss_mb {rss:.1f} MB")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return result


def _measure(spark, workload, seed, seconds, trace, size, work, nproc,
             session_s, t_process, base) -> dict:
    from perfbench import elt, trace as tracing

    wl = _make_workload(workload, spark, work, seed, nproc, size)
    wl.setup()
    setup_s = time.time() - t_process

    no_trace = tracing.NoTrace()
    tracer = tracing.Tracer(spark, f"{workload}-{seed}-{os.getpid()}") if trace else None
    failures: list[str] = []
    attempted = 0

    steal0 = _steal_s()
    cpu = [_tree_cpu_s(os.getpid())]
    first, fails = wl.run_pass(no_trace, None)
    cpu.append(_tree_cpu_s(os.getpid()))
    attempted += len(first)
    failures += fails
    failed = _failed_jobs(fails)

    warm: list[tuple[bool, list]] = []
    layer_rows: list[dict[str, float]] = []
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < seconds or len(warm) < MIN_WARM[int(trace)]
           or (trace and len(warm) % len(TRACE_BLOCK))):
        traced = trace and TRACE_BLOCK[len(warm) % len(TRACE_BLOCK)]
        layers = tracing.Layers() if traced else None
        n_groups = len(tracer.groups) if traced else 0
        timings, fails = wl.run_pass(tracer if traced else no_trace, layers)
        attempted += len(timings)
        failures += fails
        failed += _failed_jobs(fails)
        warm.append((traced, timings))
        cpu.append(_tree_cpu_s(os.getpid()))
        if traced:
            layer_rows.append(_layer_row(tracer, tracer.groups[n_groups:], layers, timings, workload))

    steal_s = _steal_s() - steal0
    pass_cpu = [b - a for a, b in zip(cpu, cpu[1:])]
    t_check = time.perf_counter()
    checked, fails = wl.final_check()
    attempted += checked
    failures += fails
    failed += _failed_jobs(fails)
    check_s = time.perf_counter() - t_check
    calib = _calibrate(spark, nproc)

    pass_times = [sum(t for _, t in timings) for _, timings in warm]
    plain = [p for (traced, _), p in zip(warm, pass_times) if not traced]
    plain_cpu = [c for (traced, _), c in zip(warm, pass_cpu[1:]) if not traced]
    # The median is over warm jobs only: with the cold first pass mixed in,
    # half the samples are cold and the median falls in the gap between
    # the two clusters. The tail takes every job the client issued outside
    # traced passes, cold ones included: a scheduled job pays them too.
    warm_jobs = [t for traced, timings in warm if not traced for _, t in timings]
    jobs = [t for _, t in first] + warm_jobs
    pct, tail = tracing.tail_percentile(jobs)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": sum(t for _, t in first),
        "pass_s": statistics.median(plain),
        "job_s.p50": statistics.median(warm_jobs),
        "job_s.tail": tail,
        "first_pass_cpu_s": pass_cpu[0],
        "pass_cpu_s": statistics.mean(plain_cpu),
    }
    print(f"# workload {workload} seed {seed} nproc {nproc} trace {int(trace)}")
    print(f"# session.start_s {session_s:.4f} s")
    for k, v in e2e.items():
        print(f"# {k} {v:.4f} s")
    print(f"# job_s.tail is p{pct:.0f} of {len(jobs)} job latencies")
    print(f"# failed_ratio {failed / max(1, attempted):.4f} ratio ({failed}/{attempted})")
    if workload == "elt_nightly":
        for metric, cls in (("refresh_job_s", elt.REFRESH),
                            ("incremental_job_s", elt.INCREMENTAL),
                            ("read_s", elt.READ)):
            vals = [t for traced, timings in warm if not traced for j, t in timings if j in cls]
            print(f"# {metric} {statistics.median(vals):.4f} s")
    print(f"# calibration spark_parallel_s {calib['spark_parallel_s']:.4f} s"
          f" py_single_s {calib['py_single_s']:.4f} s")
    print(f"# host steal_s {steal_s:.2f} s of CPU taken by other guests during the passes")
    print(f"# final correctness check {check_s:.2f} s; warm passes {len(warm)}")
    print("# cpu_s per pass: " + " ".join(f"{c:.2f}" for c in pass_cpu))
    print("# job latencies s: " + " ".join(
        f"{j}={t:.3f}" for _, timings in [(False, first)] + warm for j, t in timings))
    for f in failures[:20]:
        print(f"# FAILED {f}")

    if trace:
        metrics = _summarize_layers(layer_rows, session_s)
        n = len(TRACE_BLOCK)
        blocks = [pass_times[i:i + n] for i in range(0, len(pass_times), n)]
        overheads = [
            sum(p if t else -p for t, p in zip(TRACE_BLOCK, b)) / 2 for b in blocks]
        print("# trace.overhead_s per block: " + ", ".join(f"{o:.4f}" for o in overheads))
        metrics["trace.overhead_s"] = {"value": statistics.median(overheads), "unit": "s"}
        os.makedirs(base, exist_ok=True)
        tracer.dump(os.path.join(base, f"spans-{workload}-{seed}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": "s"} for k in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _failed_jobs(failures: list[str]) -> int:
    """Distinct jobs among one pass's failure messages ("job: why")."""
    return len({f.split(":", 1)[0] for f in failures})


def _layer_row(tracer, groups, layers, timings, workload) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    row = dict(layers.values)
    stages: list[int] = []
    for g in groups:
        n_jobs, st = tracer.jobs_and_stages(g)
        stages += st
        job = g.split(":", 1)[1]
        if workload == "elt_nightly":
            row[f"jobs.pipelines.{job}.spark_jobs"] = n_jobs
            row[f"jobs.pipelines.{job}.spark_stages"] = len(set(st))
        else:
            kind = "build_jobs" if job.endswith(":build") else "exec_jobs"
            row[f"queries.{kind}"] = row.get(f"queries.{kind}", 0) + n_jobs
    if workload == "elt_nightly":
        for job, t in timings:
            row[f"jobs.pipelines.{job}.s"] = t
    for k, v in tracer.stage_metrics(stages).items():
        row[f"spark.{k}"] = v
    live = row.pop("sinks.versioned.live_before", 0)
    row["sinks.versioned.rewrite_ratio"] = row.get("sinks.versioned.files_rewritten", 0) / live if live else 0.0
    return row


def _summarize_layers(rows: list[dict], session_s: float) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    out = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        if name == "session.start_s":
            value = session_s
        elif name == "trace.overhead_s":
            continue
        elif unit == "s" or name == "spark.task_skew":
            value = statistics.median(r.get(name, 0) for r in rows)
        else:
            # counts come from the first traced pass, always the same
            # night or pass for a seed, so they repeat exactly
            value = rows[0].get(name, 0)
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
