#!/usr/bin/env python3
"""fever_spark benchmark runner.

    python3 perfbench/run.py --workload page_sketch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` runs the same operations untraced
and then traced, and reports the per-layer metrics and the tracing
overhead. A JSON report line precedes the last line, which is the result:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
# fixture directories kept per kind; older seeds are deleted (a page
# fixture is about 330 MB)
FIXTURES_KEPT = 10
# untimed operations run for at least this long before timing starts: the
# JIT keeps speeding operations up over the first jobs or drains
WARMUP_S = 8.0
# The host's co-tenants change how fast a run goes, by 20-60% between runs
# minutes apart, in two ways. They take the VM's CPUs away: the kernel
# counts that as steal time (/proc/stat), read around the set-up and every
# operation. And they slow the CPU down while it runs, mostly through the
# shared cache and memory: a fixed control, run outside Spark and the
# library (one process per core, each gathering from a 64 MB array at
# scattered indices), timed before and after the loop, gauges that by its
# CPU seconds. The gated times take the stolen share out and rescale to a
# host where the control takes CONTROL_REF_CPU_S CPU seconds. The control's
# processes start their work together, at the time given as argv[2].
CONTROL_SRC = """
import sys, time
import numpy as np
n = 1 << 23
b = np.arange(n, dtype=np.int64)
idx = ((np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
       >> np.uint64(41)).astype(np.intp)
time.sleep(max(0.0, float(sys.argv[2]) - time.time()))
t0, c0 = time.perf_counter(), time.process_time()
for _ in range(int(sys.argv[1])):
    for s in range(0, n, 1 << 20):
        b.take(idx[s:s + (1 << 20)]).sum()
print(time.perf_counter() - t0, time.process_time() - c0)
"""
CONTROL_REPS = 3
CONTROL_REF_CPU_S = 2.0
# counts that must repeat exactly between traced runs of one seed
REPEATABLE = ("spark.shuffle_records", "ops.build.partial_rows",
              "operators.dedup.candidate_pairs")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def code_key() -> str:
    """Hash of the library and the benchmark sources. Cached fixtures and
    the references stored by earlier runs (traced counts, curate's output
    digest) live under it, so they never outlive the code that made them."""
    h = hashlib.sha256()
    for top in ("fever_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(f for f in files if not f.endswith(".md")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def prune_cache(keep: str) -> None:
    """Delete cache entries of other code versions."""
    for name in os.listdir(CACHE):
        if len(name) == 16 and name != keep and all(
                c in "0123456789abcdef" for c in name):
            shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)


def ensure_fixture(cache: str, kind: str, seed: int) -> tuple[str, float]:
    """Generate the seed's inputs once, in a child process; later runs
    with the same seed reuse them."""
    root = os.path.join(cache, "fixtures")
    path = os.path.join(root, f"{kind}-seed{seed}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return path, 0.0
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "fixtures.py"), kind,
                    str(seed), tmp], check=True, timeout=120)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    older = sorted((os.path.getmtime(os.path.join(root, d, "_DONE")), d)
                   for d in os.listdir(root) if d.startswith(f"{kind}-seed")
                   and os.path.exists(os.path.join(root, d, "_DONE")))
    for _, d in older[:-FIXTURES_KEPT]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return path, time.perf_counter() - t0


def cpu_stat() -> tuple[int, int]:
    """→ (busy, stolen) CPU ticks of this VM so far, summed over its CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def steal_share(since: tuple[int, int]) -> float:
    """The share of the CPU time the VM wanted since ``since`` that the
    hypervisor gave to other tenants: stolen ÷ (stolen + used)."""
    busy, steal = (b - a for a, b in zip(since, cpu_stat()))
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def control() -> tuple[float, float]:
    """→ (wall s, CPU s) of one control run: the slowest process's wall
    time and the CPU time of all of them."""
    start = str(time.time() + 0.4)
    procs = [subprocess.Popen([sys.executable, "-c", CONTROL_SRC,
                               str(CONTROL_REPS), start],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(nproc())]
    walls, cpus = [], []
    for p in procs:
        out, _ = p.communicate(timeout=60)
        if p.returncode:
            raise RuntimeError(f"control exited with {p.returncode}")
        wall, cpu = map(float, out.split())
        walls.append(wall)
        cpus.append(cpu)
    return max(walls), sum(cpus)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), live or reaped."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid in cpu:
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            total += cpu[pid]
    return total / os.sysconf("SC_CLK_TCK")


def tail_stat(times: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it; None
    under 20 samples, where it would sit at or below the median."""
    n = len(times)
    if n < 20:
        return None, None
    return 100.0 * (n - 10) / n, sorted(times)[n - 11]


class Session:
    """The Spark session under test and its JVM."""

    def __init__(self, workload: str, trace: bool, run_dir: str, progress):
        self.cpus = nproc()
        self.progress = progress
        self.event_dir = os.path.join(run_dir, "eventlog")
        local = os.path.join(run_dir, "spark-local")
        os.makedirs(self.event_dir)
        os.makedirs(local)
        self.conf = {
            # the library's 16g default is meant for corpus-scale jobs; the
            # workloads fit in 4g, and the host's memory is shared
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.app = f"perfbench-{workload}"
        self.spark = None
        self.jvm = None

    def start(self):
        from fever_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark(master=f"local[{self.cpus}]",
                               app_name=self.app, extra_conf=self.conf)
        self.spark.streams.addListener(self.progress)
        self.jvm = SparkContext._gateway.proc
        return self.spark

    def warm_python(self) -> None:
        """Start the Python workers on every core."""
        self.spark.range(0, 1 << 12, 1, 2 * self.cpus).mapInPandas(
            lambda it: it, "id long").count()

    def stop(self) -> str | None:
        """Stop Spark and the JVM, wait for both; → the event-log file."""
        if self.spark is None:
            return None
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
        path = os.path.join(self.event_dir, app_id)
        return path if os.path.exists(path) else None


def run_ops(wl, spark, tracer, seconds: float | None = None,
            count: int | None = None) -> list:
    """Closed loop: the next operation starts when the previous one ends,
    until ``seconds`` have passed or ``count`` operations have run."""
    from workloads import OpResult

    out = []
    deadline = time.perf_counter() + (seconds or 0)
    while True:
        cpu0, stat0 = tree_cpu_s(), cpu_stat()
        try:
            if tracer.enabled:
                with tracer.span("op"):
                    r = wl.run_op(spark, tracer)
            else:
                r = wl.run_op(spark, tracer)
        except Exception:
            log(traceback.format_exc())
            r = OpResult(failures=["operation raised"])
        r.cpu = tree_cpu_s() - cpu0
        r.steal_share = steal_share(stat0)
        for f in r.failures:
            log(f"check failed: {f}")
        out.append(r)
        if count is not None:
            if len(out) >= count:
                return out
        elif time.perf_counter() >= deadline:
            return out


def tally(results) -> tuple[int, int]:
    attempted = failed = 0
    for r in results:
        n = max(1, len(r.times))
        attempted += n
        failed += n if r.failures else 0
    return attempted, failed


def end_to_end(name, results, setup, setup_steal, session, fixture_s,
               gauge) -> dict:
    times = [t for r in results for t in r.times]
    ok = [r for r in results if r.wall > 0]
    rows_per_s = (sum(r.rows for r in ok) / sum(r.wall for r in ok)
                  if ok else 0.0)
    cpu_us_per_row = (sum(r.cpu for r in ok) / sum(r.rows for r in ok) * 1e6
                      if ok else 0.0)
    peak = vm_hwm_mb(os.getpid()) + vm_hwm_mb(session.jvm.pid)
    attempted, failed = tally(results)
    pct, tail = tail_stat(times)
    p50 = statistics.median(times) if times else 0.0
    ctl_cpu = statistics.median(g[1] for g in gauge)
    speed = CONTROL_REF_CPU_S / ctl_cpu
    p50_adj = statistics.median(
        t * (1 - r.steal_share) * speed for r in results for t in r.times
    ) if times else 0.0
    rows_adj = (sum(r.rows for r in ok) / sum(
        r.wall * (1 - r.steal_share) * speed for r in ok) if ok else 0.0)
    cpu_adj = cpu_us_per_row * speed
    setup_adj = setup * (1 - setup_steal) * speed
    streaming = name in ("eve_alert", "stream_state")
    report = {
        "parallelism": session.cpus,
        "fixture_s": fixture_s,
        "setup_raw_s": setup,
        "setup_steal_share": setup_steal,
        "setup_s": setup_adj,
        "rows_per_s": rows_per_s,
        ("trigger_s_p50" if streaming else "job_s_p50"): p50,
        "samples": len(times),
        "op_times": times,
        "cpu_us_per_row": cpu_us_per_row,
        "steal_share": [r.steal_share for r in results],
        "control_s": [g[0] for g in gauge],
        "control_cpu_s": [g[1] for g in gauge],
        "op_s_p50_adj": p50_adj,
        "rows_per_s_adj": rows_adj,
        "cpu_us_per_row_adj": cpu_adj,
        "peak_rss_mb": peak,
        "error_rate": failed / attempted,
    }
    if streaming:
        report.update(trigger_s_tail=tail, trigger_s_tail_pct=pct)
    for key in ("est_error_ratio", "dup_recall", "dup_precision"):
        vals = [r.report[key] for r in results if key in r.report]
        if vals:
            report[key] = (max(vals) if key == "est_error_ratio"
                           else min(vals))
    metrics = {"setup_s": setup_adj, "rows_per_s_adj": rows_adj,
               "op_s_p50_adj": p50_adj}
    return report, metrics


def per_layer(wl, tracer, traced, op_groups, extra, kernels, cold, events,
              overhead) -> dict:
    """``op_groups``: the job groups of the traced operations; the spark.*
    totals cover those and leave out the layer probes."""
    from tracing import EVENT_LOG_FIELDS
    from workloads import streaming_layer

    n = len(traced)
    d = tracer.durations()
    groups = set(op_groups) | {rid for r in traced for rid in r.run_ids}

    def ev(group: str, field: str) -> float:
        """Event-log counter per call of the layer."""
        return (events.get(group, {}).get(field, 0.0)
                / max(1, len(d.get(group, ()))))

    def span(name: str) -> float:
        return statistics.median(d[name]) if name in d else 0.0

    m = dict(cold)
    m.update(kernels)
    m.update({
        "sources.scan_s": span("sources.scan"),
        "sources.scan_bytes": ev("sources.scan", "input_bytes"),
        "ops.build.s": span("ops.build"),
        "ops.build.py_run_s": ev("ops.build", "py_run_s"),
        "ops.build.py_bytes_sent": ev("ops.build", "py_bytes_sent"),
        "ops.merge.s": span("ops.merge"),
        "ops.merge.shuffle_records": ev("ops.merge", "shuffle_records"),
        "ops.merge.shuffle_bytes": ev("ops.merge", "shuffle_bytes"),
        "ops.estimate.s": span("ops.estimate"),
        "jobs.curate.spark_jobs": ev("jobs.curate", "jobs"),
        "trace.overhead_s": overhead,
    })
    keys = {k for r in traced for k in r.layer}
    for k in keys:
        agg = max if ("error_ratio" in k or "false_neg" in k
                      or "dropped" in k) else statistics.median
        m[k] = agg([r.layer[k] for r in traced if k in r.layer])
    triggers = wl.progress.triggers([rid for r in traced for rid in r.run_ids])
    if triggers:
        m.update(streaming_layer(triggers))
    m.update(extra)
    for f in EVENT_LOG_FIELDS:
        if f != "input_bytes":
            m[f"spark.{f}"] = sum(events.get(g, {}).get(f, 0.0)
                                  for g in groups) / n
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fever_spark")):
        log(f"no fever_spark package under {ROOT}; run from a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    key = code_key()
    prune_cache(key)
    try:
        return measure(args, bench, run_dir, os.path.join(CACHE, key))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, bench: dict, run_dir: str, cache: str) -> int:
    from tracing import NullTracer, ProgressCollector, Tracer, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl_cls = WORKLOADS[args.workload]
    kinds = (wl_cls.fixture,) + (wl_cls.probe_fixtures if args.trace else ())
    fixtures, fixture_s = {}, 0.0
    for kind in kinds:
        fixtures[kind], secs = ensure_fixture(cache, kind, args.seed)
        fixture_s += secs
    progress = ProgressCollector()
    session = Session(args.workload, bool(args.trace), run_dir, progress)
    wl = wl_cls(fixtures, args.seed, os.path.join(run_dir, "work"), progress)
    try:
        t0, stat0 = time.perf_counter(), cpu_stat()
        spark = session.start()
        t1 = time.perf_counter()
        session.warm_python()
        t2 = time.perf_counter()
        wl.prepare(spark)
        setup = time.perf_counter() - t0
        setup_steal = steal_share(stat0)
        cold = {"session.start_s": t1 - t0, "session.py_warmup_s": t2 - t1}
        log(f"set-up {setup:.2f} s")
        t0 = time.perf_counter()
        run_ops(wl, spark, NullTracer(), seconds=WARMUP_S)
        log(f"warm-up {time.perf_counter() - t0:.2f} s")
        gauge = [control(), control()]
        t0 = time.perf_counter()
        if args.trace:
            # untraced and traced operations alternate, so both halves see
            # the same warmth; the difference is the tracing overhead
            tracer = Tracer(spark, f"{args.workload}-seed{args.seed}")
            results, traced = [], []
            while not results or time.perf_counter() - t0 < args.seconds:
                results += run_ops(wl, spark, NullTracer(), count=1)
                traced += run_ops(wl, spark, tracer, count=1)
            overhead = (sum(r.wall for r in traced)
                        - sum(r.wall for r in results))
        else:
            results = run_ops(wl, spark, NullTracer(), seconds=args.seconds)
        log(f"timed {len(results)} operations in "
            f"{time.perf_counter() - t0:.2f} s")
        gauge += [control(), control()]
        report, metrics = end_to_end(args.workload, results, setup,
                                     setup_steal, session, fixture_s, gauge)
        probe_failures = []
        if args.trace:
            from kernels import kernel_metrics

            op_groups = set(tracer.durations())
            extra, wfail = wl.trace_extra(spark, tracer)
            kern, kfail = kernel_metrics(args.seed)
            probe_failures = [wfail, kfail]
            results += traced
        event_log = session.stop()
    finally:
        session.stop()

    # each layer probe of the traced run is one more operation
    attempted, failed = tally(results)
    attempted += len(probe_failures)
    failed += sum(1 for f in probe_failures if f)
    for f in sum(probe_failures, []):
        log(f"check failed: {f}")
    if args.trace:
        events = read_event_log(event_log) if event_log else {}
        layers = per_layer(wl, tracer, traced, op_groups, extra, kern, cold,
                           events, overhead)
        spans_dir = os.path.join(cache, "traces")
        os.makedirs(spans_dir, exist_ok=True)
        stem = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}")
        with open(stem + ".json", "w") as f:
            json.dump({"spans": tracer.with_self_time(), "event_log": events},
                      f, indent=1)
        counts = {k: layers.get(k, 0.0) for k in REPEATABLE}
        attempted += 1
        if os.path.exists(stem + ".counts.json"):
            with open(stem + ".counts.json") as f:
                first = json.load(f)
            if first != counts:
                failed += 1
                log(f"check failed: counts {counts} != first run {first}")
        else:
            with open(stem + ".counts.json", "w") as f:
                json.dump(counts, f)
        declared = bench["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in declared}
        report["layers"] = layers
    else:
        declared = bench["end_to_end"]
        values = {m["name"]: metrics[m["name"]] for m in declared}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
