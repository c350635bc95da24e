#!/usr/bin/env python3
"""Benchmark for console-etl's serving path and the analytic core.

    python3 perfbench/run.py --workload refresh_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads:

- ``refresh_mixed``: three catalogs with room for two in the freshness
  cache and an upstream change every pass, so ingest, publish, eviction and
  cold reads run beside requests on the 304 hit path (``serving.py``).
- ``analytic_core``: a slice of the frozen core queries into the noop sink;
  it bypasses every serving module (``analytic.py``).
- ``all``: each of the above in its own process, one after the other.

With ``--trace 0`` the last line of standard output is one JSON object with
the end-to-end metrics; the line before it gives the workload's figures
under the names of the benchmark's design (p50_ms, refresh_p50_ms, ...)
with their sample counts. With ``--trace 1`` the program's public calls
run inside spans and Spark's event log is on, and the metrics are the
per-layer ones. Everything the run writes stays under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (ops, spans and the host record of
each run) in the current directory.
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

from fbc import ENDPOINTS

WORKLOADS = ("refresh_mixed", "analytic_core")

E2E = {"setup_s": "s", "cpu_ms_per_op": "ms", "pass_cpu_s": "s"}
PER_LAYER = {
    "engine.request_ms": "ms",
    "engine.action_ms": "ms",
    **{f"engine.{ep}_p50_ms": "ms" for ep in ENDPOINTS},
    "catalog.guard_ms": "ms",
    "refresh.get_ms": "ms",
    "refresh.probe_ms": "ms",
    "refresh.builds": "count",
    "refresh.evictions": "count",
    "refresh.hit_ratio": "ratio",
    "ingest.build_ms": "ms",
    "ingest.jobs": "count",
    "store.publish_ms": "ms",
    "store.read_ms": "ms",
    "store.current_ms": "ms",
    "store.drop_ms": "ms",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.bytes_per_input_byte": "ratio",
    "queries.plan_ms": "ms",
    "session.start_s": "s",
    "session.jobs_per_req": "count",
    "session.tasks_per_req": "count",
    "session.executor_run_ms": "ms",
    "session.executor_cpu_ms": "ms",
    "session.gc_ms": "ms",
    "session.input_rows_per_row_returned": "ratio",
    "session.residual_ms": "ms",
    "session.jvm_rss_mb": "MB",
    **{f"{layer}.{m}": u for layer in ("relational", "llmops")
       for m, u in (("build_ms", "ms"), ("action_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "trace.overhead_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def calibrate() -> float:
    """Seconds for a fixed single-thread loop: a host-speed record."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(700_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def host_record() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calib_s": round(statistics.median(calibrate() for _ in range(3)), 4),
    }


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks (user nice system idle iowait irq
    softirq steal ...), for the share of CPU time a hypervisor stole."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def sandbox(work: str) -> None:
    """Keep every temporary file of Python, the JVM and Spark under
    ``work``, and fix the session's cores and heap."""
    for sub in ("tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def start_session(work: str, traced: bool):
    from console_etl_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))] if s else 0.0


# -- measuring ---------------------------------------------------------------
def measure(wl, seconds: float, probe, tracer=None) -> list[float]:
    """``seconds / wl.PASS_S`` whole passes, at least one: a fixed count, so
    every run does the same work however fast the host is. The speed probe
    runs before each pass and after the last. With a tracer, each traced
    pass is paired with an untraced one, for ``trace.overhead_ms``, in
    alternating order so that neither side gets the warmer JVM; only the
    traced passes count. Returns the client's waiting time in each counted
    pass."""
    passes: list[float] = []
    probe.run()
    for p in range(1, 1 + max(1, round(seconds / wl.PASS_S))):
        if tracer is None:
            passes.append(wl.run_pass(p))
            probe.run()
            continue
        if p % 2:
            wl.run_pass(-p)
        tracer.enabled = True
        passes.append(wl.run_pass(p))
        tracer.enabled = False
        if not p % 2:
            wl.run_pass(-p)
        probe.run()
    return passes


def run_workload(args, spark, session_s: float, work: str, tracer) -> dict:
    """Set up, measure, and return the run's ops and figures."""
    from cputime import SpeedProbe, TreeClock

    clock = TreeClock(jvm_pid(spark))
    if args.workload == "analytic_core":
        from analytic import Analytic

        wl = Analytic(spark, args.seed, work, tracer, clock)
    else:
        import serving

        wl = serving.Serving(spark, args.seed, work, tracer, clock)
    t0 = time.perf_counter()
    wl.setup()
    out: dict = {"session_s": session_s, "setup_s": session_s + time.perf_counter() - t0}
    if args.trace and args.workload != "analytic_core":
        serving.instrument(tracer, wl.engine, wl.written)
    probe = SpeedProbe(spark)
    out["passes"] = measure(wl, args.seconds, probe, tracer if args.trace else None)
    out["speed_probe_ms"] = probe.samples
    out["scale"] = probe.scale()
    out["unmeasured"] = wl.unmeasured
    out["ops"] = wl.ops
    out["failures"] = wl.failures
    if args.workload != "analytic_core":
        out["store_ratio"] = wl.store_bytes_per_input_byte()
        out["written"] = wl.written
    out["jvm_rss_mb"] = jvm_rss_mb(spark)
    return out


# -- reporting ---------------------------------------------------------------
def pass_cpu_s(ops: list[dict]) -> float:
    """Median over passes of the CPU seconds of all operations in a pass."""
    per_pass: dict[int, float] = {}
    for op in ops:
        per_pass[op["pass"]] = per_pass.get(op["pass"], 0.0) + op["cpu_ms"] / 1000.0
    return statistics.median(per_pass.values())


def end_to_end(res: dict, scale: float | None = None) -> dict[str, float]:
    """The gated metrics; CPU times are scaled by the run's speed probe
    unless ``scale`` is given (1.0: as read)."""
    scale = res["scale"] if scale is None else scale
    plain = [op["cpu_ms"] for op in res["ops"] if not op["refresh"]]
    return {
        "setup_s": res["setup_s"],
        "cpu_ms_per_op": scale * sum(plain) / len(plain),
        "pass_cpu_s": scale * pass_cpu_s(res["ops"]),
    }


def design_summary(workload: str, res: dict, attempted: int, failed: int) -> str:
    """The run's figures under the names of the benchmark's design, with
    sample counts."""
    ops = res["ops"]
    plain = [op["ms"] for op in ops if not op["refresh"]]
    e2e, raw = end_to_end(res), end_to_end(res, 1.0)
    parts = [
        f"setup_s={e2e['setup_s']:.3f}",
        f"cpu_ms_per_op={e2e['cpu_ms_per_op']:.1f} (n={len(plain)}; as read {raw['cpu_ms_per_op']:.1f})",
        f"pass_cpu_s={e2e['pass_cpu_s']:.3f} (as read {raw['pass_cpu_s']:.3f})",
        f"speed_probe_ms={statistics.median(res['speed_probe_ms']):.1f} (n={len(res['speed_probe_ms'])})",
        f"p50_ms={statistics.median(plain):.1f} (n={len(plain)})",
        f"ops_per_s={len(ops) / sum(res['passes']):.3f}",
    ]
    if workload == "analytic_core":
        parts.append(f"analytic_core_s={statistics.median(res['passes']):.3f} (passes={len(res['passes'])})")
    else:
        # the highest whole percentile, up to 90, with ten samples above it
        pct = max(50, min(90, (100 * (len(plain) - 10)) // len(plain)))
        tail = percentile(plain, pct / 100)
        above = sum(1 for v in plain if v > tail)
        parts.append(f"serve_p{pct}_ms={tail:.1f} (n={len(plain)}, {above} above)")
        for ep in ENDPOINTS:
            vals = [op["ms"] for op in ops if op["endpoint"] == ep and not op["refresh"]]
            if vals:
                parts.append(f"{ep}_p50_ms={statistics.median(vals):.1f} (n={len(vals)})")
        refresh = [op for op in ops if op["refresh"]]
        if refresh:
            cpu = sum(op["cpu_ms"] for op in refresh)
            parts += [
                f"refresh_p50_ms={statistics.median(op['ms'] for op in refresh):.1f} (n={len(refresh)})",
                f"refresh_cpu_ms={cpu / len(refresh):.1f}",
                f"refresh_cpu_share={cpu / sum(op['cpu_ms'] for op in ops):.3f}",
            ]
        parts.append(f"store_bytes_per_input_byte={res['store_ratio']:.3f}")
    parts.append(f"op_fail_frac={failed / attempted:.4f} ({failed}/{attempted})")
    return f"# {workload}: " + " ".join(parts)


def per_layer(args, res: dict, tracer, log_dir: str) -> dict[str, float]:
    from spans import jobs_in_layer, median, per_call, read_event_log, spark_layer_metrics

    log = read_event_log(log_dir)
    traced = [op for op in res["ops"] if op["traced"]]
    untraced = [op for op in res["ops"] if not op["traced"]]
    m = {name: 0.0 for name in PER_LAYER}
    layers = tracer.layer_calls()
    n = len(traced)
    if args.workload == "analytic_core":
        for layer in ("relational", "llmops"):
            mine = [op for op in traced if op["layer"] == layer]
            for part in ("build", "action"):
                m[f"{layer}.{part}_ms"] = per_call(tracer.name_calls(f"{layer}.{part}"))
            for key in ("shuffle_bytes", "spill_bytes"):
                vals = [log["groups"].get(op["group"], {}).get(key, 0) for op in mine]
                m[f"{layer}.{key}"] = sum(vals) / len(vals) if vals else 0.0
        actions = ("relational.action", "llmops.action")
    else:
        roots = tracer.roots()
        m["engine.request_ms"] = sum((s["end"] - s["start"]) * 1000.0 for s in roots) / max(1, len(roots))
        m["engine.action_ms"] = tracer.name_calls("engine.action")[0] / max(1, n)
        for ep in ENDPOINTS:
            m[f"engine.{ep}_p50_ms"] = median(
                [op["ms"] for op in traced if op["endpoint"] == ep and not op["refresh"]]
            )
        m["catalog.guard_ms"] = per_call(layers.get("catalog", (0.0, 0)))
        for name in ("refresh.get", "refresh.probe", "store.publish", "store.read", "store.current", "store.drop"):
            m[f"{name}_ms"] = per_call(tracer.name_calls(name))
        gets = tracer.name_calls("refresh.get")[1]
        m["refresh.builds"] = sum(op["refresh"] for op in traced)
        m["refresh.evictions"] = tracer.name_calls("store.drop")[1]
        m["refresh.hit_ratio"] = sum(op["hit"] for op in traced) / gets if gets else 0.0
        builds = layers.get("ingest", (0.0, 0))
        m["ingest.build_ms"] = per_call(builds)
        m["ingest.jobs"] = jobs_in_layer(tracer, log, "ingest") / builds[1] if builds[1] else 0.0
        written = res["written"]
        if written:
            m["store.files_written"] = sum(f for f, _ in written) / len(written)
            m["store.bytes_written"] = sum(b for _, b in written) / len(written)
        m["store.bytes_per_input_byte"] = res["store_ratio"]
        m["queries.plan_ms"] = per_call(layers.get("queries", (0.0, 0)))
        actions = ("engine.action",)
    plain_t = [op["ms"] for op in traced if not op["refresh"]]
    plain_u = [op["ms"] for op in untraced if not op["refresh"]]
    m["trace.overhead_ms"] = statistics.median(plain_t) - statistics.median(plain_u)
    m.update(spark_layer_metrics(tracer, log, traced, actions))
    if args.workload == "analytic_core":
        m["session.input_rows_per_row_returned"] = 0.0  # the noop sink returns no rows
    m["session.jvm_rss_mb"] = res["jvm_rss_mb"]
    m["session.start_s"] = res["session_s"]
    return m


# -- entry points --------------------------------------------------------------
def run_one(args) -> int:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sandbox(work)
    sys.path.insert(0, root)
    try:
        return _run(args, work, os.path.join(root, ".perfbench_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    import console_etl_spark  # noqa: F401  (fails fast outside a checkout)
    import spans

    host = host_record()
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    tracer = spans.Tracer()
    if args.trace and args.workload != "analytic_core":
        import serving

        serving.instrument_modules(tracer)
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        res = run_workload(args, spark, session_s, work, tracer)
    finally:
        stop_session(spark)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    host["steal_frac"] = round(ticks[7] / max(1, sum(ticks)), 4)
    print(f"# host {json.dumps(host)}", file=sys.stderr)

    attempted = res["unmeasured"] + len(res["ops"])
    failed = len(res["failures"])
    for f in res["failures"][:20]:
        print(f"# FAILED {f}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(args, res, tracer, os.path.join(work, "eventlog"))
        units = PER_LAYER
    else:
        metrics = end_to_end(res)
        units = E2E
        print(design_summary(args.workload, res, attempted, failed))
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"host": host, "ops": res["ops"], "passes": res["passes"], "speed_probe_ms": res["speed_probe_ms"],
                   "failures": res["failures"], "metrics": metrics}, f)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; their summaries, then one line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"# {wl}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{wl}/{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
