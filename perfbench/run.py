"""Weather-path benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

BENCHMARK.json lists the workloads performance is compared on, ``serve``
and ``hourly_upsert``, and the metrics a run reports. ``catalog_leads``
(workloads.py) runs the same way but is not listed: its cold warm pass
alone takes about 20 s, and a third workload does not fit the time a
comparison that repeats each workload a few dozen times can spend.

A run makes its inputs from ``--seed``, then sets up: session start and
input load, several times, each in a fresh JVM, then one warm pass in
the last of them; ``setup_s`` is the median start-and-load plus the warm
pass. In that JVM it runs, back to back, the operations a workload's
nominal rate fits in ``--seconds`` (at least MIN_OPS), then checks the
outputs outside the timed region. ``--trace 1`` traces every other
operation and reports the per-layer metrics, with the tracing overhead,
instead of the end-to-end ones.

Every line but the last is a human-readable report: the environment
(cores, seed, input sizes), each check, and each metric with its unit
and sample count. The last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The run exits non-zero if a
check fails or the engine's sources are missing. Everything it writes
stays under ``perfbench/_work/``; the weather history, which depends
only on the code, is kept there for the next run.
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
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2
MIN_OPS = 4


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics, from
    BENCHMARK.json: the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _select(kind: str, found: dict[str, tuple]) -> dict[str, tuple]:
    """The (value, unit) of each metric BENCHMARK.json lists as ``kind``."""
    units = _metric_units(kind)
    missing = sorted(set(units) - set(found))
    if missing:
        raise KeyError(f"{kind} metrics not computed: {missing}")
    for k, u in units.items():
        if found[k][1] != u:
            raise ValueError(f"{k}: unit {found[k][1]!r}, BENCHMARK.json {u!r}")
    return {k: (float(found[k][0]), u) for k, u in units.items()}


def _pin_environment(work: str) -> int:
    """Core count from the CPUs this process may use (nproc), the repo
    root on the Python workers' path, and every scratch path inside the
    work dir. Must run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first would write /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cores


def _start_session(work: str, trace: bool):
    from weather_data_pipeline_sv_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            "-XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _measure(wl, spark, n_ops: int, cpu_fn, untraced: list,
             traced: list | None = None) -> None:
    """Run ``n_ops`` operations back to back (a closed loop). Records (ok,
    wall, cpu) per operation; a negative process-tree CPU delta is a
    measurement failure, kept as None (a descendant that exited took its
    CPU with it). Given a ``traced`` list, every other operation is
    traced, ``n_ops`` of each, so traced and untraced operations see the
    same warm-up."""
    n = 0
    while len(untraced) < n_ops or (traced is not None and len(traced) < n_ops):
        trace = traced is not None and n % 2 == 1
        c0 = cpu_fn()
        t0 = time.perf_counter()
        ok = True
        try:
            wl.t.enabled = trace
            with wl.traced() if trace else nullcontext():
                wl.op(spark)
        except Exception:  # noqa: BLE001 — a failed operation is counted
            ok = False
            _log(f"{wl.name} operation failed:\n{traceback.format_exc()}")
        finally:
            wl.t.enabled = False
        wall = time.perf_counter() - t0
        cpu = cpu_fn() - c0
        wl.layers.release()
        (traced if trace else untraced).append(
            (ok, wall, cpu if cpu >= 0 else None))
        n += 1
    _log(f"op walls: untraced {[round(w, 3) for _, w, _ in untraced]}"
         + (f", traced {[round(w, 3) for _, w, _ in traced]}" if traced else ""))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("weather_data_pipeline_sv_spark/__init__.py", "bench.py",
                 "tests/weather_oracle.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _log(f"{need} not found under {ROOT}")
            return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = _pin_environment(work)
    os.chdir(work)

    from bench import _tree_cpu_seconds
    from spans import Tracer, read_event_logs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    trace = bool(args.trace)
    # set-up passes are not traced operations
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                    enabled=False)
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer)

    @contextmanager
    def private_session():
        spark = _start_session(work, False)
        try:
            yield spark
        finally:
            _stop_jvm(spark)

    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare(private_session)  # inputs, not set-up
        _log(f"prepare: {time.perf_counter() - t0:.2f} s")
        # Each set-up repeat is a fresh JVM (session start and input load);
        # the warm pass, the first pass through the engine in the last of
        # those JVMs, runs once: a second cold pass per run costs more time
        # than the comparison's budget has.
        starts, session_s = [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                tracer.sc = None
                _stop_jvm(spark)
            t0 = time.perf_counter()
            spark = _start_session(work, trace)
            tracer.sc = spark.sparkContext
            t1 = time.perf_counter()
            wl.load(spark)
            starts.append(time.perf_counter() - t0)
            session_s.append(t1 - t0)
            _log(f"setup {rep}: session {t1 - t0:.2f} s, "
                 f"load {time.perf_counter() - t1:.2f} s")
        t0 = time.perf_counter()
        wl.warm(spark)
        wl.layers.release()
        warm_s = time.perf_counter() - t0
        _log(f"warm pass: {warm_s:.2f} s")

        untraced, traced = [], []
        # a count fixed by --seconds, not by the host's speed: latency
        # still falls as the JVM warms, so a faster host measuring more
        # operations would also measure warmer ones
        n_ops = max(MIN_OPS, round(args.seconds * wl.rate))
        _measure(wl, spark, n_ops, _tree_cpu_seconds, untraced,
                 traced if trace else None)
        ops = untraced + traced
        t3 = time.perf_counter()
        wl.check(spark)
        _log(f"check: {time.perf_counter() - t3:.2f} s")
    finally:
        if spark is not None:
            _stop_jvm(spark)

    failed_ops = sum(1 for ok, _, _ in ops if not ok)
    failed_checks = [c for c in wl.checks if not c[1]]
    attempted = len(ops) + len(wl.checks)
    failed = failed_ops + len(failed_checks) + wl.wrong_ops
    walls = [w for ok, w, _ in untraced if ok]
    cpus = [c for ok, _, c in untraced if ok and c is not None]

    print(f"environment: cores={cores} seed={args.seed} "
          f"workload={args.workload} seconds={args.seconds} "
          f"trace={args.trace} inputs={json.dumps(wl.sizes, default=str)}")
    for name, ok, detail in wl.checks:
        print(f"check {name}: {'PASS' if ok else 'FAIL'} ({detail})")
    if not walls:
        _log("no operation succeeded")
        return 1

    e2e = {
        "setup_s": (statistics.median(starts) + warm_s, "s",
                    f"median of n={len(starts)} session start + input load, "
                    f"each in a fresh JVM, plus one warm pass"),
        "op_p50_ms": (statistics.median(walls) * 1e3, "ms", f"n={len(walls)}"),
        "op_cpu_ms": (statistics.median(cpus) * 1e3 if cpus else float("nan"),
                      "ms", f"n={len(cpus)}"),
    }
    e2e.update(_named_metrics(args.workload, walls, cpus, wl))
    e2e["error_rate"] = (failed / attempted, "ratio",
                         f"{failed} failed of {attempted} attempted")
    for k, (v, unit, note) in e2e.items():
        print(f"metric {k} = {v:.6g} {unit} ({note})")

    if trace:
        groups = read_event_logs(os.path.join(work, "eventlog"))
        tracer.write(os.path.join(HERE, "_work",
                                  f"spans-{args.workload}-{args.seed}.json"))
        twalls = [w for ok, w, _ in traced if ok]
        found = wl.layer_metrics(groups)
        found.update(wl.spark_metrics(groups))
        found["session.start_s"] = statistics.median(session_s)
        found["trace.overhead_ms"] = (
            (statistics.median(twalls) - statistics.median(walls)) * 1e3
            if twalls else 0.0)
        # a layer the workload does not exercise reports 0
        metrics = _select("per_layer", {
            k: (found.get(k, 0.0), u)
            for k, u in _metric_units("per_layer").items()})
        for k, v in metrics.items():
            print(f"layer {k} = {v[0]:.6g} {v[1]}")
        for k in sorted(set(found) - set(metrics)):
            print(f"layer {k} = {found[k]:.6g} (not in BENCHMARK.json)")
    else:
        metrics = _select("end_to_end", {k: v[:2] for k, v in e2e.items()})

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


# workload -> the names its operation's wall and CPU are reported under
_OP_NAMES = {
    "serve": ("serve_p50_ms", None),
    "hourly_upsert": ("tick_p50_s", "tick_cpu_s"),
    "catalog_leads": ("catalog_s", "catalog_cpu_s"),
}


def _named_metrics(workload, walls, cpus, wl) -> dict[str, tuple]:
    """The operation's metrics under the names the workload gives them,
    serve's tail and throughput, and the workload's own extras."""
    out = {}
    name, cpu_name = _OP_NAMES[workload]
    n = f"n={len(walls)}"
    if workload == "serve":
        ms = [w * 1e3 for w in walls]
        out[name] = (statistics.median(ms), "ms", n)
        for q in (0.9, 0.99):
            out[f"serve_p{round(q * 100)}_ms"] = (
                _quantile(ms, q), "ms", f"{n}, {int(len(ms) * (1 - q))} beyond")
        out["serve_rps"] = (len(walls) / sum(walls), "1/s",
                            f"{n}, one closed-loop client")
    else:
        out[name] = (statistics.median(walls), "s", n)
    if cpu_name and cpus:
        out[cpu_name] = (statistics.median(cpus), "s", f"n={len(cpus)}")
    for k, (v, unit) in wl.report().items():
        out[k] = (v, unit, "after the run")
    return out


if __name__ == "__main__":
    sys.exit(main())
