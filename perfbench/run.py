#!/usr/bin/env python3
"""Klepto-shaped benchmark for klepto_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload steal_parquet --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-check

One run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts the program in this process (``local[nproc]``), runs the
workload's first (cold) operation, three warm-up operations, then warm
operations until their time adds up to ``--seconds``, and checks every
operation's output against DuckDB. The last line of stdout is the result object; the line before it
carries per-operation detail and the host/provenance stamp.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
program's public functions in spans, reads Spark's status store per
operation and reports the per-layer metrics instead; its warm operations
alternate traced and untraced, and ``trace.overhead_s`` is the difference
of their medians. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(1, str(ROOT))

import workloads as W  # noqa: E402

#: warm operations run and checked before the measured window: most of
#: the speed-up after the cold one (JIT, Spark's code caches) happens here
WARMUP_OPS = 3


def contract() -> dict:
    """BENCHMARK.json: the metric names and units a run prints."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# --------------------------------------------------------------------------
# the program's session
# --------------------------------------------------------------------------

def configure_env(work: Path) -> None:
    """Point the program's scratch space (and every temp dir) into the
    checkout and let Spark's Python workers import the program."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)


def start_program(wl: W.Workload):
    """Import the program, build its session, connect the source."""
    import klepto_spark as ks
    # the JVM unpacks native libraries into java.io.tmpdir and keeps a
    # perf-data file in /tmp unless told otherwise
    java_opts = f"-Djava.io.tmpdir={wl.work / 'tmp'} -XX:-UsePerfData"
    spark = ks.get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts})
    wl.connect(spark)
    return spark


def stop_program(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


# --------------------------------------------------------------------------
# provenance
# --------------------------------------------------------------------------

def git_commit() -> str:
    try:
        proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return proc.stdout.strip() if proc.returncode == 0 else "unknown"


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    return {"loadavg": os.getloadavg(), "cpu_steal_s": cpu_steal_s()}


def provenance(spark, start: dict) -> dict:
    sc = spark.sparkContext
    end = host_sample()
    return {
        "nproc": os.cpu_count(),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "cpu_steal_s": end["cpu_steal_s"] - start["cpu_steal_s"],
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": git_commit(),
    }


# --------------------------------------------------------------------------
# one measured run
# --------------------------------------------------------------------------

def run_ops(wl: W.Workload, seconds: float, warmup: int, tracer,
            counters) -> list[dict]:
    """The cold op, ``warmup`` warm-up ops, then warm ops until their time
    adds up to ``seconds``. Traced runs trace the cold op and every other
    warm op, so the untraced ones give the tracing overhead."""
    ops: list[dict] = []
    warm_time = 0.0
    min_warm = 2 if tracer else 1
    op = 0
    while True:
        phase = ("cold" if op == 0 else "warmup" if op <= warmup
                 else "warm")
        n_warm = op - 1 - warmup
        if phase == "warm" and warm_time >= seconds and n_warm >= min_warm:
            break
        traced = tracer is not None and (op == 0 or (phase == "warm"
                                                     and n_warm % 2 == 0))
        if traced:
            first_job = counters.mark()
            tracer.enabled = True
            tracer.begin_op(op)
        rec = {"op": op, "phase": phase, "traced": traced}
        wl.before_op(op)
        t0 = time.perf_counter()
        try:
            result = wl.run_op(op)
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            result = None
            rec["errors"] = [traceback.format_exc(limit=3)[-600:]]
        rec["seconds"] = time.perf_counter() - t0
        if traced:
            tracer.end_op()
            tracer.enabled = False
        if result is not None:
            rec["rows"] = result.rows
            try:
                rec["errors"] = wl.check(op, result)
            except Exception:  # noqa: BLE001 - a raising check fails the op
                rec["errors"] = [traceback.format_exc(limit=3)[-600:]]
            if traced:
                # Spark counters first: layer_counts may run jobs of its own
                layer = counters.since(first_job)
                layer.update(result.layer)
                layer.update(tracer.op_summary(op))
                layer.update(wl.layer_counts(result))
                rec["layer"] = layer
        wl.after_op()
        if phase == "warm":
            warm_time += rec["seconds"]
        ops.append(rec)
        op += 1
    return ops


def end_to_end(run: dict) -> dict:
    ops = run["ops"]
    warm = [o for o in ops if o["phase"] == "warm"]
    warm_s = sum(o["seconds"] for o in warm)
    rows = sum(o.get("rows", 0) for o in warm if not o["errors"])
    return {
        "setup_s": run["setup_s"],
        "cold_s": ops[0]["seconds"],
        "warm_s": statistics.median(o["seconds"] for o in warm),
        "rows_per_s": rows / warm_s if warm_s else 0.0,
        "ok_ratio": sum(1 for o in ops if not o["errors"]) / len(ops),
    }


def per_layer(run: dict) -> dict:
    """Median of every layer metric over the traced warm ops, plus set-up
    spans, peak memory and the tracing overhead."""
    warm = [o for o in run["ops"] if o["phase"] == "warm"]
    traced = [o for o in warm if o["traced"] and "layer" in o]
    plain = [o for o in warm if not o["traced"]]
    names = sorted({k for o in traced for k in o["layer"]})
    out = {k: statistics.median(o["layer"].get(k, 0) for o in traced)
           for k in names}
    for name in ("session.get_spark_s", "sources.connect_s"):
        out[name] = run["setup_layer"].get(name, 0.0)
    out.update(run["peaks"])
    if traced and plain:
        out["trace.overhead_s"] = (
            statistics.median(o["seconds"] for o in traced)
            - statistics.median(o["seconds"] for o in plain))
    return out


def one_process(args) -> dict:
    """Generate inputs, start the program, run and check its operations,
    stop it. Returns the run's record (set-up time, ops, provenance)."""
    scale = W.QUICK if args.quick else W.FULL
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    W.reset(work)
    configure_env(work)
    host_start = host_sample()
    wl = W.WORKLOADS[args.workload](work, args.seed, scale)
    spark = None
    run: dict = {"setup_layer": {}, "peaks": {}}
    try:
        wl.prepare()
        tracer = counters = None
        if args.trace:
            import tracing
            tracer = tracing.Tracer()
            tracer.install()
            tracer.enabled = True
        t0 = time.perf_counter()
        spark = start_program(wl)
        run["setup_s"] = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        if tracer:
            tracer.enabled = False
            run["setup_layer"] = tracer.op_summary(None)
            tracer.attach(sc)
            counters = tracing.SparkCounters(sc)
        wl.expect()
        run["ops"] = run_ops(wl, args.seconds,
                             0 if args.quick else WARMUP_OPS, tracer, counters)
        run["provenance"] = provenance(spark, host_start)
        if tracer:
            run["peaks"] = {
                "session.jvm_peak_rss_mb": tracing.peak_rss_mb(
                    sc._gateway.proc.pid),
                "session.py_peak_rss_mb": tracing.peak_rss_mb()}
            tracer.uninstall()
        stop_program(spark)
        spark = None
    finally:
        if spark is not None:
            stop_program(spark)
        wl.close()
        W.reset(work)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    return run


def _public(run: dict) -> dict:
    ops = [{k: v for k, v in o.items() if k != "layer"} for o in run["ops"]]
    return {"setup_s": run["setup_s"], "provenance": run["provenance"],
            "ops": ops}


def measure(args) -> int:
    if not (ROOT / "klepto_spark" / "__init__.py").is_file():
        print(f"no klepto_spark package under {ROOT}", file=sys.stderr)
        return 2
    listed = contract()["per_layer" if args.trace else "end_to_end"]
    run = one_process(args)
    values = per_layer(run) if args.trace else end_to_end(run)
    ops = run["ops"]
    failed = sum(1 for o in ops if o["errors"])
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, **_public(run)}
    if args.trace:
        detail["layer"] = values
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0),
                                "unit": m["unit"]} for m in listed}}))
    return 0


def self_check() -> int:
    """Run every workload once at a tiny scale, traced, with all output
    checks. steal_sqltext must fail with its known defect (see README.md);
    if it starts passing, this says so and fails, so it can be listed."""
    bad = 0
    for name in W.WORKLOADS:  # listed in BENCHMARK.json or not
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload",
             name, "--seed", "1", "--seconds", "0", "--trace", "1",
             "--quick"], capture_output=True, text=True, timeout=600, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"FAIL {name}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            bad += 1
            continue
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        errors = [e for o in detail["ops"] for e in o["errors"]]
        known = getattr(W.WORKLOADS[name], "known_defect", None)
        if known:
            if result["correct"]:
                print(f"FAIL {name}: passes now; its known defect is gone, "
                      "so list the workload in BENCHMARK.json")
                bad += 1
            else:
                print(f"ok   {name}: fails as expected ({known}); "
                      f"first error: {errors[0]}")
        elif result["correct"]:
            spans = sorted(k for k, v in detail["layer"].items()
                           if k.endswith("_s") and v)
            print(f"ok   {name}: {result['attempted']} ops checked; "
                  f"layers with time: {', '.join(spans)}")
        else:
            print(f"FAIL {name}: {errors[:3]}")
            bad += 1
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="tiny inputs (the self-check's scale)")
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if args.self_check:
        return self_check()
    if not args.workload:
        ap.error("--workload is required")
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
