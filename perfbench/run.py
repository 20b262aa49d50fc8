#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""KG benchmark: one command, two workloads, outputs checked against
single-node references.

    python3 perfbench/run.py --workload kg_incremental --seed 1 \
        --seconds 20 --trace 0

Run from the repository root.  The run generates its seeded inputs
(cached under ``perfbench/.cache``), starts one Spark session on
``local[nproc]`` sized to the host, makes one untimed warm call, then
repeats the workload's call sequence closed-loop until ``--seconds``
have passed.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it records the host, the seed and the per-call timings.
See perfbench/README.md for the workloads and every metric.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_incremental", "crf_train_tag")

END_TO_END = {
    "setup_s": "s",
    "apply_p50_s": "s",
    "iter_s": "s",
    "peak_rss_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling-probe", action="store_true",
                   help="on local[1], after a warm build_kg, time one "
                        "build_kg of the base corpus and print its wall "
                        "(the local[1] side of spark.scaling_eff_1to4)")
    return p.parse_args(argv)


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the host, between 1 and 4 GB: the inputs are a few
    MB, and the machine is shared."""
    return max(1024, min(4096, _host_memory_mb() // 4))


def _configure_env(work: str) -> None:
    """Keep every file Spark and PySpark write inside ``work`` and let
    the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the run starts (the launcher and the driver) keeps its
    # temp files here and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _start_session(cores: int, work: str):
    from webstruct_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra={
            "spark.driver.memory": "%dm" % driver_memory_mb(),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def percentile_summary(xs):
    """Median, and the highest percentile with at least ten samples
    beyond it (None below 11 samples), with the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "p50": None, "p_high": None, "p_high_q": None}
    if not n:
        return out
    out["p50"] = statistics.median(xs)
    if n >= 11:
        q = 1.0 - 10.0 / n
        out["p_high_q"] = round(100 * q, 2)
        out["p_high"] = xs[max(0, int(q * n) - 1)]
    return out


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "webstruct_spark")):
        print("perfbench: no webstruct_spark package at %s; run from a "
              "full checkout" % ROOT, file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", "%s-%d" % (args.workload,
                                                   os.getpid()))
    _configure_env(work)
    sys.path.insert(0, HERE)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import pyspark

    from webstruct_spark.kernel import _crf_build, _ctok_build

    # both native kernels are built from source here on first use; the
    # benchmark measures the native paths, so a failed build is fatal
    if _ctok_build.load() is None or _crf_build.load() is None:
        print("perfbench: native kernels failed to build (need gcc)",
              file=sys.stderr)
        return 3

    import inputs as inputs_mod
    import workloads
    from tracing import Recorder, vm_hwm_mb

    # a child process prepares (or finds) the cached inputs, so their
    # memory stays out of this process's peak RSS
    cache = os.path.join(HERE, ".cache")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), cache,
         args.workload, str(args.seed)],
        check=True, timeout=150,
    )
    inputs = inputs_mod.Inputs(
        inputs_mod.cache_root(cache, args.workload, args.seed))
    cores = 1 if args.scaling_probe else len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    kg = args.workload == "kg_incremental"
    iteration = workloads.kg_iteration if kg else workloads.crf_iteration

    t0 = time.perf_counter()
    spark = _start_session(cores, work)
    workloads.warm_call(spark, "kg_incremental" if args.scaling_probe
                        else args.workload, inputs,
                        os.path.join(work, "warm"))
    setup_s = time.perf_counter() - t0

    run_id = uuid.uuid4().hex
    try:
        if args.scaling_probe:
            from webstruct_spark.plans.pipeline import build_kg

            rec = Recorder(spark, False, run_id)
            _, c = rec.call("build_kg", build_kg, spark, inputs.base,
                            os.path.join(work, "build"))
            print(json.dumps({"build_s": c.wall_s, "ok": c.ok,
                              "cores": cores}))
            return 0 if c.ok else 1

        if traced:
            import layers

            result = layers.traced_run(
                spark, args, inputs, work, cores, run_id, iteration,
                os.path.join(HERE, ".out"),
            )
            metrics, rec, detail = result
        else:
            rec = Recorder(spark, False, run_id)
            its = []
            t_loop = time.perf_counter()
            while True:
                n_calls = len(rec.calls)
                walls = iteration(spark, rec, inputs,
                                  os.path.join(work, "it%d" % len(its)))
                walls["iter"] = sum(c.wall_s for c in rec.calls[n_calls:])
                its.append(walls)
                if time.perf_counter() - t_loop >= args.seconds \
                        or rec.failed:
                    break
            metrics, detail = _end_to_end(its, inputs, kg, setup_s, rec)
    finally:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = {"python_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm_pid)}
        peak_rss_mb = rss["python_mb"] + rss["jvm_mb"]
        _stop_session(spark)

    if not traced:
        metrics["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        run_id=run_id, seconds=args.seconds,
        host={"cores": cores, "driver_memory_mb": driver_memory_mb(),
              "host_memory_mb": _host_memory_mb(),
              "pyspark": pyspark.__version__,
              "python": sys.version.split()[0]},
        corpus={"conversations": inputs.conversations,
                "turns": inputs.turns, "delta_turns": inputs.delta_turns},
        setup_s=setup_s,
        peak_rss=rss,
        failures=[c.error for c in rec.calls if not c.ok][:3],
        calls=[(c.kind, round(c.wall_s, 4)) for c in rec.calls],
    )
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": rec.failed == 0 and rec.attempted > 0,
        "attempted": max(1, rec.attempted),
        "failed": rec.failed if rec.attempted else 1,
        "metrics": metrics,
    }))
    return 0


def _end_to_end(its, inputs, kg: bool, setup_s: float, rec):
    """End-to-end metrics of an untraced run, and the per-call timings
    under their design names for the detail line."""
    from workloads import median

    named = {
        "setup_s": ("s", [setup_s]),
        "failed_ops_frac": ("ratio", [rec.failed / max(1, rec.attempted)]),
    }
    if kg:
        appends = [a for w in its for a in w["append"]]
        batches = [b for w in its for b in w["stream_batch"]]
        applies = appends + batches  # a delta's latency, either way in
        built_turns = inputs.turns - sum(inputs.delta_turns)
        builds = [w["build"] for w in its if "build" in w]
        named.update({
            "build_s": ("s", builds),
            "build_turns_per_s": ("turns/s",
                                  [built_turns / b for b in builds]),
            "append_p50_s": ("s", appends),
            "stream_batch_p50_s": ("s", batches),
            "kg_read_s": ("s", [w["read"] for w in its if "read" in w]),
            "compact_s": ("s", [w["compact"] for w in its
                                if "compact" in w]),
        })
    else:
        applies = [a for w in its for a in w.get("infer", [])]
        named.update({
            "crf_fit_s": ("s", [w["fit"] for w in its if "fit" in w]),
            "crf_infer_turns_per_s": ("turns/s",
                                      [inputs.turns / a for a in applies]),
        })
    m = {
        "setup_s": setup_s,
        "apply_p50_s": median(applies),
        "iter_s": median([w["iter"] for w in its]),
    }
    metrics = {k: {"value": (None if v != v else v), "unit": END_TO_END[k]}
               for k, v in m.items()}
    detail = {"named": {k: dict(unit=u, **percentile_summary(v))
                        for k, (u, v) in named.items()}}
    return metrics, detail


if __name__ == "__main__":
    sys.exit(run(_parse(sys.argv[1:])))
