"""Zipf web-page benchmark for the telegram2elastic_spark engine.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the seeded inputs in a separate
process, sets the engine up `setup_repeats` times, drives one workload
through a fixed amount of work (the same samples for every version of the
engine; sized so its timed window exceeds 10 s on a 4-core machine),
checks the engine's answers against an index-free oracle outside the timed
window, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1, spans recorded around every engine call).
Everything it writes stays under .perfbench/ in the working directory.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
T_START = time.perf_counter()


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec()[kind]}


def stop_jvm() -> None:
    """Stop the Spark session and the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_zipf", "ingest_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="unused: every run does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink every input size by this factor (smoke tests)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "telegram2elastic_spark")):
        print("perfbench: engine package telegram2elastic_spark not found "
              f"next to {HERE}", file=sys.stderr)
        return 2
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(cwd, ".perfbench", "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the engine, its Python workers and the JVM keep every file in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)

    with open(os.path.join(HERE, "params.json")) as f:
        params = json.load(f)
    os.environ["SPARK_DRIVER_MEM"] = params["spark"]["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-tmp")
    inp = os.path.join(work, "input")

    from spans import Tracer, instrument
    from workloads import WORKLOADS, Ctx, start_session

    tracer = None
    if a.trace:
        tracer = Tracer()
        instrument(tracer)
    ctx = Ctx(params, work, inp, {}, tracer, _t_mark=T_START)
    t_run = time.perf_counter()
    try:
        # the generator runs while the JVM launches; the engine starts
        # reading inputs only after the generator has exited
        with subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
             a.workload, "--seed", str(a.seed), "--out", inp, "--scale",
             str(a.scale)],
            stdout=subprocess.PIPE, text=True,
        ) as gen:
            ctx.spark = start_session(ctx)
            shares = gen.communicate()[0]
        if gen.returncode != 0:
            raise RuntimeError(f"input generator exited with {gen.returncode}")
        with open(os.path.join(inp, "meta.json")) as f:
            ctx.meta = json.load(f)
        print(f"shares {shares.strip()}", flush=True)
        ctx.mark("launch")
        WORKLOADS[a.workload](ctx)
        ctx.mark("check")
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    t_run = time.perf_counter() - t_run
    ctx.mark("teardown")
    print("perfbench: phase seconds " + " ".join(
        f"{k}={v:.1f}" for k, v in ctx.phases.items()), file=sys.stderr)

    ctx.e2e["setup_s"] = statistics.median(ctx.setup_s)
    ctx.e2e["ok_ratio"] = (ctx.attempted - ctx.failed) / ctx.attempted
    ctx.e2e["peak_rss_mb"] = ctx.peak_rss_mb
    missing = sorted(set(metric_units("end_to_end")) - set(ctx.e2e))
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 1
    if tracer is not None:
        sess = [s.self_s for s in tracer.named("session.get_spark")]
        ctx.layer["session.start_s"] = statistics.median(sess[-len(ctx.setup_s):])
        ctx.layer["trace.spans"] = len(tracer.spans)
        ctx.layer["trace.overhead_s"] = tracer.overhead_s
        ctx.layer["trace.overhead_share"] = tracer.overhead_s / t_run
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{a.workload}-{a.seed}.json"),
                    end_to_end=ctx.e2e, per_layer=ctx.layer)
        values, units = ctx.layer, metric_units("per_layer")
    else:
        values, units = ctx.e2e, metric_units("end_to_end")
    # a per-layer metric of a layer the workload leaves idle reads 0
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
