"""Benchmark the lakehouse end to end and layer by layer.

Usage, from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

The run starts a local[4] Spark session, makes the workload's inputs
from the seed, runs one warm-up pass and then measured passes until
``--seconds`` have passed (whole passes, at least one). It prints every
metric with its unit, then, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, one pass is traced and one is not (the traced one
first on even seeds, second on odd ones), spans are written under
``.perfbench_run/spans/`` and ``trace.overhead_s`` is the traced minus
the untraced run time. All files the run writes stay under
``.perfbench_run/`` in the repository root.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_session(work: str):
    from healthcare_data_lakehouse_using_gcp_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "catalog"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summarize(passes, trace: bool) -> dict[str, float]:
    from perfbench.workloads import INVARIANTS, MAX_OVER_PASSES, PER_LAYER

    if not trace:
        return {
            "run_s": statistics.median(p.run_s for p in passes),
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "microbatch_p50_ms": statistics.median(ms for p in passes for ms in p.op_ms),
        }
    out = {}
    for name, *_ in PER_LAYER + INVARIANTS:
        values = [p.layers.get(name, 0) for p in passes]
        out[name] = max(values) if name in MAX_OVER_PASSES else statistics.median(values)
    traced = [p.run_s for p in passes if p.traced]
    untraced = [p.run_s for p in passes if not p.traced]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


def span_cost_s() -> float:
    """Measured cost of opening and closing one span."""
    from perfbench.tracing import Tracer

    tracer, n = Tracer("probe", enabled=True), 10_000
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("probe"):
            pass
    return (time.perf_counter() - t0) / n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import healthcare_data_lakehouse_using_gcp_spark  # noqa: F401 - fail before starting Spark

    from perfbench.resources import ResourceReader
    from perfbench.tracing import Tracer
    from perfbench.workloads import (
        END_TO_END, INVARIANTS, PER_LAYER, WORKLOADS, Context, Recorder,
    )

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    workload = WORKLOADS[args.workload](args.seed, work)
    tracer = Tracer(run_id, enabled=False)
    spark = None
    try:
        # set-up: session start, input generation and the warm-up pass
        t0 = time.perf_counter()
        spark = start_session(work)
        workload.generate()
        ctx = Context(spark, ResourceReader(spark), tracer)
        warm = Recorder(ctx)
        workload.warm_up(warm)
        setup_s = time.perf_counter() - t0

        # measured passes; with --trace, one untraced and one traced
        # pass, the traced one first on even seeds and second on odd
        # ones, so that warming from pass to pass cancels over seeds
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds or (
            args.trace and len(passes) < 2
        ):
            tracer.enabled = bool(args.trace) and len(passes) % 2 == args.seed % 2
            rec = Recorder(ctx)
            with tracer.span("pass", index=len(passes), workload=args.workload):
                workload.run_pass(rec)
            rec.traced = tracer.enabled
            rec.cpu_s = ctx.reader.read(*rec.groups).cpu_s
            passes.append(rec)
        tracer.enabled = False
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    failures = warm.failures + [f for p in passes for f in p.failures]
    attempted = warm.attempted + sum(p.attempted for p in passes)
    values = summarize(passes, bool(args.trace))
    values["setup_s"] = setup_s
    specs = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in specs}

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"measured passes {len(passes)}  set-up {setup_s:.3f} s")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'error_rate':40s} {len(failures) / attempted:14.4f} ratio "
          f"({len(failures)} failed of {attempted} operations)")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    if args.trace:
        for name, unit in INVARIANTS:
            print(f"  {name:40s} {values[name]:14.4f} {unit} (checked, not a metric)")
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        path = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.json")
        tracer.write(path)
        per_pass = len(tracer.spans) / sum(p.traced for p in passes)
        cost = span_cost_s()
        order = "second" if args.seed % 2 else "first"
        print(f"  {len(tracer.spans)} spans written to {os.path.relpath(path, ROOT)}; "
              f"tracing overhead {values['trace.overhead_s']:+.3f} s per pass (traced "
              f"run_s minus untraced; the traced pass ran {order}); the spans' own cost "
              f"{per_pass * cost * 1e3:.3f} ms per pass ({per_pass:.0f} spans x "
              f"{cost * 1e6:.2f} us)")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
