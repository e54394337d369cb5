"""Graph-ETL benchmark: one workload per run on ``local[nproc]``.

    python3 perfbench/run.py --workload clip_backfill --seed 1 \
        --seconds 15 --trace 0

Workloads (see each module's docstring):
  clip_backfill  availableNow drains of a pre-generated clip table
  jobspec_batch  run_job on the flagship spec into the noop sink

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
  setup_s      process start until the measured work starts: the
               session is up, the seeded fixtures are built and the
               in-session warm-up ran
  rows_per_s   input rows per second of processing wall time: clips
               per median drain second, lineitem rows per median job
               second
  peak_mem_mb  peak memory the engine holds while measured: the Java
               heap retained after collections plus the resident
               memory outside the heap (JVM and Python workers); see
               ``harness.MemSampler``

``--trace 1`` runs the same pass untraced, then again with spans, the
Spark REST API and streaming progress, and prints the per-layer
metrics. BENCHMARK.json at the checkout root declares every metric's
name and unit. Outputs are checked after the timed region;
any mismatch makes ``correct`` false and counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

import harness

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dataflow_flex_templates_spark"
WORKLOADS = ("clip_backfill", "jobspec_batch")


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment(run_dir: str) -> int:
    """Environment the engine needs here; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Python workers import the package: they need it on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # local mode runs driver and executors in one JVM; stay well below
    # physical RAM (the session default is sized for a large node)
    os.environ["SPARK_DRIVER_MEMORY"] = (
        f"{max(1, min(4, int(harness.ram_gib() / 4)))}g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    return cores


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def make_workload(name: str, bench):
    if name == "clip_backfill":
        from backfill import Backfill
        return Backfill(bench)
    from batch import Batch
    return Batch(bench)


def traced_pass(bench, wl, name: str) -> tuple[dict, dict]:
    """The measured pass again, with spans and REST/progress metrics."""
    import layers
    from spans import Rest, Tracer

    rest = Rest(bench.spark)
    rest.mark()
    tracer = Tracer()
    bench.tracer = tracer
    tracer.install()
    try:
        res = wl.measure()
    finally:
        tracer.uninstall()
        bench.tracer = None
    snap = rest.collect()
    m = layers.common_metrics(tracer, snap, res["ops"], bench.cores,
                              res["wall_s"])
    if name == "jobspec_batch":
        m.update(layers.batch_metrics(tracer, snap, res["ops"]))
    else:
        m["stream.drain_ms"] = res["wall_s"] * 1000.0 / res["ops"]
    res["snap"], res["tracer"] = snap, tracer
    return res, m


def scaling(bench, wl) -> dict:
    """clip_backfill at reduced size on local[1], in a fresh JVM of its
    own (``scale.py``), and on local[nproc] in this run's warm JVM. Each
    side times its last drain after untimed ones."""
    import backfill
    import clipjob

    inp = bench.path("scale_input")
    clipjob.write_clip_files(bench.spark, inp, backfill.SCALE_CLIPS,
                             backfill.SCALE_FILES, bench.seed + 2)
    n = bench.spark.read.parquet(inp).count()
    for _ in range(2):
        _, _, wall = wl.drain(inp, backfill.MAX_FILES_PER_TRIGGER)
    cps_n = n / wall
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "scale.py"),
         bench.path("scale-1"), inp],
        stdout=subprocess.PIPE, text=True, check=True, timeout=170)
    cps_1 = float(out.stdout.split()[-1])
    log(f"clips/s: local[1] {cps_1:.1f}, local[{bench.cores}] {cps_n:.1f}")
    return {"scaling.clips_per_s_local1": cps_1,
            "scaling.efficiency_1to4": cps_n / cps_1 / bench.cores}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{HERE}; run from a checkout of the repository",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    cores = pin_environment(run_dir)
    bench = harness.Bench(run_dir, cores, args.seed, args.seconds,
                          bool(args.trace))
    sampler = None
    try:
        wl = make_workload(args.workload, bench)
        bench.setup(wl.fixtures, wl.warm_up)
        env = bench.env_info()
        if args.trace:
            from spans import Rest
            setup_snap = Rest(bench.spark).collect()
        sampler = harness.MemSampler(bench).start()
        res = wl.measure()
        peak_mb = sampler.stop()
        setup_s = res["started"] - bench.t_start
        log(f"set up in {setup_s:.2f} s; measured {res['rows_per_s']:.1f}"
            f" rows/s over {res['samples']}; peak {peak_mb:.0f} MiB "
            f"({sampler.heap_mib:.0f} MiB heap)")
        e2e = {"setup_s": setup_s, "rows_per_s": res["rows_per_s"],
               "peak_mem_mb": peak_mb}
        if args.trace:
            traced, layer = traced_pass(bench, wl, args.workload)
            log("traced pass done")
        oracle = wl.oracle(res)
        attempted, failed, bad = wl.check(res, oracle)
        log(f"checked: {attempted} operations, {failed} failed")
        if args.trace:
            import layers

            a2, f2, bad2 = wl.check(traced, oracle)
            attempted, failed, bad = attempted + a2, failed + f2, bad + bad2
            if args.workload != "jobspec_batch":
                layer.update(layers.stream_metrics(
                    traced["tracer"], traced["snap"], traced["jobs"],
                    wl.read_ms))
            layer.update(layers.setup_metrics(bench.getspark_s, setup_snap))
            layer["trace.overhead_frac"] = (res["rows_per_s"]
                                            / traced["rows_per_s"] - 1.0)
            if args.workload == "clip_backfill":
                layer.update(scaling(bench, wl))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            traced["tracer"].dump(
                os.path.join(out_dir,
                             f"{args.workload}-s{args.seed}-spans.json"),
                {"workload": args.workload, "seed": args.seed, "env": env})
            values, kind = layer, "per_layer"
        else:
            values, kind = e2e, "end_to_end"
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                   for k, u in metric_units(kind).items()}
        for msg in bad:
            print(f"perfbench: output mismatch: {msg}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "env": env, "end_to_end": e2e}))
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if sampler is not None:
            sampler.halt()
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
