"""Benchmark entry point.

    python3 perfbench/run.py --workload registry_sf0.01 --seed 1 --seconds 20 --trace 0

Runs one workload of `BENCHMARK.json` against the engine in the checkout
this file sits in, checks the engine's outputs, and prints as its last
stdout line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The line before it is a detail record: the
pinned environment, host noise, sample counts and the tail percentile.
Traced runs also write their spans to `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "big_data_engineering_project_spark"

WORKLOADS = {
    "registry_sf0.01": ("registry", 0.01),
    "stream_hot_path": ("stream", None),
}


def pin_environment(work: str) -> None:
    """Pin the settings the engine reads from the environment, before
    anything imports it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The workloads need far less, and the heap is pre-touched (see
    # get_spark below), so its size is part of peak_rss_mb.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOG_LEVEL"] = "ERROR"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(os.environ[key], exist_ok=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE}/ not found next to {HERE}", file=sys.stderr)
        return 2

    kind, sf = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        return run(args, kind, sf, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, kind: str, sf: float | None, work: str) -> int:
    import datagen
    import workloads as wl
    from probes import HostNoise, env_record, peak_rss_mb, tail

    sf_dir = os.path.join(work, "data")
    if kind == "registry":
        datagen.write_tables(sf_dir, sf)

    # ---- set-up: session start plus one untimed warm-up unit
    t_start = time.perf_counter()
    from big_data_engineering_project_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            # The whole heap is committed and touched at start, so that
            # peak_rss_mb is the heap plus what grows outside it. Grown
            # lazily, a 1g heap left VmHWM at 1.16-1.64 GB across runs.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    t_session = time.perf_counter()
    wl.log(f"session start: {t_session - t_start:.2f} s")
    r = wl.Run(spark, args.seed, args.seconds, bool(args.trace), t_start)
    r.tracer.add("session.get_spark", 0.0, t_session - r.tracer.t0, None, None)
    try:
        with r.tracer.span("setup.warmup"):
            if kind == "registry":
                wl.registry_setup(r, sf_dir, f"sf{sf}")
            else:
                listener = wl.stream_setup(r, work)
        setup_s = time.perf_counter() - t_start

        # ---- measured phase
        noise = HostNoise()
        noise.start()
        if kind == "registry":
            wl.registry_measure(r, sf_dir)
        else:
            wl.stream_measure(r, work, listener)
        host = noise.stop()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([jvm_pid])}
    finally:
        stop_spark(spark)

    untraced = r.unit_s[False]
    op_tail, tail_pct = tail(r.op_s) if r.op_s else (0.0, 0.0)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env_record(),
        "host": host,
        "ops": len(r.op_s),
        "unit_s": {"untraced": untraced, "traced": r.unit_s[True]},
        "op_s": r.op_s,
        "op_tail_percentile": tail_pct,
        "peak_rss_mb": rss,
        "mismatches": r.mismatches[:20],
    }
    if args.trace:
        metrics, detail["not_exercised"] = per_layer(r, kind, t_session - t_start)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        r.tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(untraced), "s"),
            "op_p50_s": (statistics.median(r.op_s) if r.op_s else 0.0, "s"),
            "op_tail_s": (op_tail, "s"),
            "peak_rss_mb": (rss["python"] + rss["jvm"], "MB"),
        }
    print(json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": not r.mismatches,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited
    (it exits when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# Per-layer metrics that are not totals over traced units.
NOT_SUMS = ("caches.pinned_rdds_max", "streaming.state_rows", "streaming.state_memory_mb")


def per_layer(r, kind: str, session_s: float) -> tuple[dict[str, tuple[float, str]], list[str]]:
    """Per-layer figures of the traced units, per unit (a registry pass
    or a run_hot_path call), plus self times and the tracing overhead.
    Also the names of the metrics this workload does not exercise: they
    print as 0.0, since the result line carries every per-layer metric."""
    import probes
    import workloads as wl

    n = max(1, r.traced_units)
    layer = {k: (v if k in NOT_SUMS or "_p50" in k else v / n) for k, v in r.layer.items()}
    names = ["plans.build_s", "plans.build_jobs"]
    names += [f"plans.{m}.build_s" for m in wl.MODULES]
    names += [f"exec.{f}" for f in probes.JobCounter.FIELDS]
    names += ["exec.count_s"] + [f"exec.{m}.count_s" for m in wl.MODULES]
    names += ["caches.pinned_rdds_max", "caches.clear_s"]
    names += ["streaming.batches", "streaming.input_rows", "streaming.trigger_ms_p50"]
    names += [f"streaming.{p}_ms_p50" for _, p in probes.PHASES]
    names += ["streaming.state_commit_ms_p50", "streaming.state_rows",
              "streaming.state_memory_mb", "streaming.run_hot_path_s"]
    out = {"session.get_spark_s": (session_s, "s")}
    for name in names:
        out[name] = (layer.get(name, 0.0), UNITS.get(name.rsplit("_", 1)[-1], "count"))
    selfs = r.tracer.self_times()
    top = "pass" if kind == "registry" else "streaming.run_hot_path"
    out["trace.unit_self_s"] = (selfs.get(top, 0.0) / n, "s")
    out["trace.op_self_s"] = (selfs.get("op", 0.0) / n, "s")
    idle = [k for k in names if k not in layer] + (["trace.op_self_s"] if "op" not in selfs else [])
    plain, traced = r.unit_s[False], r.unit_s[True]
    overhead = statistics.median(traced) / statistics.median(plain) - 1.0
    out["trace.overhead_pct"] = (100.0 * overhead, "%")
    return out, idle


UNITS = {"s": "s", "mb": "MB", "p50": "ms", "rows": "count", "max": "count"}


if __name__ == "__main__":
    sys.exit(main())
