"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload query-short --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. The workload runs in
this process on Spark ``local[n]`` with n = the CPUs this process may use;
it warms up, then runs whole passes until ``--seconds`` have passed, and
checks every op's output against a computation made apart from the
program. The last line of standard output is the result; the line before
it records the host state of the run (steal and a calibration loop) and
what is measured but not gated: wall times and each op's CPU.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(ROOT))

import probes  # noqa: E402
from tracing import Tracer, catalyst_ms, parse_event_log  # noqa: E402

WORKLOADS = ("query-short", "query-heavy", "medallion-delta")
# query scale factor and fixture days: full runs, and the smoke runs of
# the benchmark's own tests
SCALE = {False: (0.01, 4), True: (0.001, 2)}

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.table_calls": "count",
    "plans.table_s": "s",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "delta_log.commits": "count",
    "delta_log.commit_s": "s",
    "delta_log.merge_s": "s",
    "delta_log.read_s": "s",
    "delta_log.snapshot_resolves": "count",
    "delta_log.data_bytes_written": "bytes",
    "delta_log.log_bytes_written": "bytes",
    "delta_log.files_added": "count",
    "delta_log.files_removed": "count",
    "delta_log.table_bytes": "bytes",
    "medallion.bronze_s": "s",
    "medallion.silver_s": "s",
    "medallion.gold_s": "s",
    "medallion.read_s": "s",
    "proc.python_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.worker_cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "proc.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.calib_s": "s",
}


class Context:
    """What a workload needs from the harness: the session, the work
    directory, and ``run_op``/``collect``, which time and trace one op."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.trace = tracer.enabled

    def collect(self, build):
        """Build a DataFrame, plan it explicitly (traced run only; the
        Catalyst phase times go on the plan span) and collect it; returns
        (columns, rows)."""
        with self.tracer.span("op.build"):
            df = build()
        if self.trace:
            with self.tracer.span("op.plan") as span:
                span.update(catalyst_ms(df))
        with self.tracer.span("op.action"):
            rows = df.collect()
        return df.columns, rows

    def run_op(self, label: str, op: str, fn) -> dict:
        """Run one op inside its own cache scope and (traced run) job
        group; a raised error makes the op failed, not the run."""
        from medallion_delta_lake_spark.operators.caching import cache_scope

        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{label}|{op}", op)
        rec = {"op": op, "error": None, "mismatch": None, "out": None}
        cpu0 = probes.program_cpu_s(probes.cpu_seconds())
        t0 = time.perf_counter()
        with self.tracer.span("op", op=op, label=label):
            try:
                with cache_scope():
                    rec["out"] = fn()
            except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = probes.program_cpu_s(probes.cpu_seconds()) - cpu0
        return rec


def make_workload(name: str, smoke: bool):
    sf, days = SCALE[smoke]
    if name == "medallion-delta":
        from refresh import RefreshWorkload

        return RefreshWorkload(days)
    from queries import HEAVY_OPS, SHORT_OPS, QueryWorkload

    # query-short's program CPU per pass levels off after about five
    # passes (README, "Warm-up"); query-heavy, run by hand and by the
    # benchmark's tests only, keeps one
    if name == "query-short":
        return QueryWorkload(name, SHORT_OPS, sf, warmup_passes=5)
    return QueryWorkload(name, HEAVY_OPS, sf, warmup_passes=1)


def start_spark(work: Path, trace: bool):
    from medallion_delta_lake_spark.session import get_spark

    for sub in ("tmp", "local", "warehouse", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the inputs are megabytes; a 2 GB heap bounds the peak resident set
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed set of JIT compiler threads: none exits, so their CPU
        # time stays readable apart from the program's (probes.cpu_seconds)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_pass(ctx: Context, wl, label: str) -> dict:
    wl.prepare(ctx)
    mark = ctx.tracer.mark()
    cpu0 = probes.cpu_seconds()
    gc0, _ = probes.jvm_gc_jit_s(ctx.spark)
    t0 = time.perf_counter()
    records = wl.run_pass(ctx, label)
    wall = time.perf_counter() - t0
    cpu1 = probes.cpu_seconds()
    gc1, _ = probes.jvm_gc_jit_s(ctx.spark)
    wl.check(ctx, records)
    layers = ctx.tracer.layer_totals(mark, ctx.tracer.mark()) if ctx.trace else {}
    layers.update(wl.pass_layers(ctx, records))
    for kind in probes.CPU_KINDS:
        layers[f"proc.{kind}_cpu_s"] = cpu1[kind] - cpu0[kind]
    layers["jvm.gc_s"] = gc1 - gc0
    for rec in records:
        rec.pop("out")
        if rec["error"] or rec["mismatch"]:
            why = rec["error"] or rec["mismatch"]
            print(f"[perfbench] {label} {rec['op']} FAILED: {why}", file=sys.stderr)
    return {
        "label": label,
        "wall": wall,
        "cpu": probes.program_cpu_s(cpu1) - probes.program_cpu_s(cpu0),
        "ops": records,
        "layers": layers,
        "rss_mb": probes.peak_rss_mb(),
    }


def per_layer(timed: list[dict], groups: dict, run: dict) -> dict:
    """Per-pass means of the layer totals over the timed passes."""
    n = len(timed)
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for p in timed:
        for k, v in p["layers"].items():
            out[k] += v / n
        for rec in p["ops"]:
            for k, v in groups.get(f"{p['label']}|{rec['op']}", {}).items():
                out[k] += v / n
    out.update(run)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true", help="smallest inputs (the benchmark's own tests)"
    )
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"  # Spark hands timestamps to Python in local time
    time.tzset()

    build = ROOT / ".bench_build" / "perfbench"
    work = build / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    steal0 = probes.steal_ticks()
    calib = [probes.calibrate()]
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, cpus = start_spark(work, tracer.enabled)
        ctx = Context(spark, work, args.seed, tracer)
        wl = make_workload(args.workload, args.smoke)
        inputs = wl.setup(ctx)
        tracer.instrument()
        passes = [run_pass(ctx, wl, f"w{i}") for i in range(wl.warmup_passes)]
        setup_s = probes.process_age_s()
        timed: list[dict] = []
        t0 = time.perf_counter()
        while not timed or time.perf_counter() - t0 < args.seconds:
            timed.append(run_pass(ctx, wl, f"t{len(timed)}"))
        passes += timed
        _, jit_s = probes.jvm_gc_jit_s(spark)
        peak_rss = max(p["rss_mb"] for p in passes)
        tracer.restore()
        stop_spark(spark)
        spark = None
        groups = parse_event_log(work / "events") if tracer.enabled else {}
        calib.append(probes.calibrate())
        host = {
            "steal_pct": probes.steal_pct(steal0, probes.steal_ticks()),
            "calib_s": statistics.fmean(calib),
            "cpus": cpus,
        }

        op_wall, op_cpu = (
            {
                op: statistics.median(r[key] for p in timed for r in p["ops"] if r["op"] == op)
                for op in wl.ops
            }
            for key in ("wall", "cpu")
        )
        records = [r for p in passes for r in p["ops"]]
        failed = sum(bool(r["error"] or r["mismatch"]) for r in records)
        wrong = sum(bool(r["mismatch"]) for r in records)
        if tracer.enabled:
            metrics = per_layer(
                timed,
                groups,
                {
                    "jvm.jit_s": jit_s,
                    "proc.peak_rss_mb": peak_rss,
                    "host.steal_pct": host["steal_pct"],
                    "host.calib_s": host["calib_s"],
                },
            )
            units = PER_LAYER_UNITS
            tracer.dump(
                build / "traces" / f"{args.workload}-seed{args.seed}.json",
                {
                    "inputs": inputs,
                    "passes": [
                        {
                            "label": p["label"],
                            "wall": p["wall"],
                            "cpu": p["cpu"],
                            "ops": {
                                r["op"]: {
                                    "wall": r["wall"],
                                    "cpu": r["cpu"],
                                    **groups.get(f"{p['label']}|{r['op']}", {}),
                                }
                                for r in p["ops"]
                            },
                        }
                        for p in passes
                    ],
                },
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_cpu_s": statistics.median(p["cpu"] for p in timed),
            }
            units = END_TO_END
        # wall times, what a user waits for, and each op's CPU: reported
        # beside the metrics but not gated (README, "Why CPU-seconds")
        print(
            json.dumps(
                {
                    "host": host,
                    "inputs": inputs,
                    "pass_s": statistics.median(p["wall"] for p in timed),
                    "op_geomean_s": math.exp(
                        statistics.fmean(math.log(v) for v in op_wall.values())
                    ),
                    "passes": [[p["label"], round(p["wall"], 3), round(p["cpu"], 2)] for p in passes],
                    "op_median_s": op_wall,
                    "op_median_cpu_s": op_cpu,
                }
            )
        )
        print(
            json.dumps(
                {
                    "correct": wrong == 0,
                    "attempted": len(records),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        tracer.restore()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
