"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload wordcount_corpus --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts a local Spark
session on at most nproc cores, runs one untimed warm pass, then timed
passes for ``--seconds`` (at least the workload's minimum), checks every
output, and prints one JSON line last. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
instead runs a traced pass between two untraced ones, then the traced-only
layer probes, and reports the per-layer metrics. Everything the run
writes stays under the checkout: inputs and Spark scratch in
``.perfbench_work/`` (removed at exit), spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from probe import Tracer, peak_rss_mb, seconds_since_process_start  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# BASELINE.md: the reference engine on its own 13 MB corpus and host
BASELINE_MB_S = {"16 threads": 30.4, "serial": 20.9}


def configure_env(work: Path) -> None:
    """Host hygiene: cores capped at nproc, the repo on the Python
    workers' path, and every scratch and temp dir inside ``work``."""
    tmp = work / "tmp"
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        TMPDIR=str(tmp),
        # spark-submit's own launcher JVM: no hsperfdata file in /tmp either
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                # keep every job and stage of a run in the status store
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "--driver-java-options",
                # no hsperfdata file under the system /tmp
                shlex.quote(f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
                "pyspark-shell",
            ]
        ),
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    if importlib.util.find_spec("parallel_map_reduce_spark") is None:
        sys.exit("perfbench: parallel_map_reduce_spark is not importable from " + str(ROOT))
    cls = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    try:
        return measure(cls, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {sec: {m["name"]: m["unit"] for m in spec[sec]} for sec in ("end_to_end", "per_layer")}


def measure(cls, args, work: Path) -> dict:
    spec = load_spec()["per_layer" if args.trace else "end_to_end"]
    t_gen = time.perf_counter()
    inputs = cls.generate(args.seed, str(work / "in"))
    gen_s = time.perf_counter() - t_gen

    from parallel_map_reduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, label=f"perfbench/{args.workload}")
        counters = tracer.counters
        wl = cls(spark, inputs, str(work / "scratch"), tracer)
        warm_pass_s = wl.run_pass()
        wl.warmed()
        setup_s = seconds_since_process_start() - gen_s

        def one_pass(traced: bool = False):
            """(engine seconds, wall seconds, counters or None) of one pass."""
            tracer.enabled = traced
            tracer.pass_id += 1
            first, start = counters.next_job_id(), time.time()
            with tracer.span("pass") as s:
                dur = wl.run_pass()
            tracer.enabled = False
            if not args.trace:
                return dur, s["dur"], None
            return dur, s["dur"], counters.read(first, counters.next_job_id(), start, s["end"])

        if not args.trace:
            durs, t_end = [], time.perf_counter() + args.seconds
            while len(durs) < wl.min_passes or time.perf_counter() + durs[-1] <= t_end:
                durs.append(one_pass()[0])
            wl.finish()
            pass_s = statistics.median(durs)
            values = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "throughput_mb_s": inputs["bytes"] / 1e6 / pass_s,
                "docs_per_s": inputs["records"] / pass_s,
            }
            note = f"{len(durs)} timed passes (s): " + " ".join(f"{d:.3f}" for d in durs)
        else:
            # untraced passes on either side of the traced one
            plain = [one_pass()]
            traced = one_pass(traced=True)
            plain.append(one_pass())
            tracer.enabled = True
            values = wl.layers()
            tracer.enabled = False
            wl.finish()
            values.update(spark_layer_metrics([p[2] for p in plain], traced[2]))
            plain_wall = statistics.median(p[1] for p in plain)
            values.update(
                {
                    "session.get_spark_s": get_spark_s,
                    "session.warm_pass_s": warm_pass_s,
                    "trace.overhead_frac": (traced[1] - plain_wall)
                    / statistics.median(p[0] for p in plain),
                }
            )
            out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(str(out))
            idle = sorted(set(spec) - set(values))
            note = f"spans in {out.relative_to(ROOT)}; layers not called here read 0: {', '.join(idle)}"
        values["peak_rss_mb"] = peak_rss_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())
    finally:
        stop_spark(spark)
    values["ops_ok_frac"] = (wl.attempted - wl.failed) / wl.attempted
    # a layer this workload never calls reads 0; an end-to-end metric
    # is always measured
    metrics = {
        name: (float(values.get(name, 0.0) if args.trace else values[name]), unit)
        for name, unit in spec.items()
    }
    report(args, metrics, note, inputs)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


SPARK_METRICS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.jvm_gc_s": "jvm_gc_s",
    "spark.busy_frac": "busy_frac",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.output_bytes": "output_bytes",
    "spark.failed_tasks": "failed_tasks",
    "driver.nojob_s": "nojob_s",
}


def spark_layer_metrics(plain: list[dict], traced: dict) -> dict:
    """Per-pass engine counters: the median over the untraced passes,
    and the spread of the job count over every pass."""
    out = {name: statistics.median(c[key] for c in plain) for name, key in SPARK_METRICS.items()}
    jobs = [c["jobs"] for c in plain + [traced]]
    out["spark.jobs_spread"] = max(jobs) - min(jobs)
    return out


def report(args, metrics: dict, note: str, inputs: dict) -> None:
    print(f"# {args.workload} seed={args.seed}: {note}")
    for name, (value, unit) in metrics.items():
        print(f"{name:44s} {value:14.6g} {unit}")
    if "throughput_mb_s" in metrics and args.workload == "wordcount_corpus":
        ref = ", ".join(f"{v} MB/s {k}" for k, v in BASELINE_MB_S.items())
        print(
            f"# reference engine (BASELINE.md, its 13 MB corpus on its host): {ref}; "
            f"this corpus: {inputs['bytes'] / 1e6:.1f} MB, {len(inputs['expected'])} distinct words"
        )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
