"""Benchmark entry point: one workload per run, result as the last stdout line.

    python3 perfbench/run.py --workload lake-point --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. With `--trace 0` the last line carries the
end-to-end metrics; with `--trace 1` the package's entry points are wrapped
and the last line carries the per-layer metrics instead. Before it, a
`report:` line lists every named end-to-end metric of the workload with its
unit and sample count. `--workload all` runs each workload in its own
process and prints their result lines in turn. See perfbench/README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import trace, workloads  # noqa: E402

# Mean cost of one measured unit on a 4-core host; the measured phase runs
# round(seconds / cost) units (at least the size's floor), so a run's
# statement sequence depends only on the seed and --seconds.
UNIT_COST_S = {"lake-point": 1.8, "lake-churn": 4.5, "ops-dedup": 6.5}
COUNT_KEY = {"lake-point": "point_queries", "lake-churn": "churn_cycles",
             "ops-dedup": "dedup_passes"}


class Context:
    def __init__(self, args, spark, tracer, work):
        self.seed = args.seed
        self.size = dict(workloads.SIZES[args.scale])
        if args.scale == "full":
            key = COUNT_KEY[args.workload]
            self.size[key] = max(self.size[key], round(args.seconds / UNIT_COST_S[args.workload]))
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.wrong_answers = args.inject_wrong_answer
        self.setup_s = None

    def start_measuring(self):
        self.setup_s = time.perf_counter() - T0
        self.tracer.install()

    def stop_measuring(self):
        self.tracer.uninstall()


def start_spark(work: str):
    from athena_delta_lake_spark import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "4g",
            # keep every job and stage of a run in the status store, which
            # the traced run reads back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None when there are too few samples for it to
    lie above the median."""
    n = len(xs)
    if n <= 20:
        return None
    return round(100.0 * (n - 10) / n, 1), sorted(xs)[n - 11]


def report(workload: str, out: workloads.Outcome, setup_s: float, rss: float) -> dict:
    """Every named end-to-end metric of the workload, with unit and samples."""
    rep = {"setup_s": {"value": setup_s, "unit": "s", "n": 1}}
    kinds = {"lake-point": ["select"],
             "lake-churn": ["select", "insert", "merge", "delete", "compact", "vacuum"],
             "ops-dedup": []}[workload]
    for kind in kinds:
        name = "read" if kind == "select" else kind
        xs = out.by_kind[kind]
        rep[f"{name}_p50_ms"] = {"value": p50(xs), "unit": "ms", "n": len(xs)}
        if kind == "select":
            t = tail(xs)
            rep["read_tail_ms"] = (
                {"value": t[1], "unit": "ms", "n": len(xs), "percentile": t[0]} if t
                else {"value": None, "unit": "ms", "n": len(xs),
                      "note": "needs more than 20 samples"})
    if workload == "ops-dedup":
        rep["pass_p50_ms"] = {"value": p50(out.unit_ms), "unit": "ms", "n": len(out.unit_ms)}
        for kind, xs in out.by_kind.items():
            rep[f"{kind}_p50_ms"] = {"value": p50(xs), "unit": "ms", "n": len(xs)}
    rep["ops_per_s"] = {"value": out.attempted / out.wall_s, "unit": "1/s", "n": out.attempted}
    if out.space_amp is not None:
        rep["space_amp"] = {"value": out.space_amp, "unit": "ratio", "n": 1}
    rep["driver_rss_mib"] = {"value": rss, "unit": "MiB", "n": 1}
    rep["error_rate"] = {"value": out.failed / out.attempted, "unit": "ratio",
                         "n": out.attempted}
    return rep


def run_one(args) -> int:
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        ctx = Context(args, spark, tracer, work)
        out = workloads.WORKLOADS[args.workload](ctx)
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        unit_p50 = p50(out.unit_ms)
        if args.trace:
            values = trace.layer_metrics(tracer, len(out.unit_ms), unit_p50)
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit in trace.per_layer_names()}
            spans_dir = os.path.join(REPO, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": {"value": ctx.setup_s, "unit": "s"},
                "p50_ms": {"value": unit_p50, "unit": "ms"},
                "ops_per_s": {"value": out.attempted / out.wall_s, "unit": "1/s"},
                "driver_rss_mib": {"value": rss, "unit": "MiB"},
            }
        print("report: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "unit": out.unit,
            "unit_ms": out.unit_ms,
            "metrics": report(args.workload, out, ctx.setup_s, rss)}), flush=True)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=REPO)
        lines = res.stdout.strip().splitlines()
        print(f"{name}:", flush=True)
        for line in lines:
            if line.startswith("report: ") or line is lines[-1]:
                print(line, flush=True)
        status = status or res.returncode
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SIZES), default="full",
                    help="tiny: the harness self-test's sizes")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="count every measured answer as wrong (self-test)")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
