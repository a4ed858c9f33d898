"""Harness self-test at tiny scale (a 40-file table, the sf0.001 fixture).

    python3 perfbench/selftest.py [workload ...]

For every workload it checks that
* an untraced run emits every end-to-end metric of BENCHMARK.json with its
  unit, and a traced run every per-layer metric, with no failed statement;
* two traced runs of one seed give identical count metrics, and the same
  `space_amp` within 0.1% (rewritten parquet files can differ by a few bytes);
* a run whose answers are all counted wrong reports a raised error rate and
  `correct: false`.
Exits non-zero on the first failed check.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import trace, workloads  # noqa: E402

SEED = 7
# Must repeat exactly for one seed. Byte counts of data files are left out:
# Spark's parquet output is not byte-identical across runs.
EXACT = [
    "catalog.tables_bound", "catalog.fs_ops", "log.snapshot_calls",
    "log.cache_hit_ratio", "log.commits_replayed", "log.checkpoint_reads",
    "prune.files_in", "prune.files_out", "prune.kept_ratio",
    "reader.paths", "reader.plan_jobs", "writer.files_added", "writer.checkpoints",
    "writer.commit_retries", "dml.files_rewritten", "dml.rows_rewritten",
    "dml.rewrite_amp", "dml.files_vacuumed",
    "fs.list_calls", "fs.read_calls", "fs.read_bytes", "fs.write_calls", "fs.write_bytes",
    "operators.eager_jobs", "exec.jobs", "exec.rows_out", "trace.spans",
]


def run(workload: str, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--scale", "tiny", *extra]
    res = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"FAIL {workload} {extra}: exit {res.returncode}")
    rep = next(json.loads(ln[len("report: "):]) for ln in lines if ln.startswith("report: "))
    return rep["metrics"], json.loads(lines[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    check(layers == dict(trace.per_layer_names()),
          "BENCHMARK.json per_layer matches the tracer's metrics")
    for w in sys.argv[1:] or workloads.WORKLOADS:
        rep, res = run(w, "--trace", "0")
        check(res["correct"] and res["failed"] == 0, f"{w}: untraced run correct")
        check({k: v["unit"] for k, v in res["metrics"].items()} == e2e,
              f"{w}: every end-to-end metric emitted with its unit")
        check(rep["error_rate"]["value"] == 0.0, f"{w}: error_rate 0")

        rep1, t1 = run(w, "--trace", "1")
        _, t2 = run(w, "--trace", "1")
        check({k: v["unit"] for k, v in t1["metrics"].items()} == layers,
              f"{w}: every per-layer metric emitted with its unit")
        diff = [k for k in EXACT if t1["metrics"][k]["value"] != t2["metrics"][k]["value"]]
        check(not diff, f"{w}: count metrics repeat for one seed {diff or ''}")
        if "space_amp" in rep1:
            a, b = rep1["space_amp"]["value"], rep["space_amp"]["value"]
            check(abs(a - b) <= 1e-3 * b, f"{w}: space_amp repeats within 0.1% for one seed")

        rep, res = run(w, "--trace", "0", "--inject-wrong-answer")
        check(not res["correct"] and rep["error_rate"]["value"] > 0,
              f"{w}: an injected wrong answer raises error_rate")
    return 0


if __name__ == "__main__":
    sys.exit(main())
