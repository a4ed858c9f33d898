"""Per-layer breakdown of one workload and the tracing overhead.

    python3 perfbench/breakdown.py --workload lake-point --seed 1

Runs the workload untraced and then traced with the same seed, each in its
own process, and prints the traced run's self time per layer (ms per measured
unit, largest first) next to the untraced p50. The tracing overhead is the
traced p50 minus the untraced p50 of the same statement sequence.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, traced: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)]
    res = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    base = plain["p50_ms"]["value"]
    with_trace = traced["trace.p50_ms"]["value"]
    print(f"{args.workload} seed {args.seed}: p50 {base:.1f} ms untraced, "
          f"{with_trace:.1f} ms traced, overhead {with_trace - base:+.1f} ms "
          f"({(with_trace - base) / base:+.1%})")
    times = sorted(((m["value"], k) for k, m in traced.items()
                    if m["unit"] == "ms" and k not in ("trace.p50_ms", "exec.job_ms")
                    and m["value"]), reverse=True)
    for ms, name in times:
        print(f"  {name:28s} {ms:9.1f} ms/unit  {ms / with_trace:6.1%}")
    print(json.dumps({k: m["value"] for k, m in traced.items() if m["unit"] != "ms"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
