"""Steadiness check: run one workload N times, each with another seed,
and print every metric's median and quartiles against its bound.

    python3 perfbench/steady.py --workload dml_rw --runs 10

Runs are sequential (concurrent Spark runs distort each other). The
spread is (Q3 - Q1) / median with quartiles from
``statistics.quantiles(values, n=4)``. Against its bound in
BENCHMARK.json an end-to-end metric is ``steady`` when its spread is
below a third of the bound, ``within`` when it is below the bound (a
regression smaller than the spread cannot be told from noise), and
``OUT`` otherwise; ``setup_s`` is exempt from the spread rule. Each
run's output is kept under ``perfbench/_work/steady/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, out_dir: str) -> dict:
    """One untraced run at BENCHMARK.json's run_seconds."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    base = os.path.join(out_dir, f"{workload}-seed{seed}")
    with open(base + ".out", "w") as out, open(base + ".err", "w") as err:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=err,
                            timeout=900).returncode
    with open(base + ".out") as f:
        lines = f.read().strip().splitlines()
    if rc != 0 or not lines:
        raise SystemExit(f"run failed (exit {rc}); see {base}.err")
    return json.loads(lines[-1])


def report(results: list[dict], bounds: dict) -> str:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    lines = [f"{'metric':<36}{'median':>14}{'Q1':>14}{'Q3':>14}"
             f"{'spread':>9}{'bound':>8}  verdict"]
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        if bound is None:
            verdict = ""
        elif k == "setup_s":
            verdict = "exempt"
        else:
            verdict = ("steady" if spread < bound / 3 else
                       "within" if spread < bound else "OUT")
        lines.append(f"{k:<36}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}"
                     f"{100 * spread:>8.2f}%"
                     f"{'' if bound is None else f'{bound:.2f}':>8}"
                     f"  {verdict} [{units[k]}]")
    failed = sum(r["failed"] for r in results)
    lines.append(f"{len(results)} runs, {failed} failed ops, "
                 f"all correct: {all(r['correct'] for r in results)}")
    return "\n".join(lines)


def main() -> int:
    spec = load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1,
                   help="seeds are seed0 .. seed0 + runs - 1")
    args = p.parse_args()
    out_dir = os.path.join(HERE, "_work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    for i in range(args.runs):
        seed = args.seed0 + i
        results.append(run_once(spec, args.workload, seed, out_dir))
        print(f"run {i + 1}/{args.runs} (seed {seed}) done", flush=True)
    print(report(results, bounds))
    return 0


if __name__ == "__main__":
    sys.exit(main())
