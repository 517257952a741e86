"""Steadiness report: run one workload k times as fresh processes.

    python3 perfbench/steadiness.py --workload crawl_upsert --runs 10 --seconds 20 \
        --out perfbench/results/crawl_upsert.jsonl

Run from the repository root. Seeds are ``--seed0 .. --seed0 + k - 1``.
Every raw result line is appended to ``--out`` (with its seed and the
run's exit code); the report gives per metric the median, the quartiles
(``statistics.quantiles(n=4)``), IQR/median and (max−min)/median. The
bounds in ``BENCHMARK.json`` are set from this report.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.measure import quartile_report  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    return {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
            "elapsed_s": elapsed, "result": result, "report": detail}


def report(runs: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    for r in runs:
        for name, m in r["result"].get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    return {name: quartile_report(vs) for name, vs in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.seed0 + i, args.seconds, args.trace)
        runs.append(r)
        with open(args.out, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(f"seed {r['seed']}: exit {r['exit']}, correct {r['result'].get('correct')}, "
              f"{r['elapsed_s']:.1f} s", file=sys.stderr)
    rep = report(runs)
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'rng/med':>9}")
    for name, q in rep.items():
        print(f"{name:<16}{q['median']:>12.4f}{q['q1']:>12.4f}{q['q3']:>12.4f}"
              f"{q['iqr_over_median']:>9.3f}{q['range_over_median']:>9.3f}")
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
