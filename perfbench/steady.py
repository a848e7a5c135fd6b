"""Steadiness check: run one workload K times, each with another seed,
and print each metric's median, quartiles and relative spread
((q3 - q1) / median).  An end-to-end metric whose spread exceeds its
bound in BENCHMARK.json is flagged, and the exit code is then 1.

    python3 perfbench/steady.py --workload serve --runs 5
    python3 perfbench/steady.py --workload live_tail --runs 5 --traced

``--traced`` adds one traced run after the untraced ones; its report
compares against the last untraced run to show the tracing overhead.
Each run's full output is kept under ``.perfbench_out/steady/``, with
the medians in ``<workload>-summary.json``.  ``--against FILE`` compares
this set's medians with an earlier set's summary and flags (exit code 1)
a metric whose median got worse by more than its bound.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the contract computes it."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: int, trace: int,
             log_dir: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    log = os.path.join(log_dir, f"{workload}-seed{seed}-trace{trace}.log")
    with open(log, "w") as f:
        f.write(p.stdout + "\n--- stderr ---\n" + p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}; see {log}")
    return json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--against", help="summary JSON of an earlier set")
    args = ap.parse_args(argv)

    log_dir = os.path.join(ROOT, ".perfbench_out", "steady")
    os.makedirs(log_dir, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for i in range(args.runs):
        res = run_once(args.workload, args.seed0 + i, args.seconds, 0, log_dir)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"run {i + 1}/{args.runs} seed={args.seed0 + i}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)

    bad = []
    print(f"\n{args.workload}: {args.runs} runs of {args.seconds} s")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
          f"{'bound':>8}")
    medians = {}
    for name, vals in values.items():
        med, q1, q3, sp = spread(vals)
        medians[name] = med
        b = bounds.get(name)
        flag = ""
        if b is not None:
            if sp > b:
                flag = "  OUTSIDE BOUND"
                bad.append(name)
            elif sp > b / 3:
                flag = "  above a third of bound"
        print(f"{name:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}"
              f"{b if b is not None else '-':>8}{flag}")
    with open(os.path.join(log_dir, f"{args.workload}-summary.json"),
              "w") as f:
        json.dump({"seeds": [args.seed0, args.seed0 + args.runs - 1],
                   "medians": medians, "values": values}, f, indent=1)

    if args.against:
        with open(args.against) as f:
            before = json.load(f)["medians"]
        print(f"\nmedians against {args.against}:")
        for name, med in medians.items():
            if name not in before or name not in bounds:
                continue
            worse = med / before[name] - 1
            if better[name] == "higher":
                worse = -worse
            flag = ""
            if worse > bounds[name]:
                flag = "  WORSE THAN BOUND"
                bad.append(name)
            print(f"{name:<16}{before[name]:>12.4g} -> {med:<12.4g}"
                  f"worse by {worse:+.3f}{flag}")

    if args.traced:
        seed = args.seed0 + args.runs - 1
        run_once(args.workload, seed, args.seconds, 1, log_dir)
        with open(os.path.join(log_dir,
                               f"{args.workload}-seed{seed}-trace1.log")) as f:
            print("\n" + f.read().split("\n--- stderr ---")[0])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
