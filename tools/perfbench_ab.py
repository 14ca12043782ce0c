"""Interleaved A/B of one perfbench workload on two checkouts.

Runs ``perfbench/run.py`` in a fresh process per run, once per seed on
each side, alternating which side goes first so machine drift and
warm-cache effects fall on both sides equally.  Prints, per metric,
each side's median and quartiles, the B/A median ratio and how many
seed pairs each side won (direction from ``BENCHMARK.json``).

Usage (from anywhere)::

    python3 tools/perfbench_ab.py --a /path/to/parent --b . \\
        --workload consumer_group --seeds 101-110 --seconds 10 [--trace 1] \\
        [--json ab.json]

``--a``/``--b`` are checkout roots, for example the working tree and a
copy of its parent commit made with
``git archive HEAD~1 | tar -x -C /path/to/parent``.  Seeds are ``N-M``
ranges and/or comma lists.  ``--json`` also writes every run's result
line.  Runs are sequential: run nothing else heavy meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run in ``root``; its last stdout line is the result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{root}: seed {seed} exited {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(root: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]
    }


def summarize(runs: list[dict], better: dict[str, str]) -> list[str]:
    """Table rows: metric, A median [q1, q3], B median [q1, q3], B/A, wins."""
    names = [n for n in runs[0]["a"]["metrics"] if n in runs[0]["b"]["metrics"]]
    rows = [("metric", "A median [q1, q3]", "B median [q1, q3]", "B/A", "wins A:B")]
    for name in names:
        a = [r["a"]["metrics"][name]["value"] for r in runs]
        b = [r["b"]["metrics"][name]["value"] for r in runs]
        higher = better.get(name, "lower") == "higher"
        wins_b = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
        wins_a = sum((x > y) if higher else (x < y) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        rows.append((
            name,
            f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]",
            f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]",
            f"{qb[1] / qa[1]:.3f}" if qa[1] else "-",
            f"{wins_a}:{wins_b}",
        ))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    return ["  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip() for r in rows]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="checkout root of side A")
    ap.add_argument("--b", required=True, help="checkout root of side B")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    roots = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    runs: list[dict] = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        pair: dict = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(
                roots[side], args.workload, seed, args.seconds, args.trace
            )
        runs.append(pair)
        print(
            f"seed {seed} ({order[0]} first): "
            f"A failed {pair['a']['failed']}/{pair['a']['attempted']}, "
            f"B failed {pair['b']['failed']}/{pair['b']['attempted']}",
            flush=True,
        )
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"args": vars(args), "runs": runs}, f, indent=1)
    print(f"\nA = {roots['a']}\nB = {roots['b']}")
    print(f"{args.workload}, {len(runs)} pairs, --seconds {args.seconds} --trace {args.trace}")
    for row in summarize(runs, directions(roots["b"])):
        print(row)
    return 0


if __name__ == "__main__":
    sys.exit(main())
