"""Benchmark entry point: one seeded workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Prints a human-readable block (machine
state, notes, failures, trace summary) and, as the LAST line of stdout,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Metric names and units come from ``BENCHMARK.json``.
Exits non-zero without a result line when the package is missing or a
workload cannot run.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import OUT, ROOT, Context, cpu_shares, cpu_ticks, machine_state  # noqa: E402

WORKLOADS = {
    "consumer_group": "wl_consumer_group",
    "stream_pipeline": "wl_stream_pipeline",
    "index_lifecycle": "wl_index_lifecycle",
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metrics_block(names_units: list[dict], values: dict) -> dict:
    """Every declared metric with its unit.  A per-layer metric whose
    layer the workload never calls is reported as 0 (and listed as not
    exercised); an end-to-end metric must always have been measured."""
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names_units
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("redis_streams_spark")
    except ImportError as e:
        print(f"perfbench: package redis_streams_spark not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = spec()

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    before = machine_state()
    ticks = cpu_ticks()
    try:
        mod = importlib.import_module(WORKLOADS[args.workload])
        res = mod.run(ctx)
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        ctx.cleanup()
    after = {**machine_state(), **cpu_shares(ticks, cpu_ticks())}

    out = ctx.outcomes
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"machine before: {json.dumps(before)}")
    print(f"machine after:  {json.dumps(after)}")
    for k, v in res.notes.items():
        print(f"  {k}: {v}")
    print(f"  error_rate: {out.error_rate:.6f} ({out.failed} of {out.attempted} operations failed)")
    for f in out.failures[:50]:
        print(f"  FAILED: {f}")

    e2e_names = [m["name"] for m in bench["end_to_end"]]
    missing = [n for n in e2e_names if n not in res.e2e or res.e2e[n] != res.e2e[n]]
    if missing:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 4
    for n in e2e_names:
        print(f"  {n} = {res.e2e[n]:.6g}")

    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}")
    if args.trace:
        values = dict(res.layers)
        values["error_rate"] = out.error_rate
        values["trace.spans"] = len(ctx.tracer.spans)
        values["trace.record_s"] = ctx.tracer.record_s
        for name in e2e_names:
            values[f"traced.{name}"] = res.e2e[name]
        layer_names = {m["name"] for m in bench["per_layer"]}
        for layer, s in ctx.tracer.self_by_layer().items():
            if f"self_s.{layer}" in layer_names:
                values[f"self_s.{layer}"] = s
        ctx.tracer.write(stem + ".spans.jsonl")
        _print_trace_summary(ctx, res, stem, e2e_names)
        unused = sorted(layer_names - set(values))
        if unused:
            print(f"  not exercised by this workload (reported as 0): {', '.join(unused)}")
        metrics = metrics_block(bench["per_layer"], values)
    else:
        metrics = metrics_block(bench["end_to_end"], res.e2e)
    record = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    with open(stem + ".json", "w") as f:
        json.dump({**record, "notes": res.notes, "machine": [before, after], "e2e": res.e2e, "time": time.time()}, f)
    print(json.dumps(record))
    return 0


def _print_trace_summary(ctx: Context, res, stem: str, e2e_names: list[str]) -> None:
    print(f"  spans written to {stem}.spans.jsonl")
    print(f"  {'span':34s} {'layer':20s} {'count':>7s} {'total_s':>9s} {'self_s':>9s}")
    for name, row in sorted(ctx.tracer.summary().items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:34s} {row['layer']:20s} {row['count']:7d} {row['total_s']:9.3f} {row['self_s']:9.3f}")
    # tracing overhead: traced minus untraced end-to-end values, against
    # the untraced run of the same workload and seed when one exists
    untraced = os.path.join(OUT, f"{ctx.workload}-s{ctx.seed}-t0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["e2e"]
        for n in e2e_names:
            d = res.e2e[n] - base[n]
            print(f"  trace overhead {n}: {d:+.6g} ({d / base[n]:+.1%} of untraced)")
    else:
        print("  trace overhead: run the same workload and seed with --trace 0 first to compare")


if __name__ == "__main__":
    sys.exit(main())
