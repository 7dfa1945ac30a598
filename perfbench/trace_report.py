#!/usr/bin/env python3
"""Write the committed traced-run artifact.

    python3 perfbench/trace_report.py [--seed 1] [--out perfbench/results/traced_run.json]

For every workload it runs the benchmark twice on the same seed, once
untraced and once traced, and records the traced run's per-layer
metrics, layer shares and per-operation span trees (last pass), the
untraced end-to-end metrics, and the tracing overhead: the traced
pass_s minus the untraced pass_s.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=run.WORK, delete=False) as f:
        path = f.name
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--artifact", path], check=True, cwd=run.ROOT, stdout=subprocess.DEVNULL)
        return json.load(open(path))
    finally:
        os.unlink(path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    default=json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out", default=os.path.join(HERE, "results", "traced_run.json"))
    args = ap.parse_args()
    os.makedirs(run.WORK, exist_ok=True)
    report = {}
    for w in run.WORKLOADS:
        plain = one(w, args.seed, args.seconds, 0)
        traced = one(w, args.seed, args.seconds, 1)
        overhead = (traced["end_to_end"]["pass_s"]["value"]
                    - plain["end_to_end"]["pass_s"]["value"])
        report[w] = {
            "stamps": traced["stamps"],
            "correct": plain["correct"] and traced["correct"],
            "end_to_end_untraced": plain["end_to_end"],
            "end_to_end_traced": traced["end_to_end"],
            "tracing_overhead_pass_s": {
                "value": overhead,
                "share": overhead / plain["end_to_end"]["pass_s"]["value"]},
            "per_layer": traced["per_layer"],
            "layer_shares": traced["layer_shares"],
            "checks": traced["checks"],
            "span_trees": traced["span_trees"],
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for w, r in report.items():
        shares = ", ".join(f"{k} {v['share']:.1%}" for k, v in sorted(r["layer_shares"].items()))
        print(f"{w}: {shares}; tracing overhead "
              f"{r['tracing_overhead_pass_s']['value']:+.3f} s per pass")


if __name__ == "__main__":
    main()
