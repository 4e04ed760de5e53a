#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarize each metric.

From the root of a graft checkout:

    python3 pipebench/spread.py --workloads batch_backfill small_files \
        --seeds 1-10 [--out summary.json]

For every workload and metric it prints the median, the quartiles
(Python's statistics.quantiles(values, n=4)), the spread
(q3 - q1) / median, and the metric's bound from BENCHMARK.json with the
share of it the spread uses. --out writes the same as JSON, the format
of pipebench/BASELINE.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads:
        values, runs, walls = {}, [], []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "pipebench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            last = json.loads(p.stdout.strip().splitlines()[-1])
            ctx = next((json.loads(x[8:]) for x in p.stdout.splitlines()
                        if x.startswith("context ")), {})
            runs.append({"seed": s, "correct": last["correct"],
                         "failed": last["failed"], "steal_s": ctx.get("steal_s"),
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()}})
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: correct={last['correct']} failed={last['failed']} "
                  f"steal_s={ctx.get('steal_s', 0):.2f} wall={walls[-1]:.1f}s", flush=True)
        summary[w] = {"runs": runs, "run_wall_s": statistics.median(walls), "metrics": {}}
        for k, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            summary[w]["metrics"][k] = {"median": med, "q1": q1, "q3": q3,
                                        "spread": spread, "n": len(xs)}
            b = bounds.get(k)
            use = f"{spread / b:6.2f} of bound {b}" if b else ""
            print(f"  {k:<34}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}  spread {spread:6.3f} {use}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
