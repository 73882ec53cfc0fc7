#!/usr/bin/env python3
"""Record the benchmark's seed receipt for each workload.

    python3 perfbench/receipt.py

Runs every workload 10 times untraced (seeds 1 .. 10, 10 s each) and
twice traced (seeds 1 and 2), then writes
perfbench/receipts/<workload>.json with:
  - each run's result line;
  - per end-to-end metric: median, quartiles and the quartile spread as
    a share of the median (statistics.quantiles(values, n=4));
  - the traced runs' per-layer metrics;
  - tracing overhead: traced median minus untraced median of the two
    paths (trace.light_ms / trace.heavy_ms against light_ms / heavy_ms);
  - for gates, each traced run's per-gate job/stage map and whether the
    two maps are identical.
Run from the root of a checkout; it calls perfbench/run.py.
"""
import json
import os
import statistics
import subprocess
import sys

WORKLOADS = ("serve", "gates")
SEEDS = list(range(1, 11))
SECONDS = 10


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    jobmap = {}
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] jobmap "):
            _, _, gate, _, jobs, _, stages = line.split()
            jobmap[gate] = {"jobs": int(jobs), "stages": int(stages)}
    return result, jobmap


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    os.makedirs("perfbench/receipts", exist_ok=True)
    for w in WORKLOADS:
        path = f"perfbench/receipts/{w}.json"
        untraced = []
        for s in SEEDS:
            r, _ = run(w, s, SECONDS, 0)
            print(f"{w} seed {s}: {json.dumps(r)}", file=sys.stderr)
            untraced.append({"seed": s, **r})
        traced, jobmaps = [], []
        for s in SEEDS[:2]:
            r, jm = run(w, s, SECONDS, 1)
            traced.append({"seed": s, **r})
            jobmaps.append(jm)
        names = list(untraced[0]["metrics"])
        stats = {m: spread([u["metrics"][m]["value"] for u in untraced]) for m in names}
        overhead = {}
        for m in ("light_ms", "heavy_ms"):
            t = statistics.median(x["metrics"][f"trace.{m}"]["value"] for x in traced)
            overhead[m] = t - stats[m]["median"]
        receipt = {
            "workload": w, "seconds": SECONDS, "seeds": SEEDS,
            "end_to_end": stats,
            "tracing_overhead_ms": overhead,
            "attempted": [u["attempted"] for u in untraced],
            "failed": [u["failed"] for u in untraced],
            "untraced_runs": untraced,
            "traced_runs": traced,
        }
        if any(jobmaps):
            receipt["gate_jobmap"] = jobmaps[0]
            receipt["gate_jobmap_repeats"] = all(j == jobmaps[0] for j in jobmaps)
        with open(path, "w") as fh:
            json.dump(receipt, fh, indent=1)
            fh.write("\n")
        print(f"{w}: " + ", ".join(f"{m} median {v['median']:.4g} spread {v['spread']:.3f}"
                                  for m, v in stats.items()), file=sys.stderr)


if __name__ == "__main__":
    main()
