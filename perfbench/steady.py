"""Steadiness check: run each workload once per seed and report, for every
end-to-end metric, the median and the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0|1]
                                [--out perfbench/steadiness/<file>.json]
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    res = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    if res.returncode != 0:
        print(res.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{workload} seed {seed} failed")
    return json.loads(res.stdout.strip().splitlines()[-1]), wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "trace": a.trace,
              "workloads": {}}
    for w in names:
        runs = []
        for s in seeds(a.seeds):
            r, wall = run(w, s, bench["run_seconds"], a.trace)
            runs.append({"seed": s, "wall_s": round(wall, 1),
                         "attempted": r["attempted"], "failed": r["failed"],
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            print(w, s, f"{wall:.1f}s", r["failed"],
                  {k: round(v["value"], 3) for k, v in r["metrics"].items()},
                  flush=True)
        summary = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None,
                          "bound": bounds.get(m)}
        report["workloads"][w] = {"summary": summary, "runs": runs}
        for m, s in summary.items():
            print(f"  {w:18s} {m:14s} median={s['median']:.4g} "
                  f"spread={s['spread'] if s['spread'] is None else round(s['spread'], 4)}",
                  flush=True)
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
