#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise the run-to-run spread.

    python3 benchmark/spread.py --seeds 1-10 [--trace 0|1]
        [--out benchmark/baseline/set1.json]

Every workload in BENCHMARK.json runs at its run_seconds. For every
workload and metric it reports the median, the quartiles
(statistics.quantiles, n=4) and the spread: the inter-quartile distance as
a share of the median, the figure BENCHMARK.json's bounds are set against.
Untraced sets also flag every spread above a third of the metric's bound.
Traced sets also list which exact counts repeated across the seeds.
Runs are sequential; each is one `benchmark/run.py` process.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"trace": a.trace, "seconds": seconds, "workloads": {}}
    for w in workloads:
        runs = []
        for s in seeds_of(a.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(seconds), "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if proc.returncode != 0:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                runs.append({"seed": s, "wall_s": wall, "exit": proc.returncode})
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            rec_path = os.path.join(HERE, "results", f"{w}-seed{s}-trace{a.trace}.json")
            with open(rec_path) as fh:
                env = json.load(fh)["env"]
            runs.append({"seed": s, "wall_s": round(wall, 1), "result": res,
                         "load_avg_before": env["load_avg_before"],
                         "steal_ratio": env.get("steal_ratio")})
            print(f"{w} seed {s}: {wall:.0f}s correct={res['correct']} failed={res['failed']}",
                  file=sys.stderr, flush=True)
        ok = [r for r in runs if "result" in r]
        metrics = {}
        for name in (ok[0]["result"]["metrics"] if ok else {}):
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else None
            m = {"median": med, "q1": q[0], "q3": q[2], "spread": spread, "values": vals}
            if not a.trace and name in bounds:
                m["bound"] = bounds[name]
                m["spread_over_third_of_bound"] = spread is not None and spread > bounds[name] / 3
            if a.trace:
                m["repeats_exactly"] = len(set(vals)) == 1
            metrics[name] = m
        summary["workloads"][w] = {
            "runs": [{k: r.get(k) for k in ("seed", "wall_s", "exit", "load_avg_before",
                                            "steal_ratio")} |
                     ({"attempted": r["result"]["attempted"], "failed": r["result"]["failed"]}
                      if "result" in r else {}) for r in runs],
            "all_correct": all(r["result"]["correct"] for r in ok) and len(ok) == len(runs),
            "metrics": metrics}
    text = json.dumps(summary, indent=1)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    for w, s in summary["workloads"].items():
        print(f"{w}: runs={len(s['runs'])} correct={s['all_correct']} "
              f"wall={[r['wall_s'] for r in s['runs']]}")
        for name, m in s["metrics"].items():
            flag = " !" if m.get("spread_over_third_of_bound") else ""
            sp = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"  {name:48s} median {m['median']:14.4f} spread {sp}{flag}")


if __name__ == "__main__":
    main()
