"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads backfill,incremental \
        --seeds 1-10 [--trace 0] [--out perfbench/steadiness.json] [--about TEXT]

Runs ``run.py`` once per (workload, seed), sequentially, and prints per
metric the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the spread (third minus first quartile, as a share of the median) next
to the bound BENCHMARK.json fixes. Counts that must repeat exactly (job
counts, in traced runs) are printed as counts.

``--out`` appends one set per workload, in the layout printed here, to a
JSON file ``{"about": ..., "sets": [...]}`` (``--about`` sets its
``about``), and then compares the medians of each workload's last set with
its first set of the same trace mode: how much worse the last is, as a
share of the first, against the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer counts that must be the same on every run of a workload.
EXACT = ("cli.jobs", "streaming.jobs_per_batch", "agent_memory.jobs_per_call",
         "graphquery.jobs_per_call", "propquery.jobs_per_call")


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def run_set(bench: dict, workload: str, seeds: list[int], trace: int) -> dict:
    """One run per seed; the set's raw values and statistics."""
    results, walls = [], []
    for seed in seeds:
        cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
        t = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(round(time.time() - t, 1))
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
        results.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        print(f"{workload} seed {seed}: {walls[-1]:.0f}s correct={results[-1]['correct']}",
              file=sys.stderr, flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    metrics = {}
    for name, first in results[0]["metrics"].items():
        if trace and name not in EXACT:
            continue
        values = [r["metrics"][name]["value"] for r in results]
        m = {"unit": first["unit"], "values": values}
        if not trace:
            med, q1, q3, sp = spread(values)
            m.update(median=med, q1=q1, q3=q3, spread=sp, bound=bounds.get(name))
        metrics[name] = m
    return {"workload": workload, "trace": trace, "run_seconds": bench["run_seconds"],
            "seeds": seeds, "wall_s": walls, "all_correct": all(r["correct"] for r in results),
            "failed": sum(r["failed"] for r in results), "metrics": metrics}


def show(s: dict) -> None:
    print(f"\n{s['workload']} (trace {s['trace']}): seeds {s['seeds'][0]}-{s['seeds'][-1]}, "
          f"wall {sum(s['wall_s']):.0f}s, all correct: {s['all_correct']}")
    for name, m in s["metrics"].items():
        if "spread" not in m:
            print(f"  {name:38s} {sorted(set(m['values']))} {m['unit']}")
            continue
        bound = m["bound"]
        flag = "" if bound is None or m["spread"] < bound / 3 else "  <-- above a third of the bound"
        print(f"  {name:38s} median {m['median']:12.5g}  q1 {m['q1']:12.5g}  q3 {m['q3']:12.5g}  "
              f"spread {m['spread']:7.3f}  bound {bound}{flag}")


def drift(bench: dict, sets: list[dict]) -> None:
    """The last set of each workload against its first: how much worse."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    for workload in dict.fromkeys(s["workload"] for s in sets if not s["trace"]):
        mine = [s for s in sets if s["workload"] == workload and not s["trace"]]
        if len(mine) < 2:
            continue
        a, b = mine[0], mine[-1]
        print(f"\n{workload}: last set against first")
        for name, m in b["metrics"].items():
            m0 = a["metrics"].get(name)
            if m0 is None:
                continue
            worse = (m["median"] - m0["median"]) / m0["median"]
            if better.get(name) == "higher":
                worse = -worse
            flag = "  <-- beyond the bound" if worse > m["bound"] else ""
            print(f"  {name:38s} worse by {worse:+7.3f}  bound {m['bound']}{flag}")


def main() -> int:
    from run import parse_seeds

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="backfill,incremental")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--about")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    new = [run_set(bench, w, parse_seeds(args.seeds), args.trace) for w in args.workloads.split(",")]
    for s in new:
        show(s)
    if args.out:
        doc = {"about": "", "sets": []}
        if os.path.exists(args.out):
            with open(args.out) as f:
                doc = json.load(f)
        if args.about:
            doc["about"] = args.about
        doc["sets"].extend(new)
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
        drift(bench, doc["sets"])
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
