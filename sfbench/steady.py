"""Steadiness check: run the benchmark on several seeds, report spreads.

    python3 sfbench/steady.py --workload selective --seeds 1-10 --seconds 7 \
        [--out sfbench/STEADINESS.json]

For every end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread — the inter-quartile
distance as a share of the median — next to the metric's bound from
``BENCHMARK.json``. A spread under a third of the bound is steady. With
``--out`` the summary is merged into that JSON file under the workload name.
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


def _seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={res['correct']}",
              file=sys.stderr, flush=True)

    summary = {"seeds": args.seeds, "seconds": seconds, "failed": failed,
               "run_wall_s": spread(walls), "metrics": {}}
    for k, vs in values.items():
        s = spread(vs)
        s["bound"] = bounds.get(k)
        s["steady"] = s["bound"] is not None and s["spread"] < s["bound"] / 3
        summary["metrics"][k] = s
        print(f"{k:28s} median {s['median']:10.4g}  q1 {s['q1']:10.4g}  "
              f"q3 {s['q3']:10.4g}  spread {s['spread']:6.3f}  "
              f"bound {s['bound']}  {'ok' if s['steady'] else 'NOT STEADY'}")
    print(f"run wall: median {summary['run_wall_s']['median']:.1f}s")
    if args.out:
        doc = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                doc = json.load(f)
        doc[args.workload] = summary
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
