#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/steady.py <workload> <runs> [first_seed]
       python3 perfbench/steady.py compare <first.json> <second.json>

The first form runs the benchmark once per seed (first_seed,
first_seed+1, ...) with the run length from BENCHMARK.json, writes the
values to `.bench_build/steady/<workload>-<first_seed>.json`, and prints
for every end-to-end metric its median and the distance between its
first and third quartiles as a share of the median (the spread), next to
the metric's bound. A metric is flagged WIDE when its spread is a third
of its bound or more, and OVER when it exceeds the bound.

The second form compares two such sets of the same workload: for every
metric, how much worse the second median is than the first, as a share
of the first, against the bound.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(v):
    med = statistics.median(v)
    q1, _, q3 = statistics.quantiles(v, n=4)
    return med, ((q3 - q1) / med if med else float("inf"))


def measure(workload, runs, first, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {k: [] for k in bounds}
    walls = []
    for seed in range(first, first + runs):
        t0 = time.time()
        out = subprocess.run(
            [*bench["command"], "--workload", workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not line.startswith("{"):
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(line)
        walls.append(time.time() - t0)
        print(f"seed {seed} ({walls[-1]:.1f} s): correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    out_dir = ROOT / ".bench_build" / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{workload}-{first}.json").write_text(json.dumps(
        {"workload": workload, "seeds": [first, first + runs - 1], "walls": walls,
         "values": values}))
    print(f"\n{workload}: {runs} runs, median wall {statistics.median(walls):.1f} s per run, "
          f"max {max(walls):.1f} s")
    for k, v in values.items():
        med, sp = spread(v)
        flag = "OVER" if sp > bounds[k] else "WIDE" if sp >= bounds[k] / 3 else "ok"
        print(f"  {k:18s} median {med:12.4f}  spread {sp:7.4f}  bound {bounds[k]:.2f}  {flag}")


def compare(a_path, b_path, bench):
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    a, b = (json.loads(Path(p).read_text()) for p in (a_path, b_path))
    print(f"{a['workload']}: seeds {a['seeds']} against {b['seeds']}")
    for k, m in metrics.items():
        ma, mb = statistics.median(a["values"][k]), statistics.median(b["values"][k])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        flag = "OVER" if worse > m["bound"] else "ok"
        print(f"  {k:18s} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+7.4f}  "
              f"bound {m['bound']:.2f}  {flag}")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3], bench)
    else:
        measure(sys.argv[1], int(sys.argv[2]),
                int(sys.argv[3]) if len(sys.argv) > 3 else 1, bench)


if __name__ == "__main__":
    main()
