#!/usr/bin/env python3
"""The benchmark's own smoke test.

Usage: python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once on the smallest fixture
(`--scale smoke`), untraced and traced, and checks that each run exits 0,
that every operation matched its oracle (error rate 0), and that every
end-to-end or per-layer metric named in BENCHMARK.json is printed with its
unit. Exits 1 on the first problem.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
                cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {out.returncode}\n"
                                f"{out.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {res['failed']} of "
                                f"{res['attempted']} operations failed")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} "
                                    f"missing or not in {m['unit']}: {got}")
            print(f"{w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations, {res['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
