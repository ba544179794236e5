#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 benchmark/spread.py --workload features_job --seeds 1-10 [--seconds 1]

Runs ``benchmark/run.py`` once per seed (one after the other, never in
parallel) and prints, per end-to-end metric, the median, the quartile
distance as a share of the median, and that share against a third of the
metric's bound in ``BENCHMARK.json``. Raw results go to
``.bench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or str(spec["run_seconds"])
    log = ROOT / ".bench_work" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "benchmark" / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", seconds, "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        results.append(res)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} {vals}", flush=True)
    if len(results) < 4:
        return 0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med
        flag = "ok" if share < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:22s} median {med:12.4f}  spread {share:.4f}  "
              f"bound/3 {m['bound'] / 3:.4f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
