#!/usr/bin/env python3
"""Self-test of the benchmark at a tenth of its input size.

    python3 benchmark/selftest.py

Runs ``benchmark/run.py`` five times (about five minutes on 4 cores) and
asserts that

- every metric named in ``BENCHMARK.json`` prints, with its unit, both in
  the text lines and in the JSON result of its trace mode, and so do the
  ungated ``error_rate`` and ``peak_rss_mb``;
- on clean output every check passes and ``failed`` is 0;
- each planted defect fails its check and raises ``error_rate``: one
  dropped output row, one attached snapshot shifted to leak, one surviving
  exact duplicate.

Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# (workload, trace, defect, the check the defect must fail)
CASES = [
    ("features_job", 0, None, None),
    ("features_job", 0, "dropped_row", "rows_and_text_equal_input"),
    ("features_job", 1, "leak", "no_leakage"),
    ("curation_near_dup", 0, None, None),
    ("curation_near_dup", 1, "dup_survivor", "no_exact_duplicate_survives"),
]


def run_case(spec: dict, workload: str, trace: int, defect: str | None, check: str | None) -> list[str]:
    cmd = [sys.executable, str(ROOT / "benchmark" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    if defect:
        cmd += ["--defect", defect]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or not lines[-1].startswith("{"):
        return [f"exit {out.returncode}, no result: {out.stderr[-1500:]}"]
    res = json.loads(lines[-1])
    text = lines[:-1]
    errors = []
    wanted = spec["per_layer" if trace else "end_to_end"]
    if [m["name"] for m in wanted] != list(res["metrics"]):
        errors.append("JSON metric names differ from BENCHMARK.json")
    for m in wanted:
        got = res["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"]:
            errors.append(f"{m['name']}: unit {got.get('unit')!r}, want {m['unit']!r}")
        if not any(ln.split()[:1] == [m["name"]] and ln.split()[-1] == m["unit"] for ln in text):
            errors.append(f"{m['name']}: no text line with its unit")
    if not any(ln.split()[:1] == ["error_rate"] for ln in text):
        errors.append("no error_rate line")
    if not trace and not any(ln.split()[:1] == ["peak_rss_mb"] and ln.split()[-1] == "MB"
                             for ln in text):
        errors.append("no peak_rss_mb line with its unit")
    if defect is None:
        if not res["correct"] or res["failed"]:
            errors.append(f"clean run failed {res['failed']} of {res['attempted']}")
    else:
        if res["correct"] or res["failed"] < 1:
            errors.append(f"defect {defect} raised no failure")
        if not any(f"check {check}: FAILED" in ln for ln in text):
            errors.append(f"defect {defect} did not fail check {check}")
    return errors


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for case in CASES:
        errors = run_case(spec, *case)
        name = f"{case[0]} trace={case[1]} defect={case[2]}"
        print(f"{'ok  ' if not errors else 'FAIL'} {name}", flush=True)
        for e in errors:
            print(f"     {e}")
        bad += bool(errors)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
