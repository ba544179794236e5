#!/usr/bin/env python3
"""The repo benchmark: one workload per call, on ``local[<cores>]``.

    python3 benchmark/run.py --workload features_job --seed 1 --seconds 10 --trace 0

Run from anywhere in a checkout of the repo: the engine package and
``tests/oracle_pandas.py`` are imported from the checkout, and every file
the run writes goes under ``.bench_work/`` at its root. The run

1. reads the Spark jars and Python packages into the file cache, starts
   the Spark session, generates the seeded input and lands it as the
   input table, which together are ``setup_s``;
2. times passes of the workload until ``--seconds`` have gone (at least
   one) and reports medians over the passes. There is no warm-up pass:
   both workloads are batch jobs that ``spark-submit`` starts in a fresh
   JVM, so the first pass is the one their users get;
3. with ``--trace 1`` the passes run traced, the per-layer probes follow,
   and the per-layer metrics are reported instead of the end-to-end ones;
4. checks the last pass's committed output; every failed check counts in
   ``failed``. A pass that raises ends the run with exit code 1 and no
   result.

The last line of standard output is the JSON result; the metric names
and units are those of ``BENCHMARK.json``. See ``benchmark/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# get_spark's 64g default heap lets the JVM grow past a 15 GB machine's
# memory (measured: 15.9 GB resident on a 10k-turn input, then killed by
# the kernel's OOM killer), so such a machine must set a heap size. 8g is
# the largest tried that fits: 9.2 GB resident at most, measured on the
# heaviest plan the engine builds here (the salted as-of pipeline).
DEFAULT_DRIVER_MEMORY = "8g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--defect", default=None, choices=("dropped_row", "leak", "dup_survivor"),
                    help="plant a defect in the output before the checks (self-test)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs at 0.1)")
    return ap.parse_args(argv)


def contract() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def prepare_env(work: Path) -> None:
    """Keep every file of the run inside ``work``; let workers import the
    engine from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY)
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]


def warm_file_cache() -> None:
    """Read the Spark jars and the Python packages the workers import, so
    the timed pass does not wait on the disk for them (on a 4-vCPU VM the
    page cache dropped them between runs: a cold read of the jars took
    1.5 s, a cached one 0.1 s)."""
    import numpy
    import pandas
    import pyarrow

    spark_home = Path(os.environ.get("SPARK_HOME", ""))
    dirs = [spark_home / "jars", spark_home / "python" / "lib"]
    dirs += [Path(m.__file__).parent for m in (numpy, pandas, pyarrow)]
    for d in dirs:
        for path in d.rglob("*"):
            if path.is_file():
                with open(path, "rb") as f:
                    while f.read(1 << 20):
                        pass


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from tracing import process_tree

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(args, spark, work: Path, session_s: float) -> tuple[dict, list, int, int]:
    from tracing import PeakRss, Tracer, tree_cpu_s
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    if args.scale != 1.0:
        cls = type(cls.__name__, (cls,), {
            k: max(1, int(getattr(cls, k) * args.scale))
            for k in ("target_turns", "n_docs") if hasattr(cls, k)
        })
    w = cls(spark, str(work), args.seed)
    w.defect = args.defect
    jvm = spark.sparkContext._gateway.proc.pid

    t = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    w.land()
    land_s = time.perf_counter() - t
    w.prepare()
    setup_s = session_s + gen_s + land_s

    tracer = Tracer(spark, enabled=bool(args.trace))
    attempted = failed = 0
    walls, cpus = [], []
    with PeakRss(jvm) as rss:
        start = time.perf_counter()
        while True:
            w.reset_output()
            c0, t0 = tree_cpu_s(jvm), time.perf_counter()
            w.iteration(tracer)
            tracer.close()
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(jvm) - c0)
            attempted += 1
            print(f"pass {len(walls)}: {walls[-1]:.2f} s, {cpus[-1]:.2f} cpu s, "
                  f"peak rss {rss.peak / 1e6:.0f} MB", file=sys.stderr, flush=True)
            if args.trace or time.perf_counter() - start >= args.seconds:
                break
    krows = w.rows / 1e3
    metrics = {
        "rows_per_s": statistics.median(w.rows / s for s in walls),
        "cpu_s_per_krow": statistics.median(c / krows for c in cpus),
        "peak_rss_mb": rss.peak / 1e6,
        "sink_bytes_per_row": w.sink_bytes() / w.rows,
        "setup_s": setup_s,
    }
    notes = [f"{w.rows} input rows; set-up: session {session_s:.2f} s, input {gen_s:.2f} s, "
             f"landing {land_s:.2f} s; "
             f"{len(walls)} timed passes {[round(s, 2) for s in walls]} s"]
    notes += w.describe()

    if args.trace:
        # coverage is judged on the workload's own passes, before the probes
        unlabeled = tracer.unlabeled_run_share()
        t = time.perf_counter()
        extra = w.probe(tracer)
        tracer.close()
        notes.append(f"probes {time.perf_counter() - t:.2f} s")
        metrics = w.per_layer(tracer, extra)
        metrics["spark.unlabeled_run_share"] = unlabeled
        metrics["trace.overhead_s"] = tracer.overhead_s
        with open(work / "spans.json", "w") as f:
            json.dump(tracer.dump(), f, indent=1)

    checks = []
    for name, ok, detail in w.checks():
        attempted += 1
        failed += not ok
        checks.append(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    return metrics, notes + checks, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "network_feature_extractor_spark").is_dir() or not (
        ROOT / "tests" / "oracle_pandas.py"
    ).is_file():
        print("benchmark: no engine checkout around benchmark/ "
              "(network_feature_extractor_spark/, tests/oracle_pandas.py)", file=sys.stderr)
        return 2
    spec = contract()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"benchmark: unknown workload {args.workload!r}; one of {sorted(names)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    os.chdir(work)

    from network_feature_extractor_spark.session import get_spark

    t = time.perf_counter()
    warm_file_cache()
    spark = get_spark(app_name="benchmark", cores=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t
    try:
        metrics, lines, attempted, failed = measure(args, spark, work, session_s)
    except Exception:
        traceback.print_exc()
        print(f"workload {args.workload} seed {args.seed}: the run raised; no result")
        return 1
    finally:
        stop_spark(spark)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in wanted}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for line in lines:
        print("  " + line)
    for name, v in out.items():
        print(f"  {name:44s} {v['value']:.6g} {v['unit']}")
    # printed for the reader, not in BENCHMARK.json: error_rate is 0 on a
    # correct tree, and the peak RSS spreads too widely between runs to gate
    print(f"  {'error_rate':44s} {failed / attempted:.6g} ratio ({failed} of {attempted})")
    if not args.trace:
        print(f"  {'peak_rss_mb':44s} {metrics['peak_rss_mb']:.6g} MB")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
