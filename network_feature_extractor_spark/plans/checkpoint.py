"""Checkpoint/resume + per-partition lineage (SURVEY.md §4.4, north rule).

Spark gives task-level retry but not job-level resumability; the engine
adds it: the conv_id space is split into ``n_buckets`` stable hash
buckets (crc32-based so the bucketing itself is engine-portable), each
bucket is processed and written independently, and a JSON manifest
records per-bucket completion with row counts + a value checksum
(lineage). On restart, completed buckets are skipped.

Pending buckets run as concurrent Spark jobs, as many at once as the
session's ``defaultParallelism``. A bucket spends much of its wall time
in driver-side planning with no task running (at 8k turns on 4 cores,
three gaps of 2-4 s per bucket against ~15 s of executor time for the
whole job), so one bucket's planning overlaps another's tasks. Each
bucket stays its own resume unit. The manifest doubles as the
per-partition metrics table (rows, convs, wall seconds per bucket);
since buckets overlap, their ``seconds`` overlap too and do not sum to
the job's wall time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def bucket_col(key: str, n_buckets: int):
    return F.crc32(F.col(key).cast("string")) % n_buckets


def run_resumable(
    turns: DataFrame,
    out_dir: str,
    build: Callable[[DataFrame], DataFrame],
    key: str = "conv_id",
    n_buckets: int = 16,
    checksum_col: str | None = None,
) -> dict:
    """Process bucket-by-bucket with a resume manifest.

    ``build`` maps a turns subset -> feature frame. Each bucket writes to
    ``{out_dir}/bucket={b}`` and appends a manifest entry
    {rows, n_keys, checksum, seconds}. Already-completed buckets are
    skipped (idempotent restart).

    Pending buckets are submitted as concurrent Spark jobs from a pool of
    ``min(len(pending), defaultParallelism)`` threads: at this engine's
    bucket sizes a bucket's driver-side planning dominates its tasks, and
    concurrent jobs let it overlap another bucket's tasks. ``build`` runs
    on several threads at once, so it must be thread-safe; each thread
    inherits the caller's job group, local properties and tags. The
    manifest is updated atomically under a lock. On the first bucket
    failure, buckets not yet started are cancelled, running ones finish
    and record themselves, and the original exception is re-raised.
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "_manifest.json")
    manifest: dict[str, dict] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)

    turns = turns.withColumn("_bucket", bucket_col(key, n_buckets))
    lock = threading.Lock()

    def process(b: int) -> None:
        bk = str(b)
        t0 = time.time()
        subset = turns.filter(F.col("_bucket") == b).drop("_bucket")
        out = build(subset)
        bucket_path = os.path.join(out_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(bucket_path)

        written = out.sparkSession.read.parquet(bucket_path)
        agg = [F.count("*").alias("rows"), F.countDistinct(key).alias("n_keys")]
        if checksum_col:
            agg.append(
                F.sum(F.crc32(F.col(checksum_col).cast("string"))).alias("checksum")
            )
        stats = written.agg(*agg).collect()[0].asDict()
        entry = {
            "status": "done",
            "rows": stats["rows"],
            "n_keys": stats["n_keys"],
            "checksum": stats.get("checksum"),
            "seconds": round(time.time() - t0, 3),
        }
        # atomic update: a crash mid-write must not corrupt the manifest
        # (a truncated _manifest.json would defeat crash-resume entirely)
        with lock:
            manifest[bk] = entry
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            os.replace(tmp, manifest_path)

    pending = [
        b for b in range(n_buckets) if manifest.get(str(b), {}).get("status") != "done"
    ]
    if not pending:  # a pool needs at least one worker
        return manifest
    spark = turns.sparkSession
    workers = min(len(pending), spark.sparkContext.defaultParallelism)
    target = inheritable_thread_target(spark)(process)
    with ThreadPoolExecutor(max_workers=workers) as ex:
        futures = [ex.submit(target, b) for b in pending]
        try:
            for fut in as_completed(futures):
                fut.result()
        except BaseException:
            ex.shutdown(cancel_futures=True)
            raise
    return manifest
