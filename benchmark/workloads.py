"""The benchmark's workloads: the resumable features job and the
near-dup curation job, each run through its own ``jobs/`` entrypoint
(``main()`` with the job's command-line flags, in the benchmark's Spark
session), plus the correctness checks on their committed outputs.

A workload has these steps, run by ``run.py``:

- ``generate`` then ``land``: make the seeded input and write it as the
  table the workload reads;
- ``iteration``: one timed pass from the input scan to the committed
  output; traced, the engine functions the entrypoint calls run in
  tracer spans (``Tracer.wrapping``);
- ``checks``: correctness of the last pass's output, as (name, ok, detail),
  read back from the output directory.

``probe`` adds the per-layer calls of the traced run and ``per_layer``
turns the tracer's spans and Spark totals into the named metrics.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.operators import dedup
from network_feature_extractor_spark.plans import checkpoint, curation, lineage
from network_feature_extractor_spark.plans.pipeline import run_pipeline
from network_feature_extractor_spark.sources import tables
from network_feature_extractor_spark.sources.tables import write_features

import docgen

# Oracle columns the engine defines the same way (tests/test_aggregates.py).
SESSION_ORACLE_COLS = [
    "start_time", "end_time", "duration", "n_turns", "total_text_len",
    "fwd_turns", "bwd_turns", "fwd_text_len", "bwd_text_len",
    "fwd_len_min", "fwd_len_max", "fwd_len_mean", "fwd_len_std",
    "bwd_len_min", "bwd_len_max", "bwd_len_mean", "bwd_len_std",
    "iat_min", "iat_max", "iat_mean", "iat_std",
    "turns_per_sec", "chars_per_sec", "avg_turn_len", "down_up_ratio",
    "len_dispersion", "len_cov",
]
TURN_ORACLE_COLS = ["iat", "iat_role", "rt_len_mean", "rt_len_std", "rt_len_min", "rt_len_max"]
ATOL, RTOL = 1e-6, 1e-7
HOT_TURNS = 1000  # the size run_features.py --hot-threshold 1000 would salt
SALT_BLOCK_ROWS = 250  # above the ghost span max(rolling_k - 1, 2) = 4
JOBS = Path(__file__).resolve().parents[1] / "jobs"


def run_job(script: str, argv: list[str]) -> None:
    """Run ``jobs/<script>``'s ``main()`` with ``argv`` as its flags. It
    picks up the active Spark session; what it prints goes to stderr, so
    the benchmark's own result stays the last line of stdout."""
    spec = importlib.util.spec_from_file_location(Path(script).stem, JOBS / script)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    saved = sys.argv
    sys.argv = [script, *argv]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            job.main()
    finally:
        sys.argv = saved


def data_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the committed data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def content_checksum(df, cols: list[str]) -> tuple[int, int]:
    """Order-insensitive (rows, sum of row hashes) over ``cols``."""
    h = F.xxhash64(*[F.col(c) for c in sorted(cols)]).cast("decimal(38,0)")
    row = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _close(a, b) -> np.ndarray:
    a = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
    b = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
    return np.isclose(a, b, rtol=RTOL, atol=ATOL) | (np.isnan(a) & np.isnan(b))


class FeaturesJob:
    """``jobs/run_features.py --buckets 2`` (``checkpoint.run_resumable``
    with ``run_pipeline`` as ``build``, then ``lineage.partition_metrics``
    to ``_lineage``) over ``datagen.generate_turns``. The traced run also
    runs the materialized pipeline (``run_pipeline(materialize_dir=...)``
    into ``write_features``) on the same input: its output is the
    reference the job's output must match."""

    name = "features_job"
    target_turns = 8_000
    max_convs = 1000
    buckets = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = EngineConfig(checkpoint_buckets=self.buckets)
        self.in_path = os.path.join(work, "turns")
        self.job_out = os.path.join(work, "job")
        self.ref_out = os.path.join(work, "ref")
        self.mat_dir = os.path.join(work, "mat")
        self.defect: str | None = None
        self.has_reference = False

    # -- set-up ---------------------------------------------------------
    def generate(self) -> None:
        """The first ``target_turns`` turns of ``generate_turns``, in
        ``conv_id`` then ``turn_idx`` order: the last conversation taken
        keeps a prefix of its turns, which is itself a valid conversation
        (``turn_idx`` stays dense from 0). Every seed then gives the same
        input size; cut at a conversation boundary the datagen hot
        conversation alone moved it by up to 9%, and with it the pass
        rate, which is mostly fixed per-job cost."""
        from network_feature_extractor_spark.datagen import generate_turns

        self._all = generate_turns(self.spark, self.max_convs, seed=self.seed).persist()
        sizes = self._all.groupBy("conv_id").count().toPandas().sort_values("conv_id")
        before = sizes["count"].cumsum() - sizes["count"]
        last = int((before < self.target_turns).sum()) - 1
        cut = sizes["conv_id"].iloc[last]
        keep = self.target_turns - int(before.iloc[last])
        self.generated = self._all.filter(
            (F.col("conv_id") < cut) | ((F.col("conv_id") == cut) & (F.col("turn_idx") < keep))
        )

    def land(self) -> None:
        self.generated.write.mode("overwrite").parquet(self.in_path)

    def prepare(self) -> None:
        self._all.unpersist()
        self.turns = self.spark.read.parquet(self.in_path)
        self.in_sig = content_checksum(self.turns, ["conv_id", "turn_idx", "text"])
        self.rows = self.in_sig[0]
        sizes = self.turns.groupBy("conv_id").count()
        self.hot = sizes.filter(F.col("count") > HOT_TURNS).agg(
            F.count("*").alias("convs"), F.sum("count").alias("rows")
        ).first()

    def describe(self) -> list[str]:
        return [f"{self.hot['convs']} conversations over {HOT_TURNS} turns hold "
                f"{(self.hot['rows'] or 0) / self.rows:.3f} of the turns; the traced "
                f"salted_windows probe salts them, the job's as-of salting threshold "
                f"is {self.cfg.asof_hot_threshold}"]

    def reference(self, tracer) -> None:
        with tracer.span("pipeline.run_pipeline"):
            enriched, self.snap = run_pipeline(
                self.turns, self.cfg, materialize_dir=self.mat_dir
            )
        with tracer.span("tables.write_features"):
            write_features(enriched, self.ref_out)
        self.has_reference = True

    # -- the timed pass -------------------------------------------------
    def reset_output(self) -> None:
        shutil.rmtree(self.job_out, ignore_errors=True)

    def iteration(self, tracer) -> None:
        # run_resumable's build calls (run_pipeline) count to checkpoint
        with tracer.wrapping({
            "checkpoint.run_resumable": (checkpoint, "run_resumable"),
            "lineage.partition_metrics": (lineage, "partition_metrics"),
        }):
            run_job("run_features.py", ["--input", self.in_path, "--output", self.job_out,
                                        "--buckets", str(self.buckets)])
        with open(os.path.join(self.job_out, "per_turn", "_manifest.json")) as f:
            self.manifest = json.load(f)

    def sink_bytes(self) -> int:
        return data_bytes(self.job_out)[0]

    # -- correctness ----------------------------------------------------
    def _output(self):
        out = self.spark.read.parquet(os.path.join(self.job_out, "per_turn")).drop("bucket")
        if self.defect == "dropped_row":
            first = out.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").first()
            out = out.filter(
                (F.col("conv_id") != first["conv_id"]) | (F.col("turn_idx") != first["turn_idx"])
            )
        elif self.defect == "leak":
            row = (
                out.filter(F.col("asof_ts").isNotNull())
                .select("conv_id", "turn_idx")
                .orderBy("conv_id", "turn_idx")
                .first()
            )
            hit = (F.col("conv_id") == row["conv_id"]) & (F.col("turn_idx") == row["turn_idx"])
            out = out.withColumn(
                "asof_ts", F.when(hit, F.col("ts").cast("double")).otherwise(F.col("asof_ts"))
            )
        return out

    def sample_convs(self) -> list[str]:
        from network_feature_extractor_spark.datagen import HOT_EVERY

        rng = np.random.default_rng(self.seed)
        n_convs = self.turns.select("conv_id").distinct().count()
        idx = set(range(1, 9)) | set(range(HOT_EVERY, n_convs, HOT_EVERY))
        idx |= {int(i) for i in rng.integers(1, n_convs, 8)}
        return [f"conv-{i:08d}" for i in sorted(idx)]

    def checks(self) -> list[tuple[str, bool, str]]:
        out = self._output()
        res = []
        sig = content_checksum(out, ["conv_id", "turn_idx", "text"])
        res.append(("rows_and_text_equal_input", sig == self.in_sig,
                     f"output {sig[0]} rows vs input {self.in_sig[0]}"))
        # asof_ts is the attached snapshot's end time in epoch seconds
        leaks = out.filter(F.col("asof_ts") >= F.col("ts").cast("double")).count()
        res.append(("no_leakage", leaks == 0, f"{leaks} rows with asof_ts >= ts"))
        res.extend(self._oracle_checks(out))
        if self.has_reference:
            ref = self.spark.read.parquet(self.ref_out)
            cols = out.columns
            ok = sorted(ref.columns) == sorted(cols) and (
                content_checksum(out, cols) == content_checksum(ref, cols)
            )
            res.append(("job_matches_materialized", ok, "order-insensitive content checksum"))
        m = self.manifest
        done = sorted(int(b) for b, v in m.items() if v.get("status") == "done")
        rows = sum(v["rows"] for v in m.values())
        ok = done == list(range(self.cfg.checkpoint_buckets)) and rows == self.rows
        res.append(("manifest_complete", ok, f"buckets done {done}, rows {rows}"))
        return res

    def _oracle_checks(self, out) -> list[tuple[str, bool, str]]:
        from oracle_pandas import epoch, per_turn_oracle, session_features_oracle

        convs = self.sample_convs()
        src = self.turns.filter(F.col("conv_id").isin(convs)).toPandas()
        prev = [f"prev_{c}" for c in SESSION_ORACLE_COLS]
        got = (
            out.filter(F.col("conv_id").isin(convs))
            .select("conv_id", "turn_idx", "ts", "session_id", "last_tool", "asof_ts",
                    *TURN_ORACLE_COLS, *prev)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        exp = (
            per_turn_oracle(src)
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        same_rows = len(got) == len(exp) and (
            got[["conv_id", "turn_idx"]].to_numpy() == exp[["conv_id", "turn_idx"]].to_numpy()
        ).all()
        if not same_rows:
            return [("oracle_per_turn", False, f"{len(got)} rows vs oracle {len(exp)}"),
                    ("oracle_session_attach", False, "row mismatch")]
        bad = [c for c in TURN_ORACLE_COLS if not _close(got[c], exp[c]).all()]
        if not (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all():
            bad.append("session_id")
        if not (got["last_tool"].fillna("<na>") == exp["last_tool"].fillna("<na>")).all():
            bad.append("last_tool")
        res = [("oracle_per_turn", not bad, f"{len(convs)} convs; mismatched {bad}")]

        # expected attach: the latest session of the conversation that ended
        # strictly before the turn (sessions of a conversation end in order)
        sess = session_features_oracle(src).sort_values("end_time")
        ts = epoch(got["ts"])
        want = pd.merge_asof(
            pd.DataFrame({"_t": ts, "conv_id": got["conv_id"], "_i": np.arange(len(got))})
            .sort_values("_t"),
            sess[["conv_id", *SESSION_ORACLE_COLS]].rename(columns=lambda c: "w_" + c if c != "conv_id" else c),
            left_on="_t", right_on="w_end_time", by="conv_id",
            allow_exact_matches=False,
        ).sort_values("_i").reset_index(drop=True)
        bad = [c for c in SESSION_ORACLE_COLS
               if not _close(got[f"prev_{c}"], want[f"w_{c}"]).all()]
        if not _close(got["asof_ts"], want["w_end_time"]).all():
            bad.append("asof_ts")
        res.append(("oracle_session_attach", not bad,
                    f"{len(SESSION_ORACLE_COLS)} snapshot columns; mismatched {bad}"))
        return res

    # -- traced run -----------------------------------------------------
    def probe(self, tracer) -> dict:
        """The materialized pipeline (the reference output), then per-layer
        calls on its materialized per-turn table."""
        from network_feature_extractor_spark.operators import aggregates, asof
        from network_feature_extractor_spark.operators.salted_windows import (
            per_turn_features_salted,
        )
        from network_feature_extractor_spark.plans import registry

        spark, cfg = self.spark, self.cfg
        extra = {}
        self.reference(tracer)
        # the datagen hot conversation (over HOT_TURNS turns) takes the
        # blocked path, in blocks of SALT_BLOCK_ROWS turns
        with tracer.span("salted_windows.per_turn_features_salted"):
            _noop(per_turn_features_salted(
                self.turns, cfg, hot_threshold=HOT_TURNS, block_rows=SALT_BLOCK_ROWS,
            ))
        with tracer.span("registry.session_snapshot_table"):
            _noop(self.snap)
        plan = self.snap._jdf.queryExecution().executedPlan().toString()
        extra["registry.exchanges"] = sum(
            ln.lstrip(" :+-*()0123456789").startswith(("Exchange", "BroadcastExchange"))
            for ln in plan.splitlines()
        )

        (table,) = [t.name for t in spark.catalog.listTables() if t.name.startswith("pt_mat_")]
        pt = spark.table(table)
        pt_in = pt.select("conv_id", "session_id", "role", "text_len", "tool", "ts", "turn_idx")
        # run_pipeline marks its bucketed read this way (get_spark turns
        # auto-bucketed scans off), so the modules plan as they do there
        pt_in._nfe_assume_clustered = True
        modules = {
            "aggregates.session_features": lambda: aggregates.session_features(pt_in),
            "distribution.text_length": lambda: registry.MODULES["text_length"](pt_in, cfg),
            "sessionize.timing_metrics": lambda: registry.MODULES["timing_metrics"](pt_in, cfg),
            "transitions.transition_analysis": lambda: registry.MODULES["transition_analysis"](pt_in, cfg),
        }
        for label, module in modules.items():
            with tracer.span(label):
                _noop(module())

        with tracer.span("bench.prep"):
            snap_cols = [c for c in self.snap.columns if c not in ("conv_id", "session_id", "snap_ts")]
            attach = self.snap.select(
                "conv_id",
                F.timestamp_seconds(F.col("snap_ts")).alias("snap_ts"),
                *[F.col(c).alias(f"prev_{c}") for c in snap_cols],
            )
            attach_path = os.path.join(self.work, "attach")
            attach.write.mode("overwrite").parquet(attach_path)
            counts = self.turns.groupBy("conv_id").count()
            hot = counts.filter(F.col("count") > cfg.asof_hot_threshold).agg(F.sum("count")).first()[0]
            extra["asof.hot_row_share"] = (hot or 0) / self.rows
        with tracer.span("asof.asof_join_salted"):
            _noop(asof.asof_join_salted(
                pt, spark.read.parquet(attach_path), key="conv_id", left_ts="ts",
                right_ts="snap_ts", strict=True, hot_threshold=cfg.asof_hot_threshold,
                block_seconds=cfg.asof_block_seconds,
            ))
        extra["pipeline.materialized_bytes_per_row"] = data_bytes(self.mat_dir)[0] / self.rows
        return extra

    def per_layer(self, tracer, extra: dict) -> dict:
        rows = self.rows
        cp = tracer.layer("checkpoint")
        secs = sorted(v["seconds"] for v in self.manifest.values())
        pl, sw, reg, asof, tb = (
            tracer.layer(x) for x in ("pipeline", "salted_windows", "registry", "asof", "tables")
        )
        out = {
            "checkpoint.wall_s": tracer.span_seconds("checkpoint."),
            "checkpoint.run_s": cp.run_ms / 1e3,
            "checkpoint.records_in_per_row": cp.input_records / rows,
            "checkpoint.jobs": cp.jobs,
            "checkpoint.bucket_s_p50": statistics.median(secs),
            "checkpoint.bucket_s_p90": float(np.percentile(secs, 90)),
            "lineage.wall_s": tracer.span_seconds("lineage."),
            "lineage.records_in_per_row": tracer.layer("lineage").input_records / rows,
            "pipeline.eager_s": tracer.span_seconds("pipeline."),
            "pipeline.records_in_per_row": pl.input_records / rows,
            "pipeline.shuffle_write_bytes_per_row": pl.shuffle_write_bytes / rows,
            "pipeline.spill_bytes": pl.spill_bytes,
            "salted_windows.wall_s": tracer.span_seconds("salted_windows."),
            "salted_windows.run_s": sw.run_ms / 1e3,
            "salted_windows.cpu_s": sw.cpu_ns / 1e9,
            "salted_windows.shuffle_write_bytes_per_row": sw.shuffle_write_bytes / rows,
            "salted_windows.spill_bytes": sw.spill_bytes,
            "registry.wall_s": tracer.span_seconds("registry."),
            "registry.records_in_per_row": reg.input_records / rows,
            "registry.shuffle_read_bytes_per_row": reg.shuffle_read_bytes / rows,
            "asof.wall_s": tracer.span_seconds("asof."),
            "asof.run_s": asof.run_ms / 1e3,
            "asof.shuffle_write_bytes_per_row": asof.shuffle_write_bytes / rows,
            "tables.write_s": tracer.span_seconds("tables."),
            "tables.records_in_per_row": tb.input_records / rows,
            "tables.bytes_per_row": tb.output_bytes / rows,
            "tables.files": data_bytes(self.ref_out)[1],
        }
        for m in ("aggregates", "distribution", "sessionize", "transitions"):
            out[f"{m}.wall_s"] = tracer.span_seconds(f"{m}.")
            out[f"{m}.records_in_per_row"] = tracer.layer(m).input_records / rows
        dist = tracer.layer("distribution")
        out["distribution.offcpu_s"] = (dist.run_ms / 1e3) - dist.cpu_ns / 1e9
        out.update(extra)
        return out


class CurationNearDup:
    """``jobs/run_curation.py --near-dup`` with its default languages and
    quality floor: ``curation_report``, ``curate_documents``,
    ``dedup.simhash_near_pairs`` + ``dup_clusters_bigstar`` and an
    anti-join, then ``write_features``, over the ``docgen`` documents."""

    name = "curation_near_dup"
    n_docs = 2000
    langs = ("en", "und")
    min_quality = 0.55

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.in_path = os.path.join(work, "documents")
        self.out = os.path.join(work, "curation")
        self.defect: str | None = None

    def generate(self) -> None:
        self.docs = docgen.generate_documents(self.n_docs, self.seed)

    def land(self) -> None:
        self.spark.createDataFrame(self.docs.frame).write.mode("overwrite").parquet(self.in_path)

    def prepare(self) -> None:
        self.rows = len(self.docs.frame)

    def reset_output(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def iteration(self, tracer) -> None:
        with tracer.wrapping({
            "curation.curation_report": (curation, "curation_report"),
            "curation.curate_documents": (curation, "curate_documents"),
            "dedup.simhash_near_pairs": (dedup, "simhash_near_pairs"),
            "dedup.dup_clusters_bigstar": (dedup, "dup_clusters_bigstar"),
            "tables.write_features": (tables, "write_features"),
        }):
            run_job("run_curation.py", ["--input", self.in_path, "--output", self.out,
                                        "--langs", ",".join(self.langs),
                                        "--min-quality", str(self.min_quality), "--near-dup"])
        with open(os.path.join(self.out, "_curation_report.json")) as f:
            self.report = json.load(f)
        with open(os.path.join(self.out, "curated", "_engine_manifest.json")) as f:
            self.manifest = json.load(f)

    def sink_bytes(self) -> int:
        return data_bytes(self.out)[0]

    @property
    def found_near_dup_share(self) -> float:
        return self.report["n_near_dup_dropped"] / self.rows

    def describe(self) -> list[str]:
        d = self.docs
        return [
            f"duplicate share (traffic dimension) "
            f"{d.planted_exact_dup_share + d.planted_near_dup_share:.3f}: planted exact "
            f"{d.planted_exact_dup_share:.3f}, planted near {d.planted_near_dup_share:.3f}, "
            f"found near {self.found_near_dup_share:.3f}"
        ]

    def checks(self) -> list[tuple[str, bool, str]]:
        got = (
            self.spark.read.parquet(os.path.join(self.out, "curated"))
            .select("doc_id", "text")
            .toPandas()
        )
        if self.defect == "dup_survivor":
            copy = self.docs.exact_groups[0][1]
            frame = self.docs.frame
            got = pd.concat([got, frame[frame["doc_id"] == copy]], ignore_index=True)
        ids = set(got["doc_id"].tolist())
        res = []
        n_dup = int(got["text"].duplicated().sum())
        res.append(("no_exact_duplicate_survives", n_dup == 0, f"{n_dup} duplicate texts"))
        n_rep = self.report["n_curated"]
        ok = n_rep == self.manifest["total_rows"] == len(got)
        res.append(("report_matches_rows_written", ok,
                    f"report {n_rep}, manifest {self.manifest['total_rows']}, read {len(got)}"))
        bad = [g for g in self.docs.exact_groups if ids & set(g) != {g[0]}]
        res.append(("exact_groups_keep_lowest_id", not bad,
                    f"{len(bad)} of {len(self.docs.exact_groups)} groups wrong"))
        bad = [p for p in self.docs.near_pairs if ids & set(p) != {min(p)}]
        res.append(("near_dup_pairs_keep_lowest_id", not bad,
                    f"{len(bad)} of {len(self.docs.near_pairs)} pairs wrong"))
        return res

    def probe(self, tracer) -> dict:
        """Verified pairs over the block-join rows, recounted on the pair
        frame ``simhash_near_pairs`` returned in the traced pass."""
        mark = max_execution_id(self.spark)
        with tracer.span("dedup.verify"):
            verified = tracer.returns["dedup.simhash_near_pairs"].count()
        candidates = block_join_rows(self.spark, since=mark)
        return {"dedup.pairs_per_candidate": verified / candidates if candidates else 0.0}

    def per_layer(self, tracer, extra: dict) -> dict:
        rows = self.rows
        tb = tracer.layer("tables")
        clusters = tracer.labels.get("dedup.dup_clusters_bigstar")
        out = {
            "curation.report_s": tracer.span_seconds("curation.curation_report"),
            "curation.curate_s": tracer.span_seconds("curation.curate_documents"),
            "curation.records_in_per_row": tracer.layer("curation").input_records / rows,
            "dedup.near_pairs_s": tracer.span_seconds("dedup.simhash_near_pairs"),
            "dedup.clusters_s": tracer.span_seconds("dedup.dup_clusters_bigstar"),
            "dedup.cluster_jobs": clusters.jobs if clusters else 0,
            "dedup.near_dup_share": self.found_near_dup_share,
            "tables.write_s": tracer.span_seconds("tables."),
            "tables.records_in_per_row": tb.input_records / rows,
            "tables.bytes_per_row": tb.output_bytes / rows,
            "tables.files": data_bytes(os.path.join(self.out, "curated"))[1],
        }
        out.update(extra)
        return out


def max_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def block_join_rows(spark, since: int) -> int:
    """Output rows of the SimHash block self-join (join keys ``block_idx``,
    ``block``) in the SQL executions after execution id ``since``, read
    from the plan's SQL metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= since:
            continue
        values, it = {}, store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if "Join" not in node.name() or "block_idx" not in node.desc():
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows" and m.accumulatorId() in values:
                    total += int(values[m.accumulatorId()].replace(",", ""))
    return total


WORKLOADS = {w.name: w for w in (FeaturesJob, CurationNearDup)}
