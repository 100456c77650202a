"""Traced per-layer run: each layer's public function, called in turn on one
workload's input, with its Spark jobs tagged by `sc.setJobGroup(<layer>)`.

The layers run sequentially from the calling thread, so every job they start
carries the tag (the job's own tier threads would not). Each layer's output
is materialised inside its group, so the next layer's group holds only its
own work. Book-keeping actions (counts for the extra metrics) run in groups
named `<layer>.stats` and are not charged to the layer.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import sparkmetrics
from checks import failure_reason

LAYERS = ("signatures", "lsh", "simhash", "textops", "components",
          "clusterbreak", "consensus", "stages", "invariants")
LAYER_METRICS = ("wall_s", "executor_s", "gc_s", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "spark_jobs", "tasks",
                 "task_skew", "rows_out")
EXTRA_METRICS = {
    "lsh.pairs_per_row": "ratio",
    "simhash.candidates": "count",
    "simhash.verify_yield": "ratio",
    "textops.containment_pairs": "count",
    "textops.lcs_pairs": "count",
    "components.rounds": "count",
    "clusterbreak.distributed_rounds": "count",
    "clusterbreak.max_component": "count",
    "clusterbreak.unbroken_rows": "count",
    "consensus.max_cluster_size": "count",
    "stages.bytes_written_mb": "MB",
    "job.spark_jobs": "count",
    "job.executor_busy": "ratio",
    "job.tracing_overhead_s": "s",
}
_UNITS = {"wall_s": "s", "executor_s": "s", "gc_s": "s",
          "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
          "spark_jobs": "count", "tasks": "count", "task_skew": "ratio",
          "rows_out": "count"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    units = {f"{layer}.{m}": _UNITS[m] for layer in LAYERS for m in LAYER_METRICS}
    units.update(EXTRA_METRICS)
    return units


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.values: dict[str, float] = {name: 0.0 for name in metric_units()}
        self.failures: dict[str, str] = {}

    def layer(self, name: str, fn):
        """Run fn() -> (DataFrame, extras) under job group `name`; the frame
        is persisted and counted inside the group. Returns the frame, or
        None when the layer raised (recorded in self.failures)."""
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            df, extras = fn()
            df = df.persist()
            rows = df.count()
        except Exception as e:  # a failing layer is reported, the rest still run
            self.failures[name] = failure_reason(e)
            df, rows, extras = None, 0, {}
        wall = time.perf_counter() - t0
        m = sparkmetrics.jobs_metrics(self.sc, sparkmetrics.job_ids(self.sc, name))
        self.values.update({f"{name}.{k}": float(v) for k, v in m.items()})
        self.values[f"{name}.wall_s"] = wall
        self.values[f"{name}.rows_out"] = float(rows)
        for k, v in extras.items():
            self.values[f"{name}.{k}"] = float(v)
        return df

    def stats(self, layer: str, fn):
        self.sc.setJobGroup(f"{layer}.stats", f"{layer}.stats")
        return fn()


def trace_layers(tr: Tracer, images, cfg, job_args, work_dir: str) -> None:
    """Call every layer's public function once on `images`, with the job's
    config and parsed arguments. The tier layers run on every workload, so
    their cost on its corpus is measured, but their edges reach components
    and clusterbreak only when the workload's job runs that tier."""
    from dynaalign_spark.operators.clusterbreak import clusterbreak_spark
    from dynaalign_spark.operators.components import connected_components
    from dynaalign_spark.operators.consensus import cluster_representatives
    from dynaalign_spark.operators.lsh import candidate_pairs
    from dynaalign_spark.operators.signatures import add_signatures
    from dynaalign_spark.operators.simhash import (
        add_simhash, pixel_edges, row_invariant_violations, simhash_candidates)
    from dynaalign_spark.operators.threshold import (
        quantile_threshold, threshold_edges, zero_quantile_certain)
    from dynaalign_spark.stages import StageRunner
    from dynaalign_spark.textops import shared_substring_pairs, suffix_candidates

    n_rows = tr.stats("signatures", images.count)
    sig = tr.layer("signatures", lambda: (add_signatures(images, cfg), {}))
    prs = tr.layer("lsh", lambda: (candidate_pairs(sig, cfg), {}))
    tr.values["lsh.pairs_per_row"] = tr.values["lsh.rows_out"] / max(n_rows, 1)

    tier_edges = []
    px = tr.layer("simhash", lambda: (
        pixel_edges(images, cfg, verify_psnr=True).select("a", "b"), {}))
    cands = tr.stats("simhash", lambda: simhash_candidates(
        add_simhash(images, cfg), cfg).count())
    tr.values["simhash.candidates"] = float(cands)
    tr.values["simhash.verify_yield"] = (
        tr.values["simhash.rows_out"] / cands if cands else 0.0)
    if job_args.pixel_tier and px is not None:
        tier_edges.append(px)

    caps = images.select("image_id", "caption")
    parts = {}

    def substring():
        # the two substring-tier functions of jobs/dedup.py: whole-caption
        # containment and shared-region LCS
        parts["containment"] = suffix_candidates(
            caps, prefix_len=24, min_suffix=16, id_col="image_id",
            text_col="caption",
        ).select(F.col("contained").alias("a"),
                 F.col("container").alias("b")).persist()
        parts["lcs"] = shared_substring_pairs(
            caps, min_len=job_args.substring_min_len, id_col="image_id",
            text_col="caption",
        ).select("a", "b").persist()
        extras = {f"{k}_pairs": v.count() for k, v in parts.items()}
        both = parts["containment"].unionByName(parts["lcs"])
        return both.dropDuplicates(["a", "b"]), extras

    both = tr.layer("textops", substring)
    if job_args.substring_tier and both is not None:
        mode = job_args.substring_mode
        tier_edges.append(both if mode == "both"
                          else parts[mode].dropDuplicates(["a", "b"]))
    extra = None
    for edges in tier_edges:
        extra = edges if extra is None else extra.unionByName(edges)

    def threshold():
        # clusterbreak_spark's threshold: the configured floor when the
        # quantile is provably 0, else max(type-7 quantile, floor)
        n_valid = sig.where(F.col("minhash").isNotNull()).count()
        total = n_valid * (n_valid - 1) // 2
        m_ub = cfg.bands * n_valid * max((cfg.band_group_cap - 1) / 2,
                                         cfg.chain_width)
        if zero_quantile_certain(total, m_ub, cfg.thresh_p):
            return cfg.min_edge_sim
        return max(quantile_threshold(prs, n_valid, cfg.thresh_p),
                   cfg.min_edge_sim)

    cc_input = threshold_edges(prs, tr.stats("components", threshold)).select("a", "b")
    if extra is not None:
        # materialised first, as clusterbreak_spark materialises its merged
        # edge set: connected_components over the live union of caption and
        # tier edges fails plan resolution on Spark 4
        cc_input = tr.stats("components",
                            cc_input.unionByName(extra).localCheckpoint)

    def components():
        comp, rounds = connected_components(cc_input)
        return comp, {"rounds": rounds}

    tr.layer("components", components)

    res: dict = {}

    def clusterbreak():
        # tier edges are precomputed, so there is nothing to overlap; with
        # overlap off no job leaves this thread (and its job group)
        res.update(clusterbreak_spark(images, cfg, signatures=sig, pairs=prs,
                                      extra_edges=extra, tier_overlap=False))
        return res["clusters"], {"distributed_rounds": res["distributed_rounds"]}

    clusters = tr.layer("clusterbreak", clusterbreak)
    if clusters is None:
        return
    tr.values["clusterbreak.max_component"] = float(tr.stats(
        "clusterbreak", lambda: res["components"].groupBy("component").count()
        .agg(F.max("count")).first()[0] or 0))
    tr.values["clusterbreak.unbroken_rows"] = float(tr.stats(
        "clusterbreak", lambda: clusters.where(F.col("cluster_id").endswith("/unbroken"))
        .count()))
    tr.values["consensus.max_cluster_size"] = float(tr.stats(
        "consensus", lambda: clusters.groupBy("cluster_id").count()
        .agg(F.max("count")).first()[0] or 0))

    tr.layer("consensus", lambda: (cluster_representatives(
        clusters, images, signatures=sig, method=job_args.consensus), {}))

    stage_dir = os.path.join(work_dir, f"stages-{os.getpid()}")
    shutil.rmtree(stage_dir, ignore_errors=True)
    try:
        runner = StageRunner(tr.spark, stage_dir, resume=False,
                             config_fingerprint="perfbench")
        tr.layer("stages", lambda: (runner.run("clusters", lambda: clusters), {}))
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(os.path.join(stage_dir, "clusters"))
                      for f in files)
        tr.values["stages.bytes_written_mb"] = written / sparkmetrics.MB
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)

    tr.layer("invariants", lambda: (row_invariant_violations(
        images, clusters.join(images, "image_id"), cfg), {}))
