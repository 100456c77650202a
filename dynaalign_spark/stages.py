"""Stage checkpointing: every pipeline stage writes parquet + a metrics/
lineage manifest; a re-run skips stages whose outputs exist (resume-from-
checkpoint, north rule). Parquet writes are atomic via Spark's _SUCCESS
marker — a killed run leaves no half-stage visible.

The manifest records rows, partitions, per-partition row counts (the
"per-partition lineage" evidence: which partition produced how many rows,
under which spark partition id), elapsed seconds, and the stage's config
fingerprint so a config change invalidates the checkpoint.

`dedup_clusters` is the one stage list from images to clusters."""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class StageRunner:
    """``out_dir=None`` is the in-memory mode: each stage is
    ``fn().localCheckpoint()``, with no files, manifests, resume or log (the
    bench's runner, which times the stages rather than keeping them)."""

    def __init__(self, spark, out_dir: str | None, resume: bool = True,
                 config_fingerprint: str = ""):
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.fp = config_fingerprint
        if out_dir is not None:
            os.makedirs(out_dir, exist_ok=True)
        self.log: list[dict] = []

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.out_dir, f"{name}.manifest.json")

    def _fresh(self, name: str, path: str) -> dict | None:
        """The stage's manifest when its checkpoint can be resumed from."""
        mp = self._manifest_path(name)
        if not (self.resume and _success(path) and os.path.exists(mp)):
            return None
        with open(mp) as f:
            man = json.load(f)
        return man if man.get("config_fingerprint") == self.fp else None

    def run(self, name: str, fn) -> DataFrame:
        """fn() -> DataFrame; materialized to parquet once, then always read
        back from parquet (lineage cut = the resume point)."""
        if self.out_dir is None:
            return fn().localCheckpoint()
        path = os.path.join(self.out_dir, name)
        man = self._fresh(name, path)
        if man is not None:
            self.log.append({"stage": name, "skipped": True, "rows": man["rows"]})
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = fn()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        per_part = [
            {"partition": r["pid"], "rows": r["rows"]}
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .orderBy("pid")
            .collect()
        ]
        man = {
            "stage": name,
            "rows": sum(p["rows"] for p in per_part),
            "partitions": len(per_part),
            "per_partition_rows": per_part,
            "elapsed_s": round(time.time() - t0, 3),
            "config_fingerprint": self.fp,
            "ts": time.time(),
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(man, f, indent=1)
        self.log.append({"stage": name, "skipped": False, **{k: man[k] for k in ("rows", "elapsed_s")}})
        return out

    def write_summary(self, extra: dict | None = None) -> None:
        with open(os.path.join(self.out_dir, "run_summary.json"), "w") as f:
            json.dump({"stages": self.log, **(extra or {})}, f, indent=1)


def dedup_clusters(
    images: DataFrame,
    cfg: DedupConfig,
    runner: StageRunner,
    tier_builders: dict[str, Callable[[], DataFrame]],
) -> dict[str, DataFrame]:
    """The stages from images to clusters -> {"signatures", "pairs",
    "clusters"}, as the runner materialized them.

    The tier stages (``tier_builders``, from tiers.tier_edges) depend only
    on ``images``, so they run in the background (session.background)
    concurrently with signatures -> pairs. Every tier is joined, then the
    first error is raised in tier order (pixel, then substring). The tier
    edges are materialized by then, so clusterbreak's own overlap is off.
    What clusterbreak_spark persisted is released once `clusters` is
    materialized or has failed: no cache outlives the call."""
    from . import tiers
    from .operators.clusterbreak import caption_pairs, clusterbreak_spark
    from .operators.signatures import add_signatures
    from .session import background

    tier_joins = [
        background(lambda name=name, fn=fn: runner.run(name, fn))
        for name, fn in tier_builders.items()
    ]
    sig = runner.run("signatures", lambda: add_signatures(images, cfg))
    prs = runner.run("pairs", lambda: caption_pairs(sig, cfg))

    tier_out, errors = [], []
    for join in tier_joins:
        try:
            tier_out.append(join())
        except BaseException as e:
            errors.append(e)
    if errors:
        raise errors[0]
    extra = tiers.union_edges(tier_out)

    res: dict = {}

    def _cluster():
        res.update(clusterbreak_spark(images, cfg, signatures=sig, pairs=prs,
                                      extra_edges=extra, tier_overlap=False))
        return res["clusters"]

    try:
        clusters = runner.run("clusters", _cluster)
    finally:
        for df in res.get("cached", ()):
            df.unpersist()
    return {"signatures": sig, "pairs": prs, "clusters": clusters}
