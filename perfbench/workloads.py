"""Benchmark workloads: job flags and seeded, cached inputs.

Each workload is one set of `jobs/dedup.py` flags plus a generator that
makes its input table from the seed. Inputs are cached as parquet under the
work directory, keyed by workload, rows and seed; the job receives only the
parquet path. Planted truth (image_id -> true cluster) is cached beside it
as JSON for the recall/precision check.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

# Shared by every workload: the bench config (SCALE banding, clusters of up
# to 50 members, singletons kept as clusters).
CONFIG_FLAGS = ("--config", "scale", "--set", "size_max=50", "--set", "size_min=1")
SIZE_MAX = 50


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    flags: tuple[str, ...]  # jobs/dedup.py flags on top of CONFIG_FLAGS
    generator: str          # "make_images" (planted truth) | "skewed"

    @property
    def has_truth(self) -> bool:
        return self.generator == "make_images"

    def job_flags(self) -> list[str]:
        return [*CONFIG_FLAGS, *self.flags]

    def stages(self) -> list[str]:
        """The job's StageRunner stages in the order they complete."""
        tiers = [stage for flag, stage in (("--pixel-tier", "pixel_edges"),
                                           ("--substring-tier", "substring_edges"))
                 if flag in self.flags]
        return ["signatures", "pairs", *tiers, "clusters", "filtered",
                "representatives", "invariant_violations"]


WORKLOADS = {
    "caption": Workload(
        name="caption", rows=1000, flags=("--consensus", "majority"),
        generator="make_images"),
    "multitier": Workload(
        name="multitier", rows=200,
        flags=("--pixel-tier", "--substring-tier", "--substring-mode", "both",
               "--consensus", "msa"),
        generator="make_images"),
    # 45,000 of 50,000 rows share one caption: the hot group is far above the
    # clusterbreak local_max (1,500) and cannot be broken, so the consensus
    # stage is handed a 45,000-member cluster and fails. Known defect; the
    # size is not reduced to hide it.
    "skew": Workload(
        name="skew", rows=50_000, flags=("--consensus", "majority"),
        generator="skewed"),
}


def _exact_rows(rows: list[dict], truth: list[dict], n: int) -> tuple[list, list] | None:
    """Trim a make_images corpus to exactly n rows, keeping its mix: 70% from
    the planted clusters (in order, so at most the last one is cut short)
    and 30% singletons. None when the corpus is too small."""
    is_single = [t["true_cluster"].startswith("s") for t in truth]
    clustered = [i for i, s in enumerate(is_single) if not s]
    singles = [i for i, s in enumerate(is_single) if s]
    n_single = n - int(n * 0.7)
    keep = clustered[: n - n_single] + singles[:n_single]
    if len(keep) != n:
        return None
    return [rows[i] for i in keep], [truth[i] for i in keep]


def make_corpus(n_rows: int, seed: int) -> tuple[list[dict], list[dict]]:
    """make_images corpus with exactly n_rows rows and its planted truth.
    Row counts per planted cluster vary with the seed, so the cluster count
    grows until the corpus is big enough to trim."""
    from dynaalign_spark.fixtures import make_images

    n_clusters = max(8, n_rows // 4)
    while True:
        trimmed = _exact_rows(*make_images(n_clusters=n_clusters, seed=seed), n_rows)
        if trimmed is not None:
            return trimmed
        n_clusters *= 2


def write_parquet(rows: list[dict], path: str, partitions: int) -> None:
    """Rows in the images-table schema, written with pyarrow as `partitions`
    round-robin part files. No Spark job runs, so the session is exactly as
    warm after a cache miss as after a hit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ])
    os.makedirs(path)
    for i in range(partitions):
        part = rows[i::partitions]
        cols = {f.name: [r[f.name] for r in part] for f in schema}
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def input_ids(path: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["image_id"]).column(0).to_pylist()


def input_paths(work_dir: str, wl: Workload, seed: int) -> tuple[str, str]:
    key = f"{wl.name}_r{wl.rows}_s{seed}"
    base = os.path.join(work_dir, "inputs", key)
    return base + ".parquet", base + ".truth.json"


def ensure_input(spark, work_dir: str, wl: Workload, seed: int,
                 partitions: int) -> tuple[str, dict | None, float]:
    """-> (parquet path, truth or None, generation seconds; 0.0 on a cache
    hit). Writes are staged and renamed, so an interrupted run leaves no
    half-written cache entry. Only the skew corpus (10^4+ rows) is
    generated with Spark."""
    path, truth_path = input_paths(work_dir, wl, seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        truth = None
        if wl.has_truth:
            with open(truth_path) as f:
                truth = json.load(f)
        return path, truth, 0.0
    t0 = time.perf_counter()
    tmp = path + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    truth = None
    if wl.generator == "make_images":
        rows, planted = make_corpus(wl.rows, seed)
        truth = {t["image_id"]: t["true_cluster"] for t in planted}
        write_parquet(rows, tmp, partitions)
    else:
        from dynaalign_spark.fixtures import generate_images_skewed

        generate_images_skewed(spark, wl.rows, seed=seed).repartition(
            partitions).write.parquet(tmp)
    if truth is not None:
        with open(truth_path + ".tmp", "w") as f:
            json.dump(truth, f)
        os.replace(truth_path + ".tmp", truth_path)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, truth, time.perf_counter() - t0

