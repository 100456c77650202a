"""Tier-overlap scheduling (round 4): `clusterbreak_spark` materializes the
tier-edge set (pixel SimHash / substring containment) on a background thread
in a separate scheduler pool while the caption stages (signatures -> pairs ->
quantile) run, instead of sequencing it after them. The tier DAG depends only
on `images`, so overlap changes WALL TIME ONLY — these tests pin that the
cluster output is identical with overlap on and off, on a corpus where the
tier edges are load-bearing (pixel-only and substring-only planted dups).
jobs/dedup.py runs its tier stages through the same background-stage helper
(session.background); the last test covers its failure path."""

import threading
import time

import numpy as np
import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from dynaalign_spark import tiers
from dynaalign_spark.config import PARITY
from dynaalign_spark.fixtures import (
    encode_ppm,
    images_df,
    make_images,
    phash64,
)
from dynaalign_spark.operators.clusterbreak import clusterbreak_spark

PIXEL_CAP_A = "quiet harbor lanterns drifting over the winter tide tonight"
PIXEL_CAP_B = "amber canyon foxes gather beneath the sandstone arches today"
SUB_INNER = "the glass observatory above the clouds"
SUB_OUTER = f"panorama from {SUB_INNER} at dawn with migrating cranes"


@pytest.fixture(scope="module")
def tier_images(spark):
    rows, _ = make_images(n_clusters=6, seed=13)
    rng = np.random.Generator(np.random.PCG64(99))
    pix = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)

    def img_row(image_id, pixels, caption):
        return dict(
            image_id=image_id, bytes=bytearray(encode_ppm(pixels)),
            w=32, h=32, fmt="ppm", caption=caption, phash=phash64(pixels),
        )

    rows.append(img_row("pxdup000", pix, PIXEL_CAP_A))
    rows.append(img_row("pxdup001", pix, PIXEL_CAP_B))
    p2 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    p3 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    rows.append(img_row("subdup00", p2, SUB_INNER))
    rows.append(img_row("subdup01", p3, SUB_OUTER))
    return images_df(spark, rows).cache()


def _tier_edges(images, cfg):
    """The pixel + containment tiers, from the builder the job and the bench
    use."""
    return tiers.build_all(tiers.tier_edges(
        images, cfg, pixel=True, substring_mode="containment"))


def _run(images, cfg, overlap):
    res = clusterbreak_spark(
        images, cfg, extra_edges=_tier_edges(images, cfg),
        tier_overlap=overlap,
    )
    out = {r["image_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    for key in ("signatures", "pairs", "components"):
        res[key].unpersist()
    return out

def test_overlap_matches_sequential_exactly(spark, tier_images):
    """Overlap on vs off: byte-identical cluster assignments (labels
    included — the computation is identical; only job scheduling differs)."""
    cfg = PARITY.with_(size_min=1)
    seq = _run(tier_images, cfg, overlap=False)
    ovl = _run(tier_images, cfg, overlap=True)
    assert ovl == seq
    # and the tier edges were load-bearing in what we compared
    assert seq["pxdup000"] == seq["pxdup001"]
    assert seq["subdup00"] == seq["subdup01"]


def test_overlap_background_failure_propagates(spark, tier_images):
    """A failing tier DAG must raise in the caller (not hang / not be
    swallowed by the background thread)."""
    cfg = PARITY.with_(size_min=1)
    bad = tier_images.select(
        F.col("image_id").alias("a"),
        (F.raise_error(F.lit("tier boom"))).alias("b"),
    )
    with pytest.raises(Exception, match="tier boom"):
        clusterbreak_spark(tier_images, cfg, extra_edges=bad, tier_overlap=True)


def test_job_tier_failure_joins_every_tier_then_raises(
        spark, tier_images, tmp_path, monkeypatch):
    """jobs/dedup.py, the other call site of the background-stage helper:
    when one tier's stage fails, main raises that error, writes no manifest
    for the failed stage, and has joined the other tier's thread first
    (every tier is joined before the first error in pixel -> substring
    order is raised)."""
    import jobs.dedup as job

    def tier_threads():
        return {t for t in threading.enumerate()
                if isinstance(t, InheritableThread) and t.is_alive()}

    real = tiers.tier_edges
    out = tmp_path / "out"

    def failing_pixel_slow_substring(images, cfg, **kw):
        builders = real(images, cfg, **kw)
        sub = builders["substring_edges"]

        def slow_substring():
            # hold this tier until the caption stages are done: the failed
            # pixel tier is then joined while this one still runs, and a job
            # that raised on the first error would return before it ends
            deadline = time.time() + 300
            while (not (out / "pairs.manifest.json").exists()
                   and time.time() < deadline):
                time.sleep(0.1)
            time.sleep(1)
            return sub()

        return {
            "pixel_edges": lambda: images.select(
                F.col("image_id").alias("a"),
                F.raise_error(F.lit("pixel tier boom")).alias("b")),
            "substring_edges": slow_substring,
        }

    monkeypatch.setattr(tiers, "tier_edges", failing_pixel_slow_substring)
    src = str(tmp_path / "images.parquet")
    tier_images.write.parquet(src)
    argv = ["--input", src, "--output", str(out), "--config", "parity",
            "--set", "size_min=1", "--pixel-tier", "--substring-tier",
            "--no-resume"]
    before = tier_threads()
    with pytest.raises(Exception, match="pixel tier boom"):
        job.main(argv)
    assert not (out / "pixel_edges.manifest.json").exists()
    assert (out / "substring_edges.manifest.json").exists()
    assert tier_threads() <= before
