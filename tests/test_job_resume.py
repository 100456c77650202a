"""Job-level tests: consensus operator parity, and the resume contract —
run the CLI job twice against the same output dir; the second run must skip
completed stages and reproduce byte-identical cluster assignments
(SURVEY.md §5.2 item 5)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dynaalign_spark import oracle
from dynaalign_spark.config import PARITY
from dynaalign_spark.fixtures import images_df, make_images
from dynaalign_spark.operators.clusterbreak import clusterbreak_spark
from dynaalign_spark.operators.consensus import cluster_representatives


@pytest.fixture(scope="module")
def small_images_path(spark, tmp_path_factory):
    rows, _ = make_images(n_clusters=8, seed=3)
    path = str(tmp_path_factory.mktemp("imgs") / "images.parquet")
    images_df(spark, rows).write.parquet(path)
    return path


def test_cluster_representatives_matches_oracle(spark):
    rows, _ = make_images(n_clusters=6, seed=9)
    images = images_df(spark, rows)
    res = clusterbreak_spark(images, PARITY.with_(size_min=1))
    reps = cluster_representatives(res["clusters"], images, signatures=res["signatures"])
    got = {r["cluster_id"]: r for r in reps.collect()}
    clusters = {}
    for r in res["clusters"].collect():
        clusters.setdefault(r["cluster_id"], []).append(r["image_id"])
    caps = {r["image_id"]: r["caption"] for r in rows}
    assert set(got) == set(clusters)
    for cid, members in clusters.items():
        expect = oracle.cluster_consensus([caps[m] for m in sorted(members)])
        assert got[cid]["consensus_caption"] == expect
        assert got[cid]["exemplar_image_id"] in members
        assert got[cid]["size"] == len(members)


def _assert_summary_counts_are_manifest_rows(out, summary):
    """run_summary.json's counts are the stage manifests' row counts, on a
    fresh run and on a resumed one (no recount jobs)."""
    def rows(stage):
        with open(os.path.join(out, f"{stage}.manifest.json")) as f:
            return json.load(f)["rows"]

    for st in summary["stages"]:
        assert st["rows"] == rows(st["stage"]), st
    assert summary["n_images"] == rows("signatures")
    assert summary["n_clustered"] == rows("clusters")
    assert summary["n_filtered"] == rows("filtered")
    assert summary["n_clusters"] == rows("representatives")
    assert summary["invariant_violations"] == rows("invariant_violations")


def test_job_runs_and_resumes(spark, small_images_path, tmp_path):
    """First run computes all stages; second run skips them and the clusters
    output is identical."""
    import jobs.dedup as job

    out = str(tmp_path / "out")
    rc = job.main(["--input", small_images_path, "--output", out,
                   "--config", "parity", "--set", "size_min=1"])
    assert rc == 0
    first = {
        (r["image_id"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(out, "clusters")).collect()
    }
    with open(os.path.join(out, "run_summary.json")) as f:
        s1 = json.load(f)
    assert s1["invariant_violations"] == 0
    assert all(not st["skipped"] for st in s1["stages"])
    _assert_summary_counts_are_manifest_rows(out, s1)

    rc2 = job.main(["--input", small_images_path, "--output", out,
                    "--config", "parity", "--set", "size_min=1"])
    assert rc2 == 0
    with open(os.path.join(out, "run_summary.json")) as f:
        s2 = json.load(f)
    assert all(st["skipped"] for st in s2["stages"])
    _assert_summary_counts_are_manifest_rows(out, s2)
    assert {k: v for k, v in s2.items() if k != "stages"} == {
        k: v for k, v in s1.items() if k != "stages"}
    second = {
        (r["image_id"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(out, "clusters")).collect()
    }
    assert first == second
    # manifests carry per-partition lineage
    with open(os.path.join(out, "signatures.manifest.json")) as f:
        man = json.load(f)
    assert man["rows"] > 0 and len(man["per_partition_rows"]) >= 1


def test_job_leaves_no_cached_frames(spark, small_images_path, tmp_path):
    """Every frame the job's clusterbreak stage persists is released before
    main returns: no CacheManager entry outlives the run."""
    import jobs.dedup as job

    spark.catalog.clearCache()
    assert job.main(["--input", small_images_path, "--output",
                     str(tmp_path / "out"), "--config", "parity",
                     "--set", "size_min=1"]) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_job_pairs_stage_is_clusterbreak_pair_plan(spark, tmp_path):
    """The job's pairs stage is the pair plan clusterbreak_spark runs inline,
    including the noise floor pushed into verify when the quantile is
    provably zero (band_group_cap=4 on ~600 rows makes it so)."""
    import jobs.dedup as job
    from dynaalign_spark.config import SCALE
    from dynaalign_spark.operators.clusterbreak import _zero_quantile
    from dynaalign_spark.operators.lsh import candidate_pairs

    rows, _ = make_images(n_clusters=90, seed=5)
    path = str(tmp_path / "images.parquet")
    images_df(spark, rows).write.parquet(path)
    out = str(tmp_path / "out")
    assert job.main(["--input", path, "--output", out, "--config", "scale",
                     "--set", "band_group_cap=4"]) == 0

    cfg = SCALE.with_(band_group_cap=4)
    images = spark.read.parquet(path)
    res = clusterbreak_spark(images, cfg)
    assert _zero_quantile(cfg, res["n_valid"])
    inline = {tuple(r) for r in res["pairs"].select("a", "b", "sim").collect()}
    unfloored = candidate_pairs(res["signatures"], cfg).where(
        F.col("sim") < cfg.min_edge_sim).count()
    for df in res["cached"]:
        df.unpersist()
    staged = {tuple(r) for r in spark.read.parquet(
        os.path.join(out, "pairs")).select("a", "b", "sim").collect()}
    assert unfloored > 0  # the floor removes pairs on this input
    assert staged == inline


def test_job_config_change_invalidates_checkpoint(spark, small_images_path, tmp_path):
    import jobs.dedup as job

    out = str(tmp_path / "out2")
    job.main(["--input", small_images_path, "--output", out,
              "--config", "parity", "--set", "size_min=1"])
    rc = job.main(["--input", small_images_path, "--output", out,
                   "--config", "parity", "--set", "size_min=2"])
    assert rc == 0
    with open(os.path.join(out, "run_summary.json")) as f:
        s = json.load(f)
    assert all(not st["skipped"] for st in s["stages"])


def test_job_consensus_msa_flag(spark, small_images_path, tmp_path):
    """--consensus msa produces center-star representatives (matching the
    in-memory kernel) and its fingerprint differs from the majority run's,
    so switching methods recomputes instead of resuming past the stage."""
    import jobs.dedup as job
    from dynaalign_spark.operators.msa import center_star_consensus

    out = str(tmp_path / "out_msa")
    rc = job.main(["--input", small_images_path, "--output", out,
                   "--config", "parity", "--set", "size_min=1",
                   "--consensus", "msa"])
    assert rc == 0
    reps = {
        r["cluster_id"]: (r["consensus_caption"], r["exemplar_image_id"])
        for r in spark.read.parquet(
            os.path.join(out, "representatives")).collect()
    }
    clusters = {}
    for r in spark.read.parquet(os.path.join(out, "clusters")).collect():
        clusters.setdefault(r["cluster_id"], []).append(r["image_id"])
    caps = {
        r["image_id"]: r["caption"]
        for r in spark.read.parquet(small_images_path).collect()
    }
    assert set(reps) == set(clusters)
    for cid, members in clusters.items():
        members = sorted(members)
        cons, center = center_star_consensus([caps[m] for m in members])
        assert reps[cid] == (cons, members[max(center, 0)])

    # same output dir, method switched back to majority -> fingerprint
    # mismatch must invalidate the chain (full recompute, no skips)
    rc2 = job.main(["--input", small_images_path, "--output", out,
                    "--config", "parity", "--set", "size_min=1"])
    assert rc2 == 0
    with open(os.path.join(out, "run_summary.json")) as f:
        s2 = json.load(f)
    assert all(not st["skipped"] for st in s2["stages"])
