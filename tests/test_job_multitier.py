"""Multi-signal tier merge (VERDICT r01 #4): pixel-SimHash and caption-
substring edges must actually reach the flagship job's cluster output —
planted pixel-only duplicates (identical image, unrelated captions) and
substring-only duplicates land in one cluster; resume stays byte-identical
with the tier flags on."""

import json
import os

import numpy as np
import pytest

from dynaalign_spark.fixtures import (
    encode_ppm,
    images_df,
    make_images,
    phash64,
)

PIXEL_CAP_A = "quiet harbor lanterns drifting over the winter tide tonight"
PIXEL_CAP_B = "amber canyon foxes gather beneath the sandstone arches today"
SUB_INNER = "the glass observatory above the clouds"
SUB_OUTER = f"panorama from {SUB_INNER} at dawn with migrating cranes"
# LCS-only dup (VERDICT r02 #8): a long shared region with DIFFERENT prefixes
# and suffixes — invisible to containment, and the non-shared majority keeps
# k-gram jaccard below threshold so the caption MinHash tier can't merge them
LCS_SHARED = "the ancient lighthouse keeper counted seventeen storms that winter"
LCS_CAP_A = (f"westward beyond the shoals {LCS_SHARED} before the long calm "
             "season finally returned to the bay")
LCS_CAP_B = (f"{LCS_SHARED} while gulls wheeled over the empty grain barges "
             "drifting far downriver past the mill")


@pytest.fixture(scope="module")
def multitier_input(spark, tmp_path_factory):
    rows, _ = make_images(n_clusters=6, seed=13)
    rng = np.random.Generator(np.random.PCG64(99))
    pix = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)

    def img_row(image_id, pixels, caption):
        return dict(
            image_id=image_id, bytes=bytearray(encode_ppm(pixels)),
            w=32, h=32, fmt="ppm", caption=caption, phash=phash64(pixels),
        )

    # pixel-only dups: same pixels, unrelated captions
    rows.append(img_row("pxdup000", pix, PIXEL_CAP_A))
    rows.append(img_row("pxdup001", pix, PIXEL_CAP_B))
    # substring-only dups: different pixels, contained caption
    p2 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    p3 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    rows.append(img_row("subdup00", p2, SUB_INNER))
    rows.append(img_row("subdup01", p3, SUB_OUTER))
    # LCS-only dups: shared 67-char region, different prefixes AND suffixes
    p4 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    p5 = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    rows.append(img_row("lcsdup00", p4, LCS_CAP_A))
    rows.append(img_row("lcsdup01", p5, LCS_CAP_B))
    path = str(tmp_path_factory.mktemp("mt") / "images.parquet")
    images_df(spark, rows).write.parquet(path)
    return path


def _clusters(spark, out):
    return {
        r["image_id"]: r["cluster_id"]
        for r in spark.read.parquet(os.path.join(out, "clusters")).collect()
    }


def test_tiers_merge_into_flagship_clusters(spark, multitier_input, tmp_path):
    import jobs.dedup as job

    out = str(tmp_path / "out")
    argv = ["--input", multitier_input, "--output", out, "--config", "parity",
            "--set", "size_min=1", "--pixel-tier", "--substring-tier"]
    assert job.main(argv) == 0
    cl = _clusters(spark, out)
    assert cl["pxdup000"] == cl["pxdup001"], "pixel edge not merged"
    assert cl["subdup00"] == cl["subdup01"], "substring edge not merged"

    # resume: second run skips every stage and reproduces the assignments
    assert job.main(argv) == 0
    with open(os.path.join(out, "run_summary.json")) as f:
        s2 = json.load(f)
    assert all(st["skipped"] for st in s2["stages"])
    assert {st["stage"] for st in s2["stages"]} >= {"pixel_edges", "substring_edges"}
    assert _clusters(spark, out) == cl


def test_dedup_clusters_in_memory_matches_parquet_runner(
        spark, multitier_input, tmp_path, monkeypatch):
    """dedup_clusters, the stage list the job and bench.py share, gives the
    same clusters on the job's parquet StageRunner and on the bench's
    in-memory one (pixel + substring tiers on), and the in-memory runner
    writes no files."""
    from pyspark.sql.readwriter import DataFrameWriter

    from dynaalign_spark import tiers
    from dynaalign_spark.config import PARITY
    from dynaalign_spark.stages import StageRunner, dedup_clusters

    cfg = PARITY.with_(size_min=1)
    images = spark.read.parquet(multitier_input)

    def clusters(runner):
        builders = tiers.tier_edges(images, cfg, pixel=True,
                                    substring_mode="containment")
        out = dedup_clusters(images, cfg, runner, builders)["clusters"]
        return {(r["image_id"], r["cluster_id"]) for r in out.collect()}

    on_disk = clusters(StageRunner(spark, str(tmp_path / "out"), resume=False))

    def no_writes(*a, **kw):
        raise AssertionError("the in-memory runner wrote parquet")

    monkeypatch.setattr(DataFrameWriter, "parquet", no_writes)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    assert clusters(StageRunner(spark, None)) == on_disk
    assert not os.listdir(cwd)


def test_lcs_substring_mode_connects_shared_region_dups(spark, multitier_input,
                                                        tmp_path):
    """VERDICT r02 #8: the LCS tier must be reachable from the shipped job.
    The planted lcsdup pair shares a 67-char region but has different
    prefixes and suffixes — containment mode provably cannot pair it (neither
    caption is a substring of the other; suffix_candidates verifies true
    containment with a JVM `contains`). The caption tier COULD pair it under
    parity's bare thresh_p=0.8 quantile (any planted shared region lands in
    the top 80% of candidate similarities), so min_edge_sim=0.45 isolates the
    substring tier: the pair's k=4 jaccard is 0.298 < 0.45 while the true
    make_images dup pairs sit ~0.8+, and extra_edges bypass the floor."""
    import jobs.dedup as job

    base = ["--input", multitier_input, "--config", "parity",
            "--set", "size_min=1", "--set", "min_edge_sim=0.45",
            "--substring-tier"]

    out_c = str(tmp_path / "containment")
    assert job.main(base + ["--output", out_c,
                            "--substring-mode", "containment"]) == 0
    cl_c = _clusters(spark, out_c)
    assert cl_c["lcsdup00"] != cl_c["lcsdup01"], (
        "containment mode unexpectedly merged the LCS-only pair — fixture no "
        "longer isolates the LCS tier")

    out_l = str(tmp_path / "lcs")
    assert job.main(base + ["--output", out_l, "--substring-mode", "lcs"]) == 0
    cl_l = _clusters(spark, out_l)
    assert cl_l["lcsdup00"] == cl_l["lcsdup01"], "LCS edge not merged"
    # a contained caption >= min_len chars is itself a shared region, so the
    # containment pair stays merged under lcs mode too
    assert cl_l["subdup00"] == cl_l["subdup01"]


def test_extra_edges_are_what_connects_pixel_dups(spark):
    """Control at the operator level: with captions sharing NO k-gram (fully
    disjoint alphabets — no LSH candidate can form), the caption tier alone
    keeps the pixel dups apart; passing the pixel edge via ``extra_edges``
    joins them. Proves the merge is what connects them."""
    from dynaalign_spark.config import PARITY
    from dynaalign_spark.operators.clusterbreak import clusterbreak_spark

    rng = np.random.Generator(np.random.PCG64(4))
    pix = rng.integers(0, 255, size=(32, 32, 3), dtype=np.uint8)
    # planted captions over character sets disjoint from the lowercase-letter
    # vocab (digits / symbols) — they can share NO k-gram with anything, so
    # the caption tier provably cannot produce a candidate pair for them.
    # The surrounding corpus keeps the global Louvain mass 2m realistic: in a
    # 2-row corpus the reference's gamma=1.05 self-loop modularity correctly
    # prefers singletons even at sim 1.0 (the documented allsame behavior).
    rows, _ = make_images(n_clusters=5, seed=31)
    rows.append(
        dict(image_id="a0", bytes=bytearray(encode_ppm(pix)), w=32, h=32,
             fmt="ppm", caption="0123 1230 2301 3012 0132", phash=phash64(pix)),
    )
    rows.append(
        dict(image_id="b0", bytes=bytearray(encode_ppm(pix)), w=32, h=32,
             fmt="ppm", caption="!@#$ @#$! #$!@ $!@# !#@$", phash=phash64(pix)),
    )
    images = images_df(spark, rows)
    cfg = PARITY.with_(size_min=1)
    alone = {r["image_id"]: r["cluster_id"]
             for r in clusterbreak_spark(images, cfg)["clusters"].collect()}
    assert alone["a0"] != alone["b0"]
    edge = spark.createDataFrame([("a0", "b0")], "a string, b string")
    merged = {
        r["image_id"]: r["cluster_id"]
        for r in clusterbreak_spark(images, cfg, extra_edges=edge)[
            "clusters"
        ].collect()
    }
    assert merged["a0"] == merged["b0"]


def test_plots_flag_writes_viz_artifacts(spark, multitier_input, tmp_path):
    """--plots ships the reference workflow's final viz step (clusterbreak ->
    clusterconsensus -> consensusplot / plot_similarity_matrix) from the job
    CLI: both PNGs exist, are valid, and are byte-identical across a resume
    re-run (viz is deterministic on identical consensus rows)."""
    import jobs.dedup as job

    out = str(tmp_path / "out")
    argv = ["--input", multitier_input, "--output", out, "--config", "parity",
            "--set", "size_min=1", "--plots"]
    assert job.main(argv) == 0
    cons = os.path.join(out, "plots", "consensus.png")
    simp = os.path.join(out, "plots", "similarity.png")
    for p in (cons, simp):
        with open(p, "rb") as f:
            assert f.read(8) == b"\x89PNG\r\n\x1a\n", p
    first = (open(cons, "rb").read(), open(simp, "rb").read())
    assert job.main(argv) == 0  # resume: all stages skipped, same bytes
    assert (open(cons, "rb").read(), open(simp, "rb").read()) == first
