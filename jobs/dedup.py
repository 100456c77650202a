"""The shippable dedup job (north rule: `spark-submit --py-files dist/engine.zip
jobs/dedup.py --input ... --output ...`).

Pipeline: images parquet/Iceberg -> dynaalign_spark.stages.dedup_clusters,
the stage list bench.py also runs (MinHash signatures -> LSH candidate pairs
∪ the optional pixel-SimHash / caption-substring tier edges -> threshold ->
connected components + size-constrained cluster breaking -> clusters) ->
filtered -> per-cluster consensus + medoid exemplar -> per-row invariant
audit. Tiers: --pixel-tier, --substring-tier with --substring-mode
containment / lcs / both.

Every stage is parquet-checkpointed with a metrics/lineage manifest
(dynaalign_spark.stages.StageRunner); a re-run resumes after the last
complete stage. Kill it anywhere, run the same command, get the same bytes.

Usage:
  spark-submit --py-files dist/engine.zip jobs/dedup.py \
      --input /data/images --output /data/dedup_out \
      --config scale --pixel-tier --no-resume
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dynaalign_spark import tiers
from dynaalign_spark.config import PARITY, SCALE
from dynaalign_spark.operators.consensus import cluster_representatives
from dynaalign_spark.operators.simhash import row_invariant_violations
from dynaalign_spark.session import get_spark
from dynaalign_spark.stages import StageRunner, dedup_clusters


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="images table: parquet path or catalog table name "
                        "(e.g. lake.images -> Iceberg when configured)")
    p.add_argument("--output", required=True, help="output/checkpoint directory")
    p.add_argument("--config", default="scale", choices=["parity", "scale"])
    p.add_argument("--set", action="append", default=[],
                   help="config override key=value (repeatable)")
    p.add_argument("--pixel-tier", action="store_true",
                   help="also run the SimHash pixel tier and merge its edges")
    p.add_argument("--substring-tier", action="store_true",
                   help="also run the caption-substring tier and merge its "
                        "edges (see --substring-mode)")
    p.add_argument("--substring-mode", default="containment",
                   choices=["containment", "lcs", "both"],
                   help="containment: whole-caption-inside-another "
                        "(suffix_candidates); lcs: shared region >= "
                        "substring_min_len chars via the distributed "
                        "generalized suffix array (shared_substring_pairs) — "
                        "catches dups whose captions share a long region but "
                        "differ at both ends; both: union")
    p.add_argument("--substring-min-len", type=int, default=32,
                   help="minimum shared-region length for --substring-mode "
                        "lcs/both")
    p.add_argument("--consensus", default="majority",
                   choices=["majority", "msa"],
                   help="per-cluster consensus tier: 'majority' = "
                        "alignment-free per-position vote (cheap), 'msa' = "
                        "center-star MSA then column vote (the reference's "
                        "AlignSeqs->ConsensusSequence shape; operators/msa.py)")
    p.add_argument("--plots", action="store_true",
                   help="write <output>/plots/{consensus.png,similarity.png} "
                        "(reference consensusplot / plot_similarity_matrix, "
                        "headless twins) — driver-side viz over the per-"
                        "cluster consensus rows; skipped with a warning when "
                        "the cluster count exceeds viz.MAX_VIZ_ROWS")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def build_config(args):
    cfg = PARITY if args.config == "parity" else SCALE
    overrides = {}
    for kv in args.set:
        k, v = kv.split("=", 1)
        cur = getattr(cfg, k)
        overrides[k] = type(cur)(v) if not isinstance(cur, bool) else v in ("1", "true")
    return cfg.with_(**overrides) if overrides else cfg


def main(argv=None):
    args = parse_args(argv)
    cfg = build_config(args)
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app="dynaalign-dedup", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    fp = hashlib.sha256(
        json.dumps({k: str(v) for k, v in vars(cfg).items()}, sort_keys=True).encode()
        + args.input.encode()
        + (b"px" if args.pixel_tier else b"")
        + (f"sub:{args.substring_mode}:{args.substring_min_len}".encode()
           if args.substring_tier else b"")
        # consensus method is part of the config fingerprint: switching
        # --consensus must invalidate the checkpointed representatives
        # stage, not resume past it
        + f"cons:{args.consensus}".encode()
    ).hexdigest()[:16]
    runner = StageRunner(spark, args.output, resume=not args.no_resume,
                         config_fingerprint=fp)

    from dynaalign_spark.io import read_images

    images = read_images(spark, args.input)

    # the library's stage list: signatures, pairs and the tier stages, then
    # clusters, each with its own checkpoint and manifest
    builders = tiers.tier_edges(
        images, cfg, pixel=args.pixel_tier,
        substring_mode=args.substring_mode if args.substring_tier else None,
        min_len=args.substring_min_len,
    )
    staged = dedup_clusters(images, cfg, runner, builders)
    sig, clusters = staged["signatures"], staged["clusters"]

    def _filtered():
        # recompute cheap filtered set relative to emitted clusters
        return (
            images.select("image_id")
            .join(clusters, "image_id", "left_anti")
            .select("image_id", F.lit("filtered_or_below_size_min").alias("reason"))
        )

    runner.run("filtered", _filtered)

    reps = runner.run(
        "representatives",
        lambda: cluster_representatives(
            clusters, images, signatures=sig, method=args.consensus
        ),
    )

    runner.run(
        "invariant_violations",
        lambda: row_invariant_violations(
            images, clusters.join(images, "image_id"), cfg
        ),
    )
    # every count comes from the stage manifests (add_signatures keeps one
    # row per image, representatives one per cluster)
    rows = {st["stage"]: st["rows"] for st in runner.log}
    n_viol = rows["invariant_violations"]

    if args.plots:
        # the reference workflow's final step (clusterconsensus ->
        # consensusplot / plot_similarity_matrix); viz is driver-side on the
        # one-row-per-cluster consensus frame, never on the full corpus
        from dynaalign_spark import viz

        rep_rows = reps.select("cluster_id", "consensus_caption").collect() \
            if rows["representatives"] <= viz.MAX_VIZ_ROWS else None
        if rep_rows is None:
            print(f"--plots skipped: >{viz.MAX_VIZ_ROWS} clusters "
                  "(viz is a test-scale artifact)", file=sys.stderr)
        elif len(rep_rows) >= 2:
            plots_dir = os.path.join(args.output, "plots")
            os.makedirs(plots_dir, exist_ok=True)
            names = [r["cluster_id"] for r in rep_rows]
            seqs = [r["consensus_caption"] for r in rep_rows]
            viz.consensusplot(
                names, seqs, path=os.path.join(plots_dir, "consensus.png"))
            dist, kept = viz.minhash_r_local(seqs, k=2, n_hash=50)
            viz.plot_similarity_matrix(
                1.0 - dist, path=os.path.join(plots_dir, "similarity.png"))

    runner.write_summary(
        {
            "input": args.input,
            "config": args.config,
            "config_fingerprint": fp,
            "n_images": rows["signatures"],
            "n_clustered": rows["clusters"],
            "n_filtered": rows["filtered"],
            "n_clusters": rows["representatives"],
            "invariant_violations": n_viol,
        }
    )
    print(json.dumps({"ok": n_viol == 0, "out": args.output, "stages": runner.log}))
    if owns_session:
        spark.stop()
    return 0 if n_viol == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
