"""The multi-signal dedup tiers' edge builders, in one place.

Besides the caption MinHash tier, the north rule merges two more edge sets
into the cluster graph: PSNR-verified pixel SimHash pairs and caption
substring pairs (whole-caption containment, shared-region LCS, or both).
`tier_edges` is the single definition of those edge sets and their
constants; the job, the bench queries and the driver contract all take
their tier edges from here.

The builders are thunks, not DataFrames: `suffix_candidates` runs an eager
count when it is called, and callers that overlap the tiers with the
caption stages must make that call on their background thread.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dynaalign_spark.config import DedupConfig


def tier_edges(
    images: DataFrame,
    cfg: DedupConfig,
    *,
    pixel: bool,
    substring_mode: str | None,
    min_len: int = 32,
) -> dict[str, Callable[[], DataFrame]]:
    """-> {stage name: zero-argument builder of that tier's (a, b) edges},
    in merge order: "pixel_edges" when ``pixel``, then "substring_edges"
    when ``substring_mode`` is "containment", "lcs" or "both" (None = no
    substring tier). ``min_len`` is the shared-region length of the lcs
    mode."""
    from dynaalign_spark.operators.simhash import pixel_edges
    from dynaalign_spark.textops import shared_substring_pairs, suffix_candidates

    out: dict[str, Callable[[], DataFrame]] = {}
    if pixel:
        # PSNR-verified (the north-rule per-row invariant): unverified
        # simhash candidates on smooth synthetic images weld 76% of the
        # bench corpus into one mega-component (false near-dups) and
        # trigger 4 distributed-break rounds — verified edges are 12x
        # fewer, the components stay honest, and the query runs 2-3x faster
        out["pixel_edges"] = lambda: pixel_edges(
            images, cfg, verify_psnr=True).select("a", "b")
    if substring_mode is not None:
        if substring_mode not in ("containment", "lcs", "both"):
            raise ValueError(f"unknown substring mode: {substring_mode}")
        caps = images.select("image_id", "caption")

        def substring_edges() -> DataFrame:
            parts = []
            if substring_mode in ("containment", "both"):
                parts.append(
                    suffix_candidates(
                        caps, prefix_len=24, min_suffix=16,
                        id_col="image_id", text_col="caption",
                    ).select(F.col("contained").alias("a"),
                             F.col("container").alias("b"))
                )
            if substring_mode in ("lcs", "both"):
                parts.append(
                    shared_substring_pairs(
                        caps, min_len=min_len,
                        id_col="image_id", text_col="caption",
                    ).select("a", "b")
                )
            return union_edges(parts).dropDuplicates(["a", "b"])

        out["substring_edges"] = substring_edges
    return out


def union_edges(frames: Iterable[DataFrame]) -> DataFrame | None:
    """unionByName of edge frames in order; None when there are none."""
    out = None
    for df in frames:
        out = df if out is None else out.unionByName(df)
    return out


def build_all(builders: dict[str, Callable[[], DataFrame]]) -> DataFrame | None:
    """Build every tier in order and union the edges (the extra_edges
    argument of clusterbreak_spark)."""
    return union_edges(fn() for fn in builders.values())
