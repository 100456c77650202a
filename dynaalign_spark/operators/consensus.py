"""Cluster consensus / representatives — the Spark twin of the reference's
``clusterconsensus`` (R/clusterbreak.R:309-320): per cluster, a consensus
caption and an exemplar member.

The reference pipes each cluster through DECIPHER::AlignSeqs (external MSA
black box, DESCRIPTION:22-23) then ConsensusSequence; this module ships
both tiers (SURVEY.md §2 #25): ``method="majority"`` is the alignment-free
variant — per-position majority vote at the median caption length (ties ->
lexicographically smallest char), plus a medoid exemplar = the member
maximizing total signature agreement to its cluster (deterministic
tie-break by image_id); ``method="msa"`` aligns first via the from-scratch
center-star MSA (operators/msa.py) and votes per aligned column, exemplar
= the alignment medoid.

One salt-bucketed ``applyInPandas`` stage (VERDICT r01 #8): clusters are
bounded by size_max so each fits trivially in memory, but at 10^5-10^6
clusters a per-cluster Python invocation serializes on per-group overhead —
so, exactly like the refine stage (clusterbreak), one invocation handles a
whole hash bucket of clusters and loops groups in-process."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle import cluster_consensus

CONSENSUS_SCHEMA = (
    "cluster_id string, consensus_caption string, exemplar_image_id string, size long"
)


def _consensus_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("image_id").reset_index(drop=True)
    caps = pdf["caption"].tolist()
    cons = cluster_consensus(caps)
    if "minhash" in pdf.columns and pdf["minhash"].notna().all() and len(pdf) > 1:
        sigs = np.array(pdf["minhash"].tolist(), dtype=np.int64)
        # integer agreement COUNTS, not means: argmax is invariant under the
        # positive 1/n_hash scaling, and exact int sums cannot reorder on
        # float rounding — which keeps the medoid bit-reproducible by the
        # driver's integer-arithmetic SQL oracle
        agree = (sigs[:, None, :] == sigs[None, :, :]).sum(axis=2)
        np.fill_diagonal(agree, 0)
        scores = agree.sum(axis=1)
        best = int(np.argmax(scores))  # argmax takes first (smallest id) on ties
    else:
        best = 0
    return pd.DataFrame(
        {
            "cluster_id": [str(pdf["cluster_id"].iloc[0])],
            "consensus_caption": [cons],
            "exemplar_image_id": [pdf["image_id"].iloc[best]],
            "size": [len(pdf)],
        }
    )


def _consensus_group_msa(pdf: pd.DataFrame) -> pd.DataFrame:
    """Align-first consensus (reference clusterconsensus shape,
    R/clusterbreak.R:309-320): center-star MSA over the cluster's captions
    (msa.py) then column-majority vote; exemplar = the alignment medoid
    (the center). Deterministic: members sorted by image_id, first-argmax
    tie-breaks throughout."""
    from ..operators.msa import center_star_consensus

    pdf = pdf.sort_values("image_id").reset_index(drop=True)
    caps = ["" if c is None else str(c) for c in pdf["caption"].tolist()]
    cons, center = center_star_consensus(caps)
    return pd.DataFrame(
        {
            "cluster_id": [str(pdf["cluster_id"].iloc[0])],
            "consensus_caption": [cons],
            "exemplar_image_id": [pdf["image_id"].iloc[max(center, 0)]],
            "size": [len(pdf)],
        }
    )


def _consensus_bucket(pdf: pd.DataFrame, group_fn=None) -> pd.DataFrame:
    group_fn = group_fn or _consensus_group
    outs = [
        group_fn(g) for _, g in pdf.groupby("cluster_id", sort=True)
    ]
    return (
        pd.concat(outs, ignore_index=True)
        if outs
        else pd.DataFrame(
            {
                "cluster_id": pd.Series(dtype=object),
                "consensus_caption": pd.Series(dtype=object),
                "exemplar_image_id": pd.Series(dtype=object),
                "size": pd.Series(dtype="int64"),
            }
        )
    )


def cluster_representatives(
    clusters: DataFrame, images: DataFrame, signatures: DataFrame | None = None,
    n_buckets: int = 256, method: str = "majority",
) -> DataFrame:
    """clusters (image_id, cluster_id) + images -> one row per cluster:
    (cluster_id, consensus_caption, exemplar_image_id, size).

    ``method="majority"`` is the alignment-free tier (per-position vote at
    the median length + signature-agreement medoid); ``method="msa"`` is
    the align-first tier — center-star MSA then column vote (msa.py), the
    reference's AlignSeqs -> ConsensusSequence shape. ``signatures`` feeds
    the majority tier's medoid only and is ignored when ``method="msa"``
    (the MSA center is the alignment medoid). The shuffle key is a
    hash bucket of cluster_id (``n_buckets`` groups), NOT cluster_id
    itself — many clusters per Python invocation."""
    if method not in ("majority", "msa"):
        raise ValueError(f"unknown consensus method: {method}")
    group_fn = _consensus_group_msa if method == "msa" else _consensus_group

    def bucket_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _consensus_bucket(pdf, group_fn)

    joined = clusters.join(images.select("image_id", "caption"), "image_id")
    if signatures is not None and method == "majority":
        joined = joined.join(
            signatures.select("image_id", "minhash"), "image_id", "left"
        )
    return (
        joined.withColumn(
            "bucket", F.pmod(F.xxhash64("cluster_id"), F.lit(n_buckets))
        )
        .groupBy("bucket")
        .applyInPandas(bucket_fn, CONSENSUS_SCHEMA)
    )
