"""Size-constrained recursive cluster breaking — the Spark re-grounding of the
reference's top-level query ``clusterbreak`` (R/clusterbreak.R:180-275).

Global shape (one pass over the corpus, SURVEY.md §3.3):

1. signatures (narrow pandas-UDF map, cached — seeds are frozen so
   recursion never needs to re-shingle);
2. LSH candidate pairs + verified agreement sims;
3. global type-7 quantile threshold (exact, via the zero-counting trick in
   threshold.py) -> edge set;
4. iterative connected components (the only unbounded-iteration shuffle);
5. per-component ``applyInPandas``: deterministic Louvain at resolution 1.05
   on the thresholded subgraph (Louvain decomposes over connected
   components, so per-component == the reference's global netcluster call),
   then the reference's recursion — size triage (size_min/size_max,
   R/clusterbreak.R:224-226), emit / filter / recurse with a *fresh local
   type-7 quantile per oversized community* (R/clusterbreak.R:246-254 — the
   "dynamic" part) — entirely inside one executor task per component, which
   mirrors the reference: it too recursed on an in-memory subgraph.

Labels are namespaced "{component}/{itr}.{cid}" — globally unique like the
reference's "itr.cid" (R/clusterbreak.R:234) but with per-component instead
of depth-first-global itr counters; the *partition* of rows into clusters is
what parity tests compare.

Rows with NULL signatures (caption shorter than k, no phash) are routed to
`filtered` with a metric instead of forming a fake sim=1 clique — the pinned
resolution of quirk Q2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..louvain import louvain, louvain_mod
from ..oracle import quantile_type7
from ..session import background
from .components import connected_components
from .lsh import candidate_pairs
from .signatures import add_signatures
from .threshold import (
    grouped_quantile_threshold,
    quantile_threshold,
    threshold_edges,
    zero_quantile_certain,
)

ASSIGN_SCHEMA = "image_id string, cluster_id string, status string"


def _local_break(ids, sigs: np.ndarray, first_threshold: float, cfg: DedupConfig,
                 first_m2: float | None = None,
                 extra_pairs: set | None = None):
    """Reference cluster_recursive on one component, in memory.

    ids: sorted member ids; sigs: (m, n_hash) uint32. Level 1 uses the
    *global* threshold AND the global Louvain null-model mass 2m
    (``first_m2``) — the reference's first netcluster call runs over the
    whole corpus, and modularity gains depend on the global 2m, so
    per-component runs only reproduce it when they share that constant.
    Deeper levels recompute a local type-7 quantile (which tightens as
    clusters shrink) and a local 2m, exactly like the reference's recursion
    on the subset matrix (R/clusterbreak.R:246-254).
    """
    out: list[tuple] = []
    counter = {"itr": 1}

    def sim_matrix(idx):
        s = sigs[idx]
        m = len(idx)
        sim = np.ones((m, m))
        for i in range(m):
            sim[i, i + 1 :] = (s[i + 1 :] == s[i]).mean(axis=1)
            sim[i + 1 :, i] = sim[i, i + 1 :]
        if extra_pairs:
            pos = {ids[g]: n for n, g in enumerate(idx)}
            for x, y in extra_pairs:
                px, py = pos.get(x), pos.get(y)
                if px is not None and py is not None:
                    sim[px, py] = sim[py, px] = 1.0
        return sim

    def recurse(idx, threshold, m2_total=None):
        itr = counter["itr"]
        if cfg.cluster_fn == "cc":
            # Pure connected-component assignment (reference cluster_fn
            # plugged with igraph components instead of cluster_louvain —
            # R/clusterbreak.R:186 pluggability): each lvl-1 group IS a
            # connected component of the thresholded edge set, so the whole
            # group is one cluster. No modularity refinement and no size_max
            # recursion (a component cannot be CC-split further); size_min
            # triage still applies. This is the parity/oracle tier — its
            # output partition is SQL-expressible (recursive-CTE
            # reachability), which the Louvain production path is not.
            status = "filtered" if len(idx) < cfg.size_min else "emitted"
            for i in idx:
                out.append((ids[i], f"{itr}.0" if status == "emitted" else None,
                            status))
            return
        if itr > cfg.max_itr:
            for i in idx:
                out.append((ids[i], None, "unconverged"))
            return
        sim = sim_matrix(idx)
        if threshold is None:
            iu = np.triu_indices(len(idx), k=1)
            threshold = quantile_type7(sim[iu], cfg.thresh_p)
        simz = sim.copy()
        simz[simz < threshold] = 0.0
        edges = []
        m = len(idx)
        for i in range(m):
            for j in range(i + 1, m):
                if simz[i, j] > 0:
                    edges.append((ids[idx[i]], ids[idx[j]], float(simz[i, j])))
        if cfg.cluster_fn == "louvain_mod":
            # reference resolution grid-search (R/clusterbreak.R:37-67),
            # pluggable via cluster_fn exactly like the reference's
            # clusterbreak(cluster_fn=louvain_mod) wiring
            memb = louvain_mod(
                [ids[i] for i in idx], edges,
                res=cfg.louvain_resolution,
                res_range_perc=cfg.res_range_perc, res_step=cfg.res_step,
                itr=cfg.res_itr, self_weight=1.0, m2_total=m2_total,
            )["cluster"]
        else:
            memb = louvain(
                [ids[i] for i in idx], edges,
                resolution=cfg.louvain_resolution, self_weight=1.0,
                m2_total=m2_total,
            )
        sizes: dict = {}
        for i in idx:
            sizes[memb[ids[i]]] = sizes.get(memb[ids[i]], 0) + 1
        big = {c for c, s in sizes.items() if s > cfg.size_max}
        small = {c for c, s in sizes.items() if s < cfg.size_min}
        for i in idx:
            c = memb[ids[i]]
            if c in small:
                out.append((ids[i], None, "filtered"))
            elif c not in big:
                out.append((ids[i], f"{itr}.{c}", "emitted"))
        for c in sorted(big):
            sub = [i for i in idx if memb[ids[i]] == c]
            counter["itr"] += 1
            recurse(sub, None)

    recurse(list(range(len(ids))), first_threshold, m2_total=first_m2)
    return out


def _refine_factory(cfg: DedupConfig, global_threshold: float,
                    global_m2: float | None = None):
    """Per-group exact reference recursion (applyInPandas). Groups at lvl=1
    (original CC components) inherit the *global* threshold and Louvain
    null-model mass; groups at lvl>1 (products of the distributed
    re-threshold rounds) start from a fresh local quantile — mirroring the
    reference, whose recursion recomputes sim + quantile per subset
    (R/clusterbreak.R:246-254)."""

    def refine_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id").reset_index(drop=True)
        comp = str(pdf["group_id"].iloc[0])
        lvl = int(pdf["lvl"].iloc[0])
        ids = pdf["image_id"].tolist()
        sigs = np.array(pdf["minhash"].tolist(), dtype=np.int64).astype(np.uint32)
        extra_pairs: set = set()
        if "xp" in pdf.columns:
            in_group = set(ids)
            for iid, ps in zip(pdf["image_id"], pdf["xp"]):
                if ps is None:
                    continue
                for p in ps:
                    if p in in_group:
                        extra_pairs.add((iid, p) if iid < p else (p, iid))
        if lvl == 1 and cfg.cluster_fn != "cc":
            # m2 consistency: global_m2 was summed over the *capped* global
            # edge set; the local recursion recomputes the *full*
            # within-component matrix. Swap this component's capped weight
            # for its full weight so hot-band chain capping can't starve the
            # null model (an all-identical clique would otherwise shatter
            # into singletons for the wrong reason).
            w_capped = float(pdf["w_capped"].iloc[0]) if "w_capped" in pdf else None
            m2 = global_m2
            if m2 is not None and w_capped is not None:
                cut = max(global_threshold, 1e-300)
                xrows: dict = {}
                if extra_pairs:  # merged weights: max(caption sim, 1.0)
                    posm = {d: n for n, d in enumerate(ids)}
                    for x, y in extra_pairs:
                        i2, j2 = sorted((posm[x], posm[y]))
                        xrows.setdefault(i2, []).append(j2)
                w_full = 0.0
                for i in range(len(ids) - 1):
                    row = (sigs[i + 1 :] == sigs[i]).mean(axis=1)
                    for j2 in xrows.get(i, ()):
                        row[j2 - i - 1] = 1.0
                    w_full += float(row[row >= cut].sum())
                m2 = m2 - 2.0 * w_capped + 2.0 * w_full
            res = _local_break(ids, sigs, global_threshold, cfg, first_m2=m2,
                               extra_pairs=extra_pairs)
        else:
            res = _local_break(ids, sigs, None, cfg, first_m2=None,
                               extra_pairs=extra_pairs)
        return pd.DataFrame(
            {
                "image_id": [r[0] for r in res],
                "cluster_id": [f"{comp}/{r[1]}" if r[1] else None for r in res],
                "status": [r[2] for r in res],
            }
        )

    def refine_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # one Python invocation handles a whole salt-bucket of components —
        # per-group applyInPandas overhead (~ms each) would serialize on
        # 10^5 tiny components at web scale
        outs = [refine_one(g) for _, g in pdf.groupby("group_id", sort=True)]
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
            {"image_id": [], "cluster_id": [], "status": []}
        )

    return refine_bucket


def _distributed_break(
    prs: DataFrame, groups: DataFrame, cfg: DedupConfig, local_max: int,
    max_rounds: int,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Distributed re-threshold recursion for groups too large for the
    in-memory Louvain recursion.

    Per round, for every oversized group: fresh per-group type-7 quantile
    over the group's full sim distribution (grouped_quantile_threshold — the
    exact semantic of the reference's per-subset re-threshold,
    R/clusterbreak.R:246-254), filter edges, split into connected
    components. Louvain refinement happens later, locally, once a group
    fits; CC here only *partitions* oversized groups (Louvain communities
    never span disconnected pieces). Groups that reach a fixpoint without
    shrinking below local_max are emitted with status 'emitted_unbroken'.

    groups: (group_id, image_id, lvl). Returns (small_groups, solo_rows,
    unbroken_rows, rounds_used); small_groups has the same schema as groups.
    """
    small_parts = []
    solo_parts = []
    unbroken_parts = []
    rounds = 0
    active = groups.withColumn("esc", F.lit(0))
    for rounds in range(1, max_rounds + 1):
        sizes = active.groupBy("group_id").agg(
            F.count("*").alias("sz"), F.max("esc").alias("esc")
        )
        # localCheckpoint: parts outlive the per-round persists below; without
        # cutting lineage every later action recomputes all earlier rounds
        # (exponential). At production scale these are the parquet stage
        # checkpoints (resume points).
        small_parts.append(
            active.join(sizes.where(F.col("sz") <= local_max).select("group_id"), "group_id")
            .select("group_id", "image_id", "lvl")
            .localCheckpoint()
        )
        big_sizes = sizes.where(F.col("sz") > local_max).persist()
        if big_sizes.isEmpty():
            big_sizes.unpersist()
            break
        member = active.drop("esc").join(big_sizes.select("group_id", "esc"), "group_id").persist()

        ga = member.select(F.col("image_id").alias("a"), "group_id", "lvl")
        gb = member.select(F.col("image_id").alias("b"), F.col("group_id").alias("gb"))
        pairs_g = (
            prs.join(ga, "a")
            .join(gb, "b")
            .where(F.col("group_id") == F.col("gb"))
            .select("group_id", "a", "b", "sim")
        ).persist()
        # normal groups: type-7 quantile over the FULL (zero-padded) subset
        # distribution; escalated groups (stuck at a zero threshold last
        # round): quantile over nonzero sims — the deep-recursion limit
        thr_parts = []
        for esc_val, inc0 in ((0, True), (1, False)):
            sz_e = big_sizes.where(F.col("esc") == esc_val).select("group_id", "sz")
            if not sz_e.isEmpty():
                pg_e = pairs_g.join(sz_e.select("group_id"), "group_id")
                thr_parts.append(
                    grouped_quantile_threshold(pg_e, sz_e, cfg.thresh_p, include_zeros=inc0)
                )
        thr_g = thr_parts[0]
        for t in thr_parts[1:]:
            thr_g = thr_g.unionAll(t)
        edges_g = (
            pairs_g.join(thr_g, "group_id")
            .where(F.col("sim") >= F.col("threshold"))
            .select("group_id", "a", "b")
        )
        subcomp, _ = connected_components(edges_g)
        relabeled = (
            member.join(subcomp, "image_id", "left")
            .withColumn(
                "new_group",
                F.when(
                    F.col("component").isNotNull(),
                    F.concat_ws("/", "group_id", "component"),
                ),
            )
        )
        # nodes that lost every edge at this level = singleton communities
        solo_parts.append(
            relabeled.where(F.col("component").isNull())
            .select("image_id", "lvl")
            .localCheckpoint()
        )
        nxt = relabeled.where(F.col("component").isNotNull()).select(
            F.col("new_group").alias("group_id"), "image_id",
            (F.col("lvl") + 1).alias("lvl"), F.col("esc").alias("parent_esc"),
            F.col("group_id").alias("pg"),
        )
        # fixpoint: a child identical in size to its parent did not break.
        # First time: retry the parent with the escalated (nonzero) quantile.
        # Second time (already escalated): emit unbroken.
        child_sz = nxt.groupBy("group_id").agg(F.count("*").alias("csz"))
        psz = big_sizes.select(F.col("group_id").alias("pg"), F.col("sz").alias("psz"))
        nxt2 = nxt.join(psz, "pg").join(child_sz, "group_id")
        unbroken_parts.append(
            nxt2.where((F.col("csz") == F.col("psz")) & (F.col("parent_esc") == 1))
            .select(F.col("pg").alias("group_id"), "image_id")
            .localCheckpoint()
        )
        retry = (
            nxt2.where((F.col("csz") == F.col("psz")) & (F.col("parent_esc") == 0))
            .select(F.col("pg").alias("group_id"), "image_id",
                    (F.col("lvl") - 1).alias("lvl"), F.lit(1).alias("esc"))
        )
        active = (
            nxt2.where(F.col("csz") < F.col("psz"))
            .select("group_id", "image_id", "lvl", F.lit(0).alias("esc"))
            .unionAll(retry)
            .localCheckpoint()  # eager: materialize before parents unpersist
        )
        member.unpersist()
        pairs_g.unpersist()
        big_sizes.unpersist()
        if active.isEmpty():
            break
    else:
        # max_rounds exhausted: emit what's left unbroken
        unbroken_parts.append(active.select("group_id", "image_id"))
        active = active.limit(0)
    # anything still active when the loop broke via isEmpty is gone; collect outputs
    small = small_parts[0]
    for p in small_parts[1:]:
        small = small.unionAll(p)
    schema_solo = "image_id string, lvl int"
    spark = prs.sparkSession
    solo = (
        solo_parts[0] if solo_parts else spark.createDataFrame([], schema_solo)
    )
    for p in solo_parts[1:]:
        solo = solo.unionAll(p)
    unb = (
        unbroken_parts[0]
        if unbroken_parts
        else spark.createDataFrame([], "group_id string, image_id string")
    )
    for p in unbroken_parts[1:]:
        unb = unb.unionAll(p)
    return small, solo, unb, rounds


def _zero_quantile(cfg: DedupConfig, n_valid: int) -> bool:
    """Zero-quantile shortcut: the LSH pair generator emits at most
    bands * n * max((cap-1)/2, chain_width) candidates (every other pair's
    sim is an exact 0 under r=1; an undercount under r>=2, which only adds
    zeros), so whenever the p-rank of the full n(n-1)/2 distribution
    provably lands inside the zero block, the reference quantile is 0.0 and
    the effective threshold is the configured floor. Then the floor can be
    pushed INTO the verify stage (caption_pairs), so sub-floor pairs are
    never persisted or shuffled downstream — at web scale this is always
    the taken path, exactly mirroring the documented max(quantile, floor)
    composition (R quantile semantics preserved verbatim below the cutoff)."""
    total = n_valid * (n_valid - 1) // 2
    m_ub = cfg.bands * n_valid * max((cfg.band_group_cap - 1) / 2, cfg.chain_width)
    return zero_quantile_certain(total, m_ub, cfg.thresh_p)


def caption_pairs(signatures: DataFrame, cfg: DedupConfig,
                  n_valid: int | None = None) -> DataFrame:
    """The caption tier's (a, b, sim) candidate pairs, as clusterbreak_spark
    thresholds them: the configured floor is pushed into the verify stage
    when the quantile is provably zero, and ``n_valid`` (the rows with a
    signature; counted when None) sizes the verify join's broadcast."""
    if n_valid is None:
        n_valid = signatures.where(F.col("minhash").isNotNull()).count()
    floor = cfg.min_edge_sim if _zero_quantile(cfg, n_valid) else 0.0
    return candidate_pairs(signatures, cfg, sim_floor=floor, n_rows_hint=n_valid)


def clusterbreak_spark(
    images: DataFrame,
    cfg: DedupConfig,
    signatures: DataFrame | None = None,
    pairs: DataFrame | None = None,
    local_max: int = 1500,
    max_distributed_rounds: int = 12,
    extra_edges: DataFrame | None = None,
    tier_overlap: bool = True,
) -> dict:
    """Full pipeline -> dict with clusters / filtered / metrics DataFrames.

    Returns keys: signatures, pairs, threshold, edges, components,
    assignments, clusters (image_id, cluster_id), filtered (image_id,
    reason), cc_rounds, distributed_rounds, n_valid, and cached (the frames
    this call persisted, for the caller to release).

    ``signatures`` / ``pairs``: precomputed add_signatures / caption_pairs
    output (the job's checkpointed stages); computed here when None.

    ``extra_edges``: optional (a, b) pairs from OTHER dedup tiers (pixel
    SimHash, caption-substring containment — the north rule's multi-signal
    union). They are merged as weight-1.0 edges into the thresholded caption
    edge set BEFORE connected components, so pixel-only / substring-only
    duplicates land in the same cluster as their caption-tier neighbors.
    Size constraints still apply afterwards: an oversized merged component
    is re-broken on caption similarity alone (extra edges carry no caption
    sim), and nodes whose captions yield no signature stay filtered —
    tier edges contribute connectivity, not signature mass.

    ``tier_overlap``: the tier DAG depends only on ``images``, so its
    (expensive: pixel decode + SimHash + PSNR verify, suffix sort) edge set
    is materialized on a background thread in scheduler pool "tier" while
    the caption stages (signatures -> pairs -> quantile) run, instead of
    being sequenced after them. Identical output (pinned by
    tests/test_tier_overlap.py); wall-clock only.
    """
    from pyspark import StorageLevel

    cache_lvl = getattr(StorageLevel, cfg.cache_storage)

    canon = tier_join = None
    if extra_edges is not None:
        canon = (
            extra_edges.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
        )
        if tier_overlap:
            # Tier overlap (round 4): sequencing the tier-edge eager
            # checkpoint after signatures/pairs/quantile put ~minutes of
            # images-only work on the critical path at bench scale. Kick its
            # canonicalized pair set off in the background (own FAIR pool)
            # so its tasks share slots with (and fill the idle gaps of) the
            # caption stages — the driver-sequenced quantile jobs, stage
            # tails, and Python-bound phases where JVM cores sit idle at high
            # core counts. The `valid` semi-joins stay in the caller's
            # thread below (they need the signature cache).
            tier_join = background(canon.localCheckpoint)

    sig = signatures if signatures is not None else add_signatures(images, cfg)
    sig = sig.persist(cache_lvl)
    valid = sig.where(F.col("minhash").isNotNull())
    n_valid = valid.count()
    null_rows = sig.where(F.col("minhash").isNull()).select(
        "image_id", F.lit("empty_shingle_set").alias("reason")
    )

    zero_quantile = _zero_quantile(cfg, n_valid)
    prs = pairs if pairs is not None else caption_pairs(sig, cfg, n_valid)
    prs = prs.persist(cache_lvl)
    if zero_quantile:
        thr = cfg.min_edge_sim
    else:
        thr = max(quantile_threshold(prs, n_valid, cfg.thresh_p), cfg.min_edge_sim)
    edges = threshold_edges(prs, thr)
    xtra = None
    if canon is not None:
        if tier_join is not None:
            canon = tier_join()
        xtra = (
            canon.select("a", "b", F.lit(1.0).alias("sim"))
            # tier edges only connect signature-bearing nodes: the refine
            # stage joins on `valid` signatures, so an empty-caption endpoint
            # would otherwise silently vanish from `clusters` while no longer
            # being reported in `filtered`
            .join(valid.select(F.col("image_id").alias("a")), "a", "left_semi")
            .join(valid.select(F.col("image_id").alias("b")), "b", "left_semi")
            # sever lineage: xtra and the caption edges both descend from
            # `sig`; unioning the two live plans and feeding the result into
            # CC's self-union star rounds trips a Spark 4 optimizer
            # attribute-resolution failure (NoSuchElementException: key not
            # found: src#...) inside the lazy localCheckpoint. The tier edge
            # set is small (verified candidates), so an eager cut is cheap —
            # and on the overlap path it also re-severs the `valid` lineage
            # the semi-joins just reintroduced.
            .localCheckpoint()
        )
        # merged-graph weights: max(caption sim, 1.0 for a tier edge) — tier
        # edges always survive thresholding (thr <= 1), and the SAME weights
        # feed wsum/comp_w below and the refine/distributed recursion, so
        # Louvain sees one consistent graph
        edges = (
            edges.select("a", "b", "sim")
            .unionByName(xtra)
            .groupBy("a", "b")
            .agg(F.max("sim").alias("sim"))
            .localCheckpoint()
        )

    comp, cc_rounds = connected_components(edges)
    comp = comp.persist(cache_lvl)

    # global Louvain mass: 2*(sum of kept edge weights) + the sim=1 self-loop
    # of every row in the reference's adjacency matrix (quirk Q6)
    wsum = edges.agg(F.sum("sim")).first()[0] or 0.0
    global_m2 = 2.0 * float(wsum) + 2.0 * float(n_valid)

    groups0 = comp.select(
        F.col("component").alias("group_id"), "image_id", F.lit(1).alias("lvl")
    )
    # fast path: when no component exceeds local_max (the common case at
    # healthy thresholds), skip the distributed re-threshold machinery — its
    # per-round fixed cost (sizes agg, isEmpty probes, localCheckpoints) is
    # pure serial latency that caps scaling efficiency on clean corpora
    max_comp = comp.groupBy("component").count().agg(F.max("count")).first()[0] or 0
    if max_comp <= local_max:
        small, d_rounds = groups0, 0
        spark_ = prs.sparkSession
        solo_distr = spark_.createDataFrame([], "image_id string, lvl int")
        unbroken = spark_.createDataFrame([], "group_id string, image_id string")
    else:
        prs_db = prs
        prs_db_persisted = False
        if zero_quantile and cfg.min_edge_sim > 0.0:
            # The pushed floor (caption_pairs, whether called here or by the
            # caller) stripped 0 < sim < floor pairs from prs, but
            # the reference recursion re-quantiles each oversized subset's
            # FULL sim distribution (R/clusterbreak.R:246-254) — treating the
            # dropped pairs as exact zeros would bias deep-level thresholds
            # low (ADVICE r01). Recompute unfloored pairs for just the
            # oversized components' members (a small slice of the corpus on
            # non-degenerate data; this path only runs when a component
            # exceeds local_max).
            big_ids = comp.join(
                comp.groupBy("component")
                .count()
                .where(F.col("count") > local_max)
                .select("component"),
                "component",
            ).select("image_id")
            sig_big = valid.join(big_ids, "image_id")
            n_big = sig_big.count()
            prs_db = candidate_pairs(
                sig_big, cfg, sim_floor=0.0, n_rows_hint=n_big
            ).persist(cache_lvl)
            prs_db_persisted = True
        if xtra is not None:
            # oversized merged components re-quantile over the SAME merged
            # weights (max of caption sim and tier 1.0) the CC stage saw
            prs_db = (
                prs_db.select("a", "b", "sim")
                .unionByName(xtra)
                .groupBy("a", "b")
                .agg(F.max("sim").alias("sim"))
            )
        small, solo_distr, unbroken, d_rounds = _distributed_break(
            prs_db, groups0, cfg, local_max, max_distributed_rounds
        )
        if prs_db_persisted:
            prs_db.unpersist()

    # per-component capped edge weight, for the lvl-1 m2 correction
    comp_w = (
        edges.join(comp.withColumnRenamed("image_id", "a"), "a")
        .groupBy("component")
        .agg(F.sum("sim").alias("w_capped"))
    ).withColumnRenamed("component", "group_id")
    if max_comp <= local_max:
        # fast path took no further reader of `prs`: materialize comp_w (its
        # last consumer) now and release the pair cache before the
        # Python-heavy refine stage. In the shared local-mode heap the ~GBs
        # of cached pairs otherwise sit in the old gen through the whole
        # applyInPandas stage, and the GC pressure they add is a *serial*
        # cost that couples stages and caps N-vs-4N scaling (BENCH.md); on a
        # real cluster this is executor-local storage memory with the same
        # benefit from early release.
        comp_w = comp_w.persist(cache_lvl)
        comp_w.count()
        prs.unpersist()
    grouped = (
        small.join(valid, "image_id")
        .join(comp_w, "group_id", "left")
        .fillna({"w_capped": 0.0})
    )
    if xtra is not None:
        # per-member tier-edge partner list, so the in-memory recursion can
        # max the signature sim matrix with the tier edges (weight 1.0) —
        # without this the refine stage would recompute caption-only sims
        # and Louvain would split tier-connected members straight back apart
        xp = (
            xtra.select(F.col("a").alias("image_id"), F.col("b").alias("partner"))
            .unionAll(
                xtra.select(F.col("b").alias("image_id"), F.col("a").alias("partner"))
            )
            .groupBy("image_id")
            .agg(F.sort_array(F.collect_list("partner")).alias("xp"))
        )
        grouped = grouped.join(xp, "image_id", "left")

    refine = _refine_factory(cfg, thr, global_m2=global_m2)
    n_buckets = max(cfg.shuffle_partitions * 8, 64)
    assigned = (
        grouped.withColumn(
            "bucket", F.pmod(F.xxhash64("group_id"), F.lit(n_buckets))
        )
        .groupBy("bucket")
        .applyInPandas(refine, ASSIGN_SCHEMA)
    )

    clusters = assigned.where(F.col("status").startswith("emitted")).select(
        "image_id", "cluster_id"
    )
    clusters = clusters.unionAll(
        unbroken.select(
            "image_id", F.concat(F.col("group_id"), F.lit("/unbroken")).alias("cluster_id")
        )
    )

    # singleton communities: no thresholded edge at all (never entered a
    # component), or stripped of edges during a distributed round
    singles = (
        valid.join(comp, "image_id", "left_anti")
        .select("image_id")
        .unionAll(solo_distr.select("image_id"))
    )
    if cfg.size_min <= 1:
        clusters = clusters.unionAll(
            singles.select("image_id", F.concat(F.lit("solo/"), "image_id").alias("cluster_id"))
        )
        single_filtered = None
    else:
        single_filtered = singles.select(
            "image_id", F.lit("singleton_below_size_min").alias("reason")
        )

    filtered = assigned.where(F.col("status") == "filtered").select(
        "image_id", F.lit("community_below_size_min").alias("reason")
    )
    filtered = filtered.unionAll(null_rows)
    if single_filtered is not None:
        filtered = filtered.unionAll(single_filtered)

    return {
        "signatures": sig,
        "pairs": prs,
        "threshold": thr,
        "edges": edges,
        "components": comp,
        "assignments": assigned,
        "clusters": clusters,
        "filtered": filtered,
        "cc_rounds": cc_rounds,
        "distributed_rounds": d_rounds,
        "n_valid": n_valid,
        # every frame this call may have persisted, dependents first; the
        # caller unpersists them once `clusters` is materialized
        "cached": [comp_w, comp, prs, sig],
    }
