"""LSH banding + candidate-pair generation (replaces the reference's dense
all-pairs loop, src/minHash.cpp:160-178, with a ~linear band self-join).

Band keys: slice the minhash array into (bands x rows_per_band), hash each
slice with xxhash64 (JVM-side, whole-stage codegen). Pairs are generated by
an equi self-join on (band_id, band_hash) with canonical ordering a < b
(halves the work and dedups — the i<j loop of the reference).

rows_per_band=1 (parity mode): a pair is a candidate iff it agrees on >= 1
signature position, i.e. iff its agreement sim > 0 — the candidate set is
then *exactly* the reference's post-threshold edge support (any threshold
derived from a quantile is >= 1/n_hash or 0; either way edges subset
candidates). rows_per_band>=2 (scale mode): fewer candidates, hotter bands
pruned.

Skew: band-group sizes are counted first; groups above ``band_group_cap``
(degenerate keys — the all-identical-caption hot band, FIXTURES.md
images_allsame) switch from all-pairs to sorted chain pairing (each member
linked to its next ``chain_width`` neighbors). Chains preserve component
connectivity for the CC stage while bounding fan-out to cap * chain_width;
the lost intra-group pairs only affect edge weights inside a group that is
one clique anyway. The small-group path relies on AQE skew-join splitting
for residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .signatures import agreement_sim_col

# uint32 minhash component (held as long) -> int32, shifted by -2^31.
# Bijective, so pairwise equality — all the verify join needs — survives,
# at half the shuffle bytes. A bare cast("array<int>") would throw
# CAST_OVERFLOW under ANSI mode (Spark 4 default) for components > INT_MAX,
# which short captions (few shingles => min over few hashes) routinely hit.
_MH32 = "transform(minhash, x -> cast(x - 2147483648 as int))"


def band_keys(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(image_id, band_id, band_hash); NULL signatures dropped (quirk Q2).

    r=1: the band key IS the raw signature component (band_id from
    posexplode) — no hashing at all, and key equality is *exactly*
    component equality, which is what makes count-based agreement exact
    (see candidate_pairs). r>=2: xxhash64 over the slice.
    """
    b, r = cfg.bands, cfg.rows_per_band
    src = signatures.where(F.col("minhash").isNotNull())
    if r == 1:
        return src.select(
            "image_id", F.posexplode("minhash").alias("band_id", "band_hash")
        )
    slices = F.array(
        *[F.xxhash64(F.lit(i), F.slice("minhash", i * r + 1, r)) for i in range(b)]
    )
    return src.select(
        "image_id", F.posexplode(slices).alias("band_id", "band_hash")
    )


def candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig,
    sim_floor: float = 0.0, n_rows_hint: int | None = None,
) -> DataFrame:
    """-> (a, b, sim) distinct candidate pairs with verified agreement sim.

    Plan shape (ONE wide shuffle on the band key, then narrow stages):
    band explode -> groupBy(band key).collect_list(sorted ids) -> JVM array
    comprehension emits within-group pairs (all i<j pairs for groups up to
    ``band_group_cap``; sorted chain pairs with ``chain_width`` successors
    for hot groups — connectivity-preserving skew cap) -> explode ->
    dropDuplicates -> two id-joins fetch signatures -> JVM zip_with
    agreement. Compared to a band self-join, the collect_list form shuffles
    the corpus once instead of three times and makes the skew cap a pure
    array expression instead of a window.

    Verify-join payload engineering (the whale at scale): minhash values are
    uint32, so the join sides shift each component by -2^31 and store it as
    array<int> (a bijection, so equality is preserved; halves the bytes — a
    plain cast would raise CAST_OVERFLOW under Spark 4 ANSI mode whenever a
    short caption leaves a component above INT_MAX), and when the corpus is
    small enough to fit an executor
    (``n_rows_hint`` <= cfg.sig_broadcast_max) the signature sides are
    broadcast — the 2x pair-count shuffle of signature arrays disappears,
    which is the single largest I/O in the pipeline. Above the cutoff it
    stays a shuffled hash join; at 10^12 rows the production layout is
    signatures bucketed by image_id so the fetch is co-located.

    ``sim_floor`` > 0 drops pairs below the floor inside the verify stage
    (callers use it when the global threshold is provably the floor — see
    clusterbreak's zero-quantile shortcut), shrinking what downstream
    persists and joins.
    """
    bands = band_keys(signatures, cfg)
    keys = ["band_id", "band_hash"]
    cap, cw = cfg.band_group_cap, cfg.chain_width
    groups = (
        bands.groupBy(*keys)
        .agg(F.sort_array(F.collect_list("image_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    all_pairs = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x as a, y as b))))"
    )
    chain_pairs = (
        f"flatten(transform(ids, (x, i) -> "
        f"transform(slice(ids, i + 2, {cw}), y -> struct(x as a, y as b))))"
    )
    pair_col = F.when(F.size("ids") <= cap, F.expr(all_pairs)).otherwise(
        F.expr(chain_pairs)
    )
    pairs_raw = groups.select(F.explode(pair_col).alias("p")).select("p.a", "p.b")

    # Count-based agreement (r=1 only): with one signature component per
    # band and the raw component as the band key, a pair collides in band h
    # iff sig_a[h] == sig_b[h] — so the number of UNCAPPED bands that emit
    # the pair IS its agreement count over those bands, and
    # sim = count / n_hash is exact (the reference's signature-agreement
    # similarity, src/minHash.cpp:160-178). The pair-dedup shuffle the exact
    # path already paid becomes the aggregation, and the signature re-fetch
    # join — the largest I/O in the pipeline, plus its serial driver-side
    # broadcast build below sig_broadcast_max — disappears for every pair
    # the hot-band cap never touched. "Touched" must be judged per ENDPOINT,
    # not per emission: a pair can agree in a capped band that never emitted
    # it (chain pairing emits only sort-adjacent members), which would
    # silently undercount. But any such hidden agreement puts both endpoints
    # inside that capped group — so routing every pair with an endpoint in
    # ANY capped group to the exact signature verify join is conservative-
    # correct, and the count branch (neither endpoint capped anywhere) has
    # all its agreeing bands uncapped = all-pairs-emitted = counted. The
    # capped-id set is tiny on non-degenerate corpora (hot bands only), so
    # Catalyst/AQE broadcasts the routing joins; on the degenerate
    # all-identical corpus it is corpus-sized and a shuffled join is the
    # right plan anyway.
    if cfg.rows_per_band == 1:
        flagged = groups.select(
            F.explode(pair_col).alias("p"),
            (F.size("ids") > cap).alias("capped"),
        ).select("p.a", "p.b", "capped")
        agg = flagged.groupBy("a", "b").agg(
            F.count(F.when(~F.col("capped"), 1)).alias("cnt"),
        )
        capped_ids = (
            groups.where(F.size("ids") > cap)
            .select(F.explode("ids").alias("image_id"))
            .distinct()
        )
        agg = (
            agg.join(
                capped_ids.select(
                    F.col("image_id").alias("a"), F.lit(True).alias("a_capped")
                ),
                "a", "left",
            )
            .join(
                capped_ids.select(
                    F.col("image_id").alias("b"), F.lit(True).alias("b_capped")
                ),
                "b", "left",
            )
            .withColumn(
                "touched",
                F.coalesce("a_capped", F.lit(False))
                | F.coalesce("b_capped", F.lit(False)),
            )
        )
        exact = agg.where(~F.col("touched")).select(
            "a", "b", (F.col("cnt") / F.lit(float(cfg.n_hash))).alias("sim")
        )
        if sim_floor > 0.0:
            exact = exact.where(F.col("sim") >= F.lit(float(sim_floor)))
        capped_pairs = agg.where(F.col("touched")).select("a", "b")
        sig32c = signatures.where(F.col("minhash").isNotNull()).select(
            "image_id", F.expr(_MH32).alias("mh32")
        )
        ver = (
            capped_pairs.join(
                sig32c.select(F.col("image_id").alias("a"), F.col("mh32").alias("sig_a")), "a"
            )
            .join(
                sig32c.select(F.col("image_id").alias("b"), F.col("mh32").alias("sig_b")), "b"
            )
            .select("a", "b", agreement_sim_col("sig_a", "sig_b", cfg.n_hash).alias("sim"))
        )
        if sim_floor > 0.0:
            ver = ver.where(F.col("sim") >= F.lit(float(sim_floor)))
        return exact.unionAll(ver)

    sig32 = signatures.where(F.col("minhash").isNotNull()).select(
        "image_id", F.expr(_MH32).alias("mh32")
    )
    use_bcast = n_rows_hint is not None and n_rows_hint <= cfg.sig_broadcast_max
    if use_bcast:
        # broadcast the BASE, then rename per side: the two joins share one
        # canonicalized BroadcastExchange (ReusedExchange), so the relation
        # is built and held once, not twice
        sig32 = F.broadcast(sig32)
    sig_a = sig32.select(F.col("image_id").alias("a"), F.col("mh32").alias("sig_a"))
    sig_b = sig32.select(F.col("image_id").alias("b"), F.col("mh32").alias("sig_b"))

    def verify(p):
        out = (
            p.join(sig_a, "a")
            .join(sig_b, "b")
            .select("a", "b", agreement_sim_col("sig_a", "sig_b", cfg.n_hash).alias("sim"))
        )
        if sim_floor > 0.0:
            out = out.where(F.col("sim") >= F.lit(float(sim_floor)))
        return out

    # dedup BEFORE verify: high-sim pairs collide in many of the b bands
    # (expected b*s^2 matches), so verifying the raw stream would multiply
    # the agreement work several-fold — the ~20B/row (a,b) dedup shuffle is
    # far cheaper than that (measured: raw-verify cost +37% wall at 3.2M)
    return verify(pairs_raw.dropDuplicates(["a", "b"]))
