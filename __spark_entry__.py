"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship MinHash dedup-cluster pipeline on the
sf0.001 ``documents`` table. ``queries()`` exposes one callable per
implemented operator from SURVEY.md §2 (+ the training-pipeline extensions);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every SQL-expressible
one — including murmur3 MinHash signatures (pure-SQL murmur twin), the
winnowing/SimHash rolling hashes, the full integer-lattice pixel SimHash
dedup chain (byte-level decode -> block sums -> inlined integer hyperplanes
-> Hamming -> integer PSNR -> reachability), connected components
(recursive-CTE reachability), IVF top-k (inlined k-means centroid
constants), and the Louvain production partition (committed golden of the
seeded deterministic run, tests/golden/louvain_clusters_sf001.json) — every
driver query is value-checked at sf0.01. Data-dependent oracles (IVF
centroids, the Louvain golden) follow DYNA_ORACLE_SF_DIR and degrade to the
rows-only check on any other corpus.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dynaalign_spark import annsearch, rpath, textops, tiers  # noqa: E402
from dynaalign_spark.config import PARITY, SCALE  # noqa: E402
from dynaalign_spark.operators.clusterbreak import clusterbreak_spark  # noqa: E402
from dynaalign_spark.operators.lsh import candidate_pairs  # noqa: E402
from dynaalign_spark.operators.signatures import add_signatures  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_as_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the images-table shape (caption tier only; no pixels)."""
    return _docs(spark, sf_dir).select(
        F.format_string("doc%08d", F.col("doc_id")).alias("image_id"),
        F.col("text").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash k-shingle -> LSH bands -> quantile threshold -> CC
    -> Louvain clusterbreak over sf0.001 documents; returns cluster
    assignments (image_id, cluster_id)."""
    images = _docs_as_images(spark, "/root/testdata/sf0.001")
    res = clusterbreak_spark(images, PARITY.with_(size_max=50, size_min=1))
    return res["clusters"]


# --------------------------------------------------------------------------
# queries / oracle_sql
# --------------------------------------------------------------------------

K = 4          # reference default shingle size (src/minHash.cpp:119)
JK = 6         # k-gram size for the exact-Jaccard tier
JTHRESH = 0.5  # near-dup edge threshold for the exact tier
# Hot-shingle doc-frequency cap for the exact tier (VERDICT r03 #1): shingles
# appearing in > JMAXDF docs are stop-shingles — dropped from the membership
# sets BEFORE the self-join, which bounds per-key fan-out at <= cap^2/2 pairs
# per shingle at any corpus size. Value chosen empirically on the driver
# corpus: 400 preserves the uncapped j>=0.5 pair set EXACTLY at both sf0.01
# (max df 398 -> nothing dropped) and sf0.1 (the ~2.6k super-hot df~3800
# stop-shingles dropped; same 256 pairs, 4x faster), while an aggressive cap
# (<=200) shrinks unions enough to inflate weak pairs past the threshold
# (6.3k pairs at sf0.1) — measured r4. inter/union counts are over the capped
# sets (standard stop-shingle semantics); the DuckDB oracle applies the
# identical cap. The LSH-banded form (textops.ngram_jaccard_pairs_lsh)
# remains the pair-GENERATION scale path past ~10^8 docs.
JMAXDF = 400


def q_shingle_counts(spark, sf_dir):
    return textops.shingle_counts(_docs(spark, sf_dir), K)


def q_vocab_top(spark, sf_dir):
    return (
        textops.vocab(_docs(spark, sf_dir), K)
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(100)
    )


def _jaccard_pairs(spark, sf_dir):
    return textops.ngram_jaccard_pairs(
        _docs(spark, sf_dir), JK, threshold=JTHRESH, max_doc_freq=JMAXDF
    )


def q_jaccard_pairs(spark, sf_dir):
    return _jaccard_pairs(spark, sf_dir).select(
        "a", "b", "inter_cnt", "union_cnt", F.round("jaccard", 9).alias("jaccard_r")
    )


def q_distance_pairs(spark, sf_dir):
    """dist = 1 - sim on the pair set (reference compute_distance_matrix,
    R/minHash.R:166-182 — the dense matrix becomes a pairs DataFrame)."""
    return _jaccard_pairs(spark, sf_dir).select(
        "a", "b", F.round(1 - F.col("jaccard"), 9).alias("dist_r")
    )


def q_similarity_stats(spark, sf_dir):
    return textops.similarity_stats(_jaccard_pairs(spark, sf_dir))


def q_most_similar_pair(spark, sf_dir):
    return textops.most_similar_pair(_jaccard_pairs(spark, sf_dir))


def q_quantile_edges(spark, sf_dir):
    pairs = _jaccard_pairs(spark, sf_dir)
    thr = pairs.agg(
        F.round(F.expr("percentile(jaccard, 0.8)"), 9).alias("threshold_r")
    )
    kept = pairs.join(thr).where(
        F.round(F.col("jaccard"), 9) >= F.col("threshold_r")
    )
    return kept.groupBy("threshold_r").agg(F.count("*").alias("n_edges"))


def q_tabulate_sizes(spark, sf_dir):
    return textops.tabulate_sizes(
        _docs(spark, sf_dir).select(F.col("lang").alias("cluster_id")), "cluster_id"
    )


def q_exact_dedup(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return textops.exact_dedup(d, ["lang", "n_tokens"])


def q_token_count(spark, sf_dir):
    return textops.token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return textops.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


def q_substring_pairs(spark, sf_dir):
    return textops.suffix_candidates(
        _docs(spark, sf_dir), prefix_len=24, min_suffix=8,
        id_col="doc_id", text_col="text",
    )


def q_substring_lcp_pairs(spark, sf_dir):
    """Distributed suffix-array pass (VERDICT r01 #7): doc pairs sharing a
    substring of length >= 32 with the exact capped LCS — long shared
    REGIONS, which the containment query above cannot see."""
    return textops.shared_substring_pairs(
        _docs(spark, sf_dir), min_len=32, prefix_cap=48,
    )


def q_winnow_fingerprints(spark, sf_dir):
    return textops.winnow_fingerprints(_docs(spark, sf_dir), k=8, w=4)


def q_char_matrix(spark, sf_dir):
    """Characteristic-matrix memberships (create_char_matrix,
    R/minHash.R:60-66): the (vocab_idx, doc_id) 1-entries, sparse form."""
    return rpath.char_matrix_pairs(_docs(spark, sf_dir), K)


def q_minhash_r_components(spark, sf_dir):
    """R-path signature matrix, long form (compute_signature_matrix,
    R/minHash.R:126-143): vocab-INDEX hashing (a*i+b) mod |vocab| — the
    documented R/C++ divergence (quirk Q3), now shipped as an explicit
    variant op. Cell-exact DuckDB twin."""
    return rpath.signatures_r(_docs(spark, sf_dir), K, PARITY.n_hash, PARITY.seeds)


def q_minhash_r_distance(spark, sf_dir):
    """R-path dense distance matrix as pairs (compute_distance_matrix,
    R/minHash.R:166-182): 1 - agreement over ALL doc pairs. Dense O(n^2) by
    reference construction — parity/test-scale twin."""
    return rpath.distance_r_pairs(
        _docs(spark, sf_dir), K, PARITY.n_hash, PARITY.seeds
    ).select("a", "b", F.round("dist", 9).alias("dist_r"))


def q_minhash_components(spark, sf_dir):
    """C++-path signature matrix, long form (src/minHash.cpp:140-158): one
    row per (doc, hash) cell. The DuckDB twin recomputes murmur3_32 of every
    4-byte shingle in pure SQL (hugeint modular arithmetic) with the same
    frozen seeds, so every cell is value-checked — upgrading the signature
    op from rows-only to hash-exact."""
    sig = add_signatures(_docs_as_images(spark, sf_dir), PARITY)
    return sig.where(F.col("minhash").isNotNull()).select(
        "image_id", F.posexplode("minhash").alias("h", "comp")
    )


def q_cc_components(spark, sf_dir):
    """Iterative large-star/small-star connected components over the exact
    n-gram Jaccard edges (the CC operator alone, value-checked against a
    DuckDB recursive-CTE reachability oracle: component = min reachable id)."""
    from dynaalign_spark.operators.components import connected_components

    edges = _jaccard_pairs(spark, sf_dir).select("a", "b")
    labels, _ = connected_components(edges)
    return labels.select(F.col("image_id").alias("doc_id"), "component")


def q_simhash_captions(spark, sf_dir):
    return textops.simhash_captions(_docs(spark, sf_dir), k=4)


def q_simhash_pairs(spark, sf_dir):
    return textops.simhash_caption_pairs(_docs(spark, sf_dir), k=4, max_hamming=6)


def q_embedding_neardup(spark, sf_dir):
    """Scale form (VERDICT r01 #3): multiprobe hyperplane-LSH candidates +
    exact cosine verify — no crossJoin anywhere in the plan. The DuckDB
    oracle (_duck_neardup_lsh) recomputes the identical bucket keys from
    inlined plane literals, so the hash match is exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annsearch.neardup_lsh_pairs(
        emb, threshold=0.35, dim=64,
        bucket_bits=NEARDUP_LSH["bucket_bits"], n_tables=NEARDUP_LSH["n_tables"],
        seed=NEARDUP_LSH["seed"],
    )


def q_embedding_neardup_exact(spark, sf_dir):
    """Exact all-pairs form — the oracle/verifier tier of the LSH query
    above (crossJoin by design, like nw_similarity; never the scale path)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annsearch.cosine_neardup_pairs(emb, threshold=0.35)


def q_ann_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return annsearch.cosine_topk(emb, queries, k=5)


def q_embedding_stats(spark, sf_dir):
    return annsearch.embedding_stats(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_agg_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 9).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_topk_customers(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("revenue"))
    )
    return rev.orderBy(F.desc("revenue"), "c_custkey").limit(10)


def q_window_user_latest(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_unused_parts(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey")
    )


# ---- non-SQL-expressible ops (rows-only driver check; pytest has the
# ---- bit-exact seeded oracles) ----


def q_minhash_signatures(spark, sf_dir):
    sig = add_signatures(
        _docs_as_images(spark, sf_dir), PARITY
    )
    return sig.select(
        "image_id",
        F.size("minhash").alias("sig_len"),
        F.expr("minhash[0]").alias("h0"),
    )


def q_lsh_candidates(spark, sf_dir):
    sig = add_signatures(_docs_as_images(spark, sf_dir), PARITY)
    return candidate_pairs(sig, PARITY).select(
        "a", "b", F.round("sim", 9).alias("sim_r")
    )


# cc-mode parity config: cluster_fn="cc" swaps the Louvain refine for pure
# connected components (the igraph-components plug of the reference's
# cluster_fn arg, R/clusterbreak.R:186), making the output partition exactly
# the CC of the thresholded edge set — SQL-expressible, hence value-exact
# checkable (VERDICT r02 next-round #1). min_edge_sim=0.5 composes
# max(quantile, floor) — both tiers reach the SQL twin — and yields a rich
# multi-component partition at sf0.01 (33 components + solos) instead of one
# hairball at the bare 0.8-quantile (0.28).
CC_FLOOR = 0.5
CC_CFG = PARITY.with_(cluster_fn="cc", size_max=10**9, size_min=1,
                      min_edge_sim=CC_FLOOR)


def _canonical_clusters(res) -> DataFrame:
    """Relabel cluster ids to the canonical min member id (deterministic,
    label-scheme-independent — what the reachability oracle emits)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (
        res["clusters"]
        .withColumn("canon", F.min("image_id").over(w))
        .select("image_id", F.col("canon").alias("cluster_id"))
    )


def q_dedup_clusters(spark, sf_dir):
    """Parity/oracle tier of the flagship: cc-mode clusterbreak with
    canonical min-member labels — value-checks the whole pipeline through
    signatures -> LSH candidates -> exact full-distribution type-7 quantile
    -> max(quantile, floor) threshold -> iterative CC against a recursive-CTE
    reachability oracle. The Louvain production path is
    q_dedup_clusters_louvain (rows-only; pytest-oracled) + entry()."""
    res = clusterbreak_spark(_docs_as_images(spark, sf_dir), CC_CFG)
    return _canonical_clusters(res)


def q_dedup_clusters_louvain(spark, sf_dir):
    """Production path: full clusterbreak with per-component Louvain refine
    + size triage. Labels are canonicalized to the min member id (the
    partition is what's checked, not the "itr.cid" label scheme); the value
    oracle is a committed golden of the seeded deterministic partition
    (tests/golden/louvain_clusters_sf001.json / _sf01.json — VERDICT r03
    #2, regenerated by scripts/make_louvain_golden.py and drift-gated by
    tests/test_spark_pipeline.py). The same seeded in-memory oracle check
    remains in pytest; at SFs without a committed golden the driver falls
    back to the rows-only check. Note the sf0.1 golden is an honest
    degenerate: PARITY has no sim floor, and at the dup-dense 5k corpus
    the p=0.8 quantile lands in the noise band (sim ~0.02), welding 4,992
    rows into one component the size recursion cannot split — exactly the
    web-scale hairball the SCALE config's min_edge_sim floor exists to
    prevent (config.py). The golden pins that behavior against drift."""
    res = clusterbreak_spark(
        _docs_as_images(spark, sf_dir), PARITY.with_(size_max=50, size_min=1)
    )
    return _canonical_clusters(res)


def q_dedup_clusters_scale(spark, sf_dir):
    """Production SCALE config on the same corpus (VERDICT r04 #4): the only
    committed cluster goldens ran PARITY, whose sf0.1 partition is an honest
    hairball degenerate (no sim floor -> noise-band quantile). This query
    drift-gates the partition a production run actually produces —
    rows_per_band=2 banding, band_group_cap=64 skew cap, and the
    min_edge_sim=0.3 floor that keeps the noise-band quantile from welding
    the corpus (config.py SCALE) — with canonical min-member labels. Value
    oracle: committed golden (tests/golden/scale_clusters_sf001.json /
    _sf01.json, regenerated by scripts/make_louvain_golden.py <sf_dir>
    scale), same mechanism as dedup_clusters_louvain."""
    res = clusterbreak_spark(
        _docs_as_images(spark, sf_dir), SCALE.with_(size_max=50, size_min=1)
    )
    return _canonical_clusters(res)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k — the data-adaptive scale path next to the
    hyperplane-LSH one (rows-only: approximate, no SQL twin; recall vs the
    exact oracle is pytest-gated in tests/test_annsearch_vec.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return annsearch.ivf_topk(emb, queries, k=5, dim=64,
                              n_centroids=32, n_probe=4)


def q_audio_features(spark, sf_dir):
    """Audio modality plumbing over the deterministic seeded pcm16 corpus
    (testdata ships no audio). The pcm16 decode + duration/rms/zcr are
    value-checked against a pure-SQL twin that re-reads every int16 sample
    from inlined hex (little-endian reassembly + sign, integer-lattice RMS,
    lead-window zero crossings). spectral_centroid (one rfft per row) has no
    SQL twin — it runs here but stays out of the compared projection; its
    numpy parity is pytest-gated in tests/test_multimodal.py."""
    from dynaalign_spark import multimodal as mm

    df = spark.createDataFrame(mm.make_audio_rows(64, seed=3), mm.AUDIO_SCHEMA)
    return mm.audio_features(df).select(
        "audio_id",
        F.round("duration_s", 6).alias("duration_r"),
        F.round("rms", 6).alias("rms_r"),
        F.round("zcr", 6).alias("zcr_r"),
    )


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (see q_audio_features): the rawv header
    parse, stride sampling, dims, and exact per-frame mean luma are
    value-checked against a SQL twin decoding the same inlined bytes."""
    from dynaalign_spark import multimodal as mm

    df = spark.createDataFrame(mm.make_video_rows(32, seed=4), mm.VIDEO_SCHEMA)
    return mm.frame_sample(df, stride=4).select(
        "video_id", "frame_idx", "h", "w",
        F.round("mean_luma", 4).alias("mean_luma_r"),
    )


def q_multitier_clusters(spark, sf_dir):
    """North-rule multi-signal merge over the documents table: caption
    MinHash edges ∪ substring-containment edges ∪ long-shared-region edges
    (the two exact tiers) -> one CC pass, cc-mode with canonical labels so
    the merged-graph partition is value-checked against a recursive-CTE
    reachability oracle over the SQL union of all three tier edge sets
    (VERDICT r02 next-round #1; each ingredient was already value-exact
    separately at r02). The Louvain-refined merge stays pytest-gated in
    tests/test_job_multitier.py."""
    images = _docs_as_images(spark, sf_dir)
    extra = tiers.build_all(tiers.tier_edges(
        images, CC_CFG, pixel=False, substring_mode="both", min_len=32))
    res = clusterbreak_spark(images, CC_CFG, extra_edges=extra)
    return _canonical_clusters(res)


def q_ann_lsh_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return annsearch.ann_lsh_topk(emb, queries, k=5, dim=64, bucket_bits=8, n_tables=4)


def q_pixel_dedup_clusters(spark, sf_dir):
    """SimHash pixel tier on the deterministic synthetic images fixture
    (BASELINE.json input_hint shape): decode -> integer-lattice SimHash
    (cfg.simhash_kernel="int": luma block sums + exact int64 centered
    projection) -> Hamming-ball LSH -> PSNR>=40dB verify -> CC. VALUE-EXACT
    vs _duck_pixel_clusters, which replays the whole chain in pure integer
    SQL (byte-level decode, block sums, inlined integer hyperplanes,
    popcount-by-bit-join, sse*10^4 <= 255^2*3*n_px, recursive-CTE
    reachability). CC labels are min member ids (components._small_star
    convergence), matching the oracle's min(reachable)."""
    from dynaalign_spark.fixtures import images_df, make_images
    from dynaalign_spark.operators.simhash import dedup_pixels

    rows, _ = make_images(n_clusters=60, seed=4242)
    images = images_df(spark, rows)
    res = dedup_pixels(images, PARITY, verify_psnr=True)
    return res["clusters"].select(
        "image_id", F.col("component").alias("cluster_id")
    ).orderBy("image_id")


def q_image_features(spark, sf_dir):
    """Multimodal decode -> resize -> feature-extract over binary image
    columns (mapInPandas Arrow batches; deterministic sandbox codec)."""
    from dynaalign_spark.fixtures import images_df, make_images
    from dynaalign_spark.operators.simhash import decode_features

    rows, _ = make_images(n_clusters=40, seed=777)
    return decode_features(images_df(spark, rows)).select(
        "image_id", "w", "h",
        F.round("mean_luma", 6).alias("mean_luma_r"),
        F.round("std_luma", 6).alias("std_luma_r"),
        F.size("features").alias("n_features"),
    ).orderBy("image_id")


def q_incremental_matches(spark, sf_dir):
    """Stream-static incremental dedup operator (batch form of the
    Structured Streaming ingest path, streaming.incremental_matches): the
    first 50 docs re-ingested against the full corpus."""
    from dynaalign_spark import streaming

    corpus = add_signatures(_docs_as_images(spark, sf_dir), PARITY)
    new = add_signatures(
        _docs_as_images(spark, sf_dir).where(F.col("image_id") < "doc00000050"),
        PARITY,
    )
    return streaming.incremental_matches(new, corpus, PARITY, threshold=0.5).select(
        "new_id", "known_id", F.round("sim", 9).alias("sim_r")
    )


NW_TRUNC = 48  # DP inputs capped at 48 chars (min doc length at sf0.01), so
# the SQL twin's wavefront stays ~2.3k cells/pair; the DP kernel itself is
# length-agnostic (pytest drives it on full-length and adversarial strings)


def q_nw_similarity(spark, sf_dir):
    """Exact all-pairs Needleman-Wunsch similarity (reference similarityNW,
    src/pairwiseSeqAlign.cpp:331-365) on a 24-doc subset, texts truncated to
    NW_TRUNC chars. The affine-gap DP — overwritten-M recurrences, boundary
    costs, per-cell positional traceback — is value-checked cell-for-cell
    against a recursive-CTE anti-diagonal wavefront twin in pure integer
    SQL (VERDICT r02: was rows-only). Full-length/golden parity stays in
    tests/test_align.py. 24 docs / 276 pairs keeps the wavefront twin
    ~90 s even on the degraded sandbox substrate."""
    from dynaalign_spark.operators.align import similarity_nw

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 24).select(
        "doc_id", F.substring("text", 1, NW_TRUNC).alias("text")
    )
    return similarity_nw(docs, matrix_name="IDENTITY").select(
        "a", "b", F.round("nw_sim", 9).alias("nw_sim_r")
    )


def q_nw_verified_pairs(spark, sf_dir):
    """Scale path: LSH candidates -> exact NW verification on pairs only
    (the reference's approx-then-exact two-tier design, SURVEY.md §2 #15).
    Candidates come from the full texts; the NW stage runs on NW_TRUNC-char
    texts so the SQL twin can replay the DP. Oracle assumption (verified at
    this fixture, like the uncapped-band note): the LSH candidate set with
    the default estimate floor equals the exact jaccard>=0.5 pair set."""
    from dynaalign_spark.operators.align import nw_verified_pairs

    docs = _docs(spark, sf_dir)
    cands = textops.ngram_jaccard_pairs_lsh(docs, JK, threshold=JTHRESH)
    docs_t = docs.select("doc_id", F.substring("text", 1, NW_TRUNC).alias("text"))
    return nw_verified_pairs(docs_t, cands, matrix_name="IDENTITY").select(
        "a", "b", F.round("nw_sim", 9).alias("nw_sim_r")
    )


def q_cluster_consensus(spark, sf_dir):
    """clusterbreak + per-cluster consensus caption / medoid exemplar
    (reference clusterconsensus, R/clusterbreak.R:309-320). Runs on the
    cc-mode canonical clusters so both the majority-vote consensus (explode
    positions -> mode, ties -> smallest char) and the integer-agreement
    medoid are value-checked against a pure-SQL twin (VERDICT r02
    next-round #2)."""
    from dynaalign_spark.operators.consensus import cluster_representatives

    images = _docs_as_images(spark, sf_dir)
    res = clusterbreak_spark(images, CC_CFG)
    return cluster_representatives(
        _canonical_clusters(res), images, signatures=res["signatures"]
    ).select("cluster_id", "consensus_caption", "exemplar_image_id", "size")


def q_cluster_consensus_msa(spark, sf_dir):
    """Align-first consensus — the reference's clusterconsensus SHAPE
    (AlignSeqs -> ConsensusSequence, R/clusterbreak.R:309-320), realized as
    the repo's own center-star MSA over the production SCALE clusters
    (operators/msa.py: alignment-medoid center, affine-NW pairwise aligns,
    once-a-gap-always-a-gap merge, column-majority vote; exemplar = the
    center). Center-star is genuinely non-SQL (iterative DP + merge), so
    the value oracle is a committed golden of the deterministic run
    (tests/golden/msa_consensus_sf001.json / _sf01.json, regenerated by
    scripts/make_msa_golden.py, drift-gated in tests/test_msa.py) — the
    same mechanism as the Louvain/SCALE partition goldens; other SFs fall
    back to the rows-only check."""
    from dynaalign_spark.operators.consensus import cluster_representatives

    images = _docs_as_images(spark, sf_dir)
    res = clusterbreak_spark(images, SCALE.with_(size_max=50, size_min=1))
    return cluster_representatives(
        _canonical_clusters(res), images, method="msa"
    ).select("cluster_id", "consensus_caption", "exemplar_image_id", "size")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "shingle_counts": q_shingle_counts,
        "vocab_top": q_vocab_top,
        "jaccard_pairs": q_jaccard_pairs,
        "distance_pairs": q_distance_pairs,
        "similarity_stats": q_similarity_stats,
        "most_similar_pair": q_most_similar_pair,
        "quantile_edges": q_quantile_edges,
        "tabulate_sizes": q_tabulate_sizes,
        "exact_dedup": q_exact_dedup,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "substring_pairs": q_substring_pairs,
        "substring_lcp_pairs": q_substring_lcp_pairs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "char_matrix": q_char_matrix,
        "minhash_r_components": q_minhash_r_components,
        "minhash_r_distance": q_minhash_r_distance,
        "minhash_components": q_minhash_components,
        "cc_components": q_cc_components,
        "simhash_captions": q_simhash_captions,
        "simhash_pairs": q_simhash_pairs,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_exact": q_embedding_neardup_exact,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_stats": q_embedding_stats,
        "agg_pricing": q_agg_pricing,
        "join_topk_customers": q_join_topk_customers,
        "window_user_latest": q_window_user_latest,
        "unused_parts": q_unused_parts,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidates": q_lsh_candidates,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_louvain": q_dedup_clusters_louvain,
        "dedup_clusters_scale": q_dedup_clusters_scale,
        "multitier_clusters": q_multitier_clusters,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "pixel_dedup_clusters": q_pixel_dedup_clusters,
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "frame_sample": q_frame_sample,
        "incremental_matches": q_incremental_matches,
        "cluster_consensus": q_cluster_consensus,
        "cluster_consensus_msa": q_cluster_consensus_msa,
        "nw_similarity": q_nw_similarity,
        "nw_verified_pairs": q_nw_verified_pairs,
    }


_SHINGLES = (
    "select doc_id, substr(text, i, {k}) as shingle from "
    "(select doc_id, text, unnest(generate_series(1, greatest(length(text) - {k} + 1, 0))) as i "
    "from documents)"
)

_JPAIRS = f"""
with raw as (
  select distinct doc_id, shingle from ({_SHINGLES.format(k=JK)})
), ok as (
  -- hot-shingle cap, mirroring textops.ngram_jaccard_pairs(max_doc_freq=JMAXDF)
  select shingle from raw group by shingle having count(*) <= {JMAXDF}
), memb as (
  select raw.doc_id, raw.shingle from raw join ok using (shingle)
), sizes as (
  select doc_id, count(*) as sz from memb group by doc_id
), inter as (
  select x.doc_id as a, y.doc_id as b, count(*) as inter_cnt
  from memb x join memb y on x.shingle = y.shingle and x.doc_id < y.doc_id
  group by x.doc_id, y.doc_id
)
select i.a, i.b, i.inter_cnt,
       (sa.sz + sb.sz - i.inter_cnt) as union_cnt,
       (i.inter_cnt::double / (sa.sz + sb.sz - i.inter_cnt)) as jaccard
from inter i
join sizes sa on sa.doc_id = i.a
join sizes sb on sb.doc_id = i.b
where (i.inter_cnt::double / (sa.sz + sb.sz - i.inter_cnt)) >= {JTHRESH}
"""

_STOP = {
    "en": "['the','and','of','to','a','in','is','that','for','it']",
    "de": "['der','die','das','und','ist','von','zu','mit','den','ein']",
    "fr": "['le','la','les','de','et','un','une','est','que','pour']",
    "es": "['el','la','los','de','y','un','una','es','que','por']",
    "zh": "['de','shi','le','zai','he','you','wo','ta','men','zhe']",
}


def _hits(code: str) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), w -> list_contains({_STOP[code]}, w)))"
    )


# DuckDB twins of the winnowing / relational-SimHash rolling hash: same
# POLY_B/POLY_M integer arithmetic as textops._kgram_hashes_expr, so the
# hashes match Spark exactly.
def _duck_kgram_hashes(k: int) -> str:
    from dynaalign_spark.textops import POLY_M, _poly_pows

    pows = "[" + ", ".join(f"{p}::bigint" for p in _poly_pows(k)) + "]"
    return (
        f"list_transform(generate_series(1, length(text) - {k} + 1), "
        f"i -> (list_sum(list_transform(generate_series(0, {k - 1}), "
        f"j -> ascii(substring(text, i + j, 1)) * ({pows})[j + 1])) "
        f"% {POLY_M})::bigint)"
    )


def _duck_winnow(k: int, w: int) -> str:
    return (
        f"with h as (select doc_id, {_duck_kgram_hashes(k)} as hs "
        f"from documents where length(text) >= {k}) "
        f"select doc_id, unnest(list_distinct(list_transform("
        f"generate_series(1, greatest(len(hs) - {w} + 1, 1)), "
        f"p -> list_aggregate(hs[p:p+{w - 1}], 'min'))))::bigint as fp from h"
    )


def _duck_simhash(k: int) -> str:
    # 60-bit two-hash layout shared with textops.simhash_captions: low 30
    # bits vote on h, high 30 on h2 = (h * POLY_B2) % POLY_M2
    from dynaalign_spark.textops import POLY_B2, POLY_M2, SIMHASH_REL_BITS

    def src(b: int) -> str:
        return f"((h >> {b}) & 1)" if b < 30 else f"((h2 >> {b - 30}) & 1)"

    bits = " + ".join(
        f"(case when 2 * sum({src(b)}) >= count(*) then {1 << b} else 0 end)"
        for b in range(SIMHASH_REL_BITS)
    )
    return (
        f"with memb0 as (select distinct doc_id, "
        f"unnest({_duck_kgram_hashes(k)}) as h "
        f"from documents where length(text) >= {k}), "
        f"memb as (select doc_id, h, (h * {POLY_B2}) % {POLY_M2} as h2 from memb0) "
        f"select doc_id, ({bits})::bigint as simhash from memb group by doc_id"
    )


# ---- DuckDB twins of the two signature paths (R vocab-index / C++ murmur3)


def _duck_memb(k: int) -> str:
    """Distinct (doc_id, shingle) membership pairs."""
    return (
        f"select distinct doc_id, substr(text, i, {k}) as s "
        f"from (select doc_id, text, "
        f"unnest(generate_series(1, length(text) - {k} + 1)) as i "
        f"from documents where length(text) >= {k})"
    )


def _duck_rpath_cte(k: int) -> str:
    """Shared CTE prefix: memb / sorted-indexed vocab / vocab size."""
    return (
        f"with memb as ({_duck_memb(k)}), "
        "vd as (select distinct s from memb), "
        "v as (select s, row_number() over (order by s) as idx from vd), "
        "msz as (select count(*) as m from vd)"
    )


def _duck_rpath_sig(k: int) -> str:
    """R-path signatures long form: pinned (a,b) derived in SQL from the
    frozen seed table with the same formula as rpath.hash_params —
    a = (seed % m) + 1, b = (seed * KNUTH mod 2^32) mod (m + 1)."""
    from dynaalign_spark.rpath import KNUTH

    seeds = ", ".join(f"({h}, {s})" for h, s in enumerate(PARITY.seeds))
    return (
        f"{_duck_rpath_cte(k)}, "
        f"sd(h, sv) as (values {seeds}), "
        f"p as (select h, (sv % m) + 1 as a, "
        f"(((sv::hugeint * {KNUTH}) % 4294967296)::bigint) % (m + 1) as b, m "
        f"from sd cross join msz), "
        "sig as (select memb.doc_id, p.h, "
        "min((p.a * v.idx + p.b) % p.m) as comp "
        "from memb join v using(s) cross join p group by 1, 2) "
    )


def _duck_murmur_sig(k: int) -> str:
    """C++-path signatures long form: murmur3_32 of every distinct 4-byte
    shingle for all 50 frozen seeds, in pure SQL. A k=4 ASCII shingle is
    exactly one murmur block (no tail), so the algorithm (reference
    src/minHash.cpp:21-64) is: one block mix + length xor + final avalanche,
    all in hugeint modular arithmetic. Distinct shingles are hashed once
    (vocab ~50k x 50 seeds), then joined back to memberships and min-folded
    per (doc, seed) — the same dedup-then-segmented-min the Spark UDF uses
    (hashing.py:_hash_tokens_min).

    ASCII assumption (ADVICE r02): the engine shingles UTF-8 BYTE windows
    while this oracle shingles CHARACTERS and loads codepoints via ascii(),
    so the two agree only while every document is pure ASCII — which
    tests/test_textops_ext.py::test_driver_fixture_documents_are_ascii
    pins for the driver's sf0.01/sf0.001 fixtures. A non-ASCII fixture
    would make the four murmur-backed value-exact oracles diverge
    (the engine, whose byte semantics is the reference's, stays right)."""
    assert k == 4, "single-block murmur oracle requires 4-byte shingles"
    seeds = ", ".join(f"({h}, {s})" for h, s in enumerate(PARITY.seeds))
    return (
        f"with memb as ({_duck_memb(k)}), "
        "vd as (select distinct s from memb), "
        # little-endian u32 load of the 4 ASCII bytes
        "b0 as (select s, (ascii(substr(s,1,1)) + ascii(substr(s,2,1))*256 "
        "+ ascii(substr(s,3,1))*65536 + ascii(substr(s,4,1))*16777216)::bigint "
        "as k0 from vd), "
        f"sd(h, seed) as (values {seeds}), "
        # block mix: k1 = rotl15(k0*C1)*C2
        "m1 as (select s, k0, ((k0::hugeint * 3432918353) % 4294967296)::bigint as k1 from b0), "
        "m2 as (select s, (((k1 * 32768) % 4294967296) | (k1 // 131072)) as k2 from m1), "
        "m3 as (select s, ((k2::hugeint * 461845907) % 4294967296)::bigint as k3 from m2), "
        # per-seed: h = rotl13(seed ^ k1)*5 + N, then ^len and avalanche
        "m4 as (select s, h, xor(seed, k3) as v1 from m3 cross join sd), "
        "m5 as (select s, h, (((v1 * 8192) % 4294967296) | (v1 // 524288)) as v2 from m4), "
        "m6 as (select s, h, ((v2::hugeint * 5 + 3864292196) % 4294967296)::bigint as v3 from m5), "
        f"f1 as (select s, h, xor(v3, {k}) as w0 from m6), "
        "f2 as (select s, h, xor(w0, w0 // 65536) as w1 from f1), "
        "f3 as (select s, h, ((w1::hugeint * 2246822507) % 4294967296)::bigint as w2 from f2), "
        "f4 as (select s, h, xor(w2, w2 // 8192) as w3 from f3), "
        "f5 as (select s, h, ((w3::hugeint * 3266489909) % 4294967296)::bigint as w4 from f4), "
        "hh as (select s, h, xor(w4, w4 // 65536) as hv from f5), "
        "sig as (select 'doc' || lpad(memb.doc_id::varchar, 8, '0') as image_id, "
        "hh.h, min(hh.hv) as comp from memb join hh using(s) group by 1, 2) "
    )


def _duck_capped_cand(cap: int | None = None, cw: int | None = None,
                      nh: float | None = None) -> str:
    """CTE chain ``bg/br/emit/agp`` ending in ``cand (a, b, cnt, sim)`` — the
    band-EMISSION twin of lsh.candidate_pairs under PARITY (r=1,
    count-based agreement), including the hot-band skew machinery the old oracle
    assumed away: a (h, comp) band group of size <= band_group_cap emits all
    i<j pairs; a larger group emits sorted-chain pairs only (each member to
    its next chain_width successors by image_id — lsh.py ``chain_pairs``),
    expressed here as a rank-difference predicate on ``row_number() over
    (partition by h, comp order by image_id)``. The sim of every emitted
    pair is its FULL agreement count / n_hash in both engines: a pair with
    neither endpoint in any capped group has all its agreeing bands
    uncapped (engine counts them all), and a pair touched by a capped group
    is routed to the exact signature verify join (lsh.py ``ver``) — so only
    the emitted SET differs under skew, never the value. Replaces the
    r02-era uncapped-band assumption: this form stays exact on fixtures
    whose band groups exceed the cap (sf0.1's near-dup-dense 5k corpus,
    CORRECTNESS_SF01.md ``lsh_candidates``), and is also why the
    reachability downstream stays single-node-feasible there — the chain
    thins hot-group edges exactly like the engine. Requires a ``sig
    (image_id, h, comp)`` CTE in scope. ``cap``/``cw``/``nh`` default to
    PARITY; tests override ``cap`` small to exercise the chain branch
    against the engine on fixtures where the default cap never engages."""
    if cap is None:
        cap = PARITY.band_group_cap
    if cw is None:
        cw = PARITY.chain_width
    if nh is None:
        nh = float(PARITY.n_hash)
    # AS MATERIALIZED is load-bearing, not a hint to ignore: inside a WITH
    # RECURSIVE query DuckDB inlines plain CTEs into every consumer, so the
    # reachability iteration re-evaluated this whole enumeration chain PER
    # ROUND (measured 91.6s -> 1.1s at sf0.01 for _duck_cc_clusters; at
    # sf0.1 the uncapped r3 form of that re-evaluation exhausted 75 GB of
    # temp disk — CORRECTNESS_SF01.md's "oracle infeasible" rows).
    return (
        "bg as materialized (select h, comp, count(*) as n from sig "
        "group by h, comp having count(*) > 1), "
        "br as materialized (select s.image_id, s.h, s.comp, bg.n, "
        "row_number() over (partition by s.h, s.comp order by s.image_id) as rn "
        "from sig s join bg using (h, comp)), "
        # two pure equi-join branches instead of one OR-residual join: the
        # OR form enumerates EVERY i<j combination of an over-cap group
        # before filtering (a multi-k-member hot group x 50 bands is
        # hundreds of millions of probe rows at sf0.1); the chain branch
        # joins on the shifted rank (h, comp, rn + j), so big groups only
        # ever produce their chain rows
        "ems as (select x.image_id as a, y.image_id as b "
        f"from br x join br y on x.h = y.h and x.comp = y.comp "
        f"and y.image_id > x.image_id where x.n <= {cap}), "
        "emc as (select x.image_id as a, y.image_id as b "
        f"from br x cross join (select unnest(generate_series(1, {cw})) as j) sh "
        f"join br y on x.h = y.h and x.comp = y.comp and y.rn = x.rn + sh.j "
        f"where x.n > {cap}), "
        "emit as materialized (select a, b from ems union select a, b from emc), "
        "agp as materialized (select x.image_id as a, y.image_id as b, "
        "count(*) as cnt "
        "from sig x join sig y on x.h = y.h and x.comp = y.comp "
        "and x.image_id < y.image_id group by 1, 2), "
        f"cand as materialized (select agp.a, agp.b, agp.cnt, "
        f"agp.cnt / {nh} as sim "
        "from agp join emit on agp.a = emit.a and agp.b = emit.b)"
    )


def _duck_xtier_edges() -> str:
    """SQL union of the two exact tier edge sets of q_multitier_clusters:
    substring containment (min_suffix=16 — exact `contains`, same form as the
    value-exact substring_pairs oracle) and long-shared-region pairs (sharing
    a 32-char gram == min(LCS, 48) >= 32, the l=32 slice of the value-exact
    substring_lcp_pairs oracle — pair membership needs only the shortest
    gram). Endpoints are >= 16 chars so the pipeline's semi-join on valid
    (>= k=4 chars) signatures is a provable no-op here."""
    return (
        "d2 as (select 'doc' || lpad(doc_id::varchar, 8, '0') as image_id, "
        "text from documents), "
        "subp as (select least(a.image_id, b.image_id) as a, "
        "greatest(a.image_id, b.image_id) as b from d2 a join d2 b "
        "on a.image_id != b.image_id "
        "where length(a.text) >= 16 and contains(b.text, a.text)), "
        "lcpg as (select image_id, unnest(list_distinct(list_transform("
        "generate_series(1, length(text) - 31), p -> substring(text, p, 32)"
        "))) as gram from d2 where length(text) >= 32), "
        "lcpp as (select distinct x.image_id as a, y.image_id as b "
        "from lcpg x join lcpg y on x.gram = y.gram "
        "and x.image_id < y.image_id), "
        "xedges as (select a, b from subp union select a, b from lcpp)"
    )


def _duck_cc_rounds(edges_cte: str, rounds: int = 20) -> str:
    """Unrolled alternating large-star/small-star contraction (Kiveris et
    al. — the SAME algorithm as operators/components.py, CTE-for-DataFrame)
    from ``edges_cte (a, b)`` to ``ccomp (image_id, component)`` with
    min-member labels, in PLAIN SQL — no WITH RECURSIVE.

    Why not the recursive-CTE reachability the r3 oracles used: reachability
    materializes every (node, reachable-node) pair and iterates once per
    hop, so a chain-paired hot clique (the capped-oracle upgrade made those
    reach the oracle: a 3,866-member sorted chain at sf0.1) needs ~diameter
    iterations over a quadratic working set — DuckDB ground >10 min where
    the engine takes seconds. Star contraction halves path lengths every
    round, so ``rounds``=20 covers any diameter to ~2^20 while converged
    rounds are cheap no-op scans of the star forest. Convergence margin is
    asserted by tests/test_capped_oracle.py on an adversarial chain; the
    Python twin (components.py) iterates the same rounds to an exact
    fixpoint."""
    # every multiply-referenced per-round CTE is AS MATERIALIZED: without it
    # DuckDB inlines each reference, and 20 chained rounds of 2x-referenced
    # CTEs compound into an exponentially-sized plan (a 5.8s sf0.01 query
    # stopped terminating at all)
    parts = [f"ee0 as materialized (select a as src, b as dst from {edges_cte})"]
    for k in range(rounds):
        i, j = f"ee{k}", f"ee{k + 1}"
        parts.append(
            # large star: every neighbor dst > src hooks to src's min-or-self
            f"ln{k} as materialized (select src, dst from {i} union all "
            f"select dst, src from {i}), "
            f"lm{k} as materialized (select src, least(min(dst), src) as m "
            f"from ln{k} group by src), "
            f"lg{k} as (select distinct n.dst as src, m.m as dst "
            f"from ln{k} n join lm{k} m using (src) "
            "where n.dst > n.src and n.dst != m.m), "
            # small star: canonical (greater, lesser), hook to min, keep self
            f"sd{k} as materialized (select greatest(src, dst) as src, "
            f"least(src, dst) as dst from lg{k} where src != dst), "
            f"sm{k} as materialized (select src, min(dst) as m from sd{k} "
            "group by src), "
            f"{j} as materialized (select distinct src, dst from ("
            f"select d.dst as src, m.m as dst from sd{k} d "
            "join sm{k} m using (src) where d.dst != m.m "
            f"union all select src, m as dst from sm{k}"
            ") where src != dst)".replace("{k}", str(k))
        )
    last = f"ee{rounds}"
    prev = f"ee{rounds - 1}"
    # convergence guard (ADVICE r04): the unrolled form has no in-query
    # fixpoint check, so a graph needing >`rounds` contractions would return
    # silently wrong labels. At the fixpoint the star forest is idempotent —
    # the last two rounds must be set-identical; if not, error() loudly.
    parts.append(
        f"ccguard as (select case when (select count(*) from ("
        f"((select src, dst from {last}) except (select src, dst from {prev}))"
        f" union all "
        f"((select src, dst from {prev}) except (select src, dst from {last}))"
        f")) > 0 then error('cc star-contraction did not converge in "
        f"{rounds} rounds — raise rounds in _duck_cc_rounds') "
        "else 0 end as ok)"
    )
    parts.append(
        f"ccomp as (select src as image_id, min(dst) as component from ("
        f"select src, dst from {last} union all "
        f"select dst, dst from {last}) "
        "where (select min(ok) from ccguard) = 0 group by src)"
    )
    return ", ".join(parts)


def _duck_cc_clusters(with_xtier: bool = False) -> str:
    """DuckDB twin of the cc-mode clusterbreak queries (CC_CFG): murmur
    signatures -> capped band-emission candidates (_duck_capped_cand — the
    same skew cap + chain pairing as lsh.candidate_pairs, so the pair set
    and hence the quantile input match the engine at ANY fixture scale)
    -> exact full-distribution type-7 quantile via the zero-counting trick
    (threshold.py:quantile_threshold replicated step for step in double
    arithmetic: h=(total-1)*p, lo=floor(h), frac=h-lo, order statistics of
    the nonzero sims at integer ranks, lo_val + frac*(hi_val-lo_val); the
    order statistics come from a 50-bucket histogram over the integer
    agreement count — sim is always cnt/n_hash, so the k-th smallest sim is
    the smallest cnt whose cumulative count exceeds k, no 12M-row sort) ->
    max(quantile, CC_FLOOR) edges [-> union tier edges] -> unrolled
    star-contraction CC (_duck_cc_rounds) with min-member labels + solo
    singletons. Ends with CTE ``clus (image_id, cluster_id)`` ready for a
    final select; ``cand`` keeps the integer agreement count ``cnt`` for
    the consensus medoid twin."""
    p, nh = PARITY.thresh_p, float(PARITY.n_hash)
    xt = f", {_duck_xtier_edges()}" if with_xtier else ""
    edges_src = "medges" if with_xtier else "cedges"
    merge = (
        ", medges as materialized (select a, b from cedges union select a, b from xedges)"
        if with_xtier
        else ""
    )
    return (
        f"{_duck_murmur_sig(K)}, "
        f"{_duck_capped_cand()}, "
        "valid as (select distinct image_id from sig), "
        "hist as (select cnt, count(*) as c from cand group by cnt), "
        "chist as (select cnt, sum(c) over (order by cnt "
        "rows between unbounded preceding and current row) as cum from hist), "
        "qs as (select (select count(*) from valid) as n, "
        "(select count(*) from cand) as m), "
        "qt as (select n*(n-1)//2 as total, m, n*(n-1)//2 - m as zeros, "
        f"(n*(n-1)//2 - 1) * {p} as h from qs), "
        "qr as (select floor(h)::bigint as lo, h - floor(h)::bigint as frac, "
        "least(floor(h)::bigint + 1, total - 1) as hi, zeros, total from qt), "
        "thr as (select greatest("
        "(case when qr.lo < qr.zeros then 0.0 else "
        f"(select min(cnt) from chist where cum > qr.lo - qr.zeros) / {nh} end) "
        "+ qr.frac * ("
        "(case when qr.hi < qr.zeros then 0.0 else "
        f"(select min(cnt) from chist where cum > qr.hi - qr.zeros) / {nh} end) - "
        "(case when qr.lo < qr.zeros then 0.0 else "
        f"(select min(cnt) from chist where cum > qr.lo - qr.zeros) / {nh} end)), "
        f"{CC_FLOOR}) as t from qr), "
        "cedges as materialized (select a, b from cand, thr where sim >= thr.t)"
        f"{xt}{merge}, "
        f"{_duck_cc_rounds(edges_src)}, "
        "clus as (select image_id, component as cluster_id from ccomp "
        "union all select image_id, image_id as cluster_id from valid "
        "where image_id not in (select image_id from ccomp))"
    )


def _duck_byte(pos: str) -> str:
    """SQL int value of 1-based byte ``pos`` of the lowercase hex column
    ``hx`` — pure varchar arithmetic (ascii of the two hex digits)."""
    c1 = f"ascii(substring(hx, 2*({pos})-1, 1))"
    c2 = f"ascii(substring(hx, 2*({pos}), 1))"

    def hv(c: str) -> str:
        return f"(case when {c} >= 97 then {c} - 87 else {c} - 48 end)"

    return f"({hv(c1)}*16 + {hv(c2)})"


def _duck_rgb(rows) -> str:
    """Shared decode CTE chain ``raw .. rgb`` for image oracles: the
    fixture's raw encoded bytes inlined as hex literals (the input DATA —
    same rows the Spark query builds; the sandbox ships no image parquet)
    and the entire decode as INDEPENDENT SQL: PPM header parsed by regexp
    over a chr()-built prefix, QRS dims/step from little-endian header
    bytes, every pixel re-read via hex-digit arithmetic, QRS midpoint
    reconstruction replayed. Ends with
    ``rgb (image_id, w, h, px, r, g, bb)`` — px is the 1-based row-major
    pixel index — MATERIALIZED (several downstream CTEs re-scan it)."""
    vals = ", ".join(
        f"('{r['image_id']}', '{r['fmt']}', '{bytes(r['bytes']).hex()}')"
        for r in rows
    )
    b = _duck_byte
    # header prefix as text (pixel bytes past the header may be 0 / >127 —
    # map NUL to space so the regexp input is a clean string)
    hdrstr = (
        "array_to_string(list_transform(generate_series(1, 20), "
        f"o -> chr(case when {b('o')} = 0 then 32 else {b('o')} end)), '')"
    )
    return (
        f"raw(image_id, fmt, hx) as (values {vals}), "
        f"hd0 as (select image_id, fmt, hx, {hdrstr} as hdr from raw), "
        "hd1 as (select image_id, fmt, hx, "
        "regexp_extract(hdr, '^P6\\n(\\d+) (\\d+)\\n255\\n', 1) as ws, "
        "regexp_extract(hdr, '^P6\\n(\\d+) (\\d+)\\n255\\n', 2) as hs from hd0), "
        "hdr as (select image_id, fmt, hx, "
        "case when fmt = 'ppm' then try_cast(ws as int) "
        f"else {b('5')} + 256*{b('6')} end as w, "
        "case when fmt = 'ppm' then try_cast(hs as int) "
        f"else {b('7')} + 256*{b('8')} end as h, "
        f"case when fmt = 'ppm' then 0 else {b('9')} end as q, "
        "case when fmt = 'ppm' then 3 + length(ws) + 1 + length(hs) + 5 "
        "else 9 end as off from hd1), "
        "allpx as (select unnest(generate_series(1, "
        "(select max(w*h) from hdr))) as px), "
        "pxv as (select image_id, fmt, q, w, h, px, "
        f"{b('off + 3*px - 2')} as r0, {b('off + 3*px - 1')} as g0, "
        f"{b('off + 3*px')} as b0 "
        "from hdr cross join allpx where px <= w*h), "
        "rgb as materialized (select image_id, w, h, px, "
        "case when fmt = 'qrs' then least(r0*q + q//2, 255) else r0 end as r, "
        "case when fmt = 'qrs' then least(g0*q + q//2, 255) else g0 end as g, "
        "case when fmt = 'qrs' then least(b0*q + q//2, 255) else b0 end as bb "
        "from pxv)"
    )


def _duck_image_features() -> str:
    """DuckDB twin of q_image_features: _duck_rgb byte-level decode, then
    the integer-scaled luma stats recomputed with the same fixed-order float
    chain as operators/simhash.decode_features (bit-identical by
    construction). Verifies the mapInPandas decode path cell-by-cell."""
    from dynaalign_spark.fixtures import make_images

    rows, _ = make_images(n_clusters=40, seed=777)
    return (
        f"with {_duck_rgb(rows)}, "
        "st as (select image_id, w, h, "
        "sum(299*r + 587*g + 114*bb)::bigint as s1, "
        "sum((299*r + 587*g + 114*bb)*(299*r + 587*g + 114*bb))::bigint as s2, "
        "count(*) as n from rgb group by 1, 2, 3), "
        "fin as (select image_id, w, h, s1/1000.0/n as mean, "
        "s2/1000000.0/n - (s1/1000.0/n)*(s1/1000.0/n) as var from st) "
        "select image_id, w, h, round(mean, 6) as mean_luma_r, "
        "round(sqrt(greatest(var, 0.0)), 6) as std_luma_r, "
        "64::int as n_features from fin order by image_id"
    )


def _duck_pixel_clusters(grid: int = 16) -> str:
    """DuckDB twin of q_pixel_dedup_clusters — the ENTIRE pixel tier in pure
    integer SQL over the same inlined fixture bytes:

    decode (_duck_rgb) -> integer luma block sums over the grid-divisible
    crop (codec.luma_grid_sums) -> sign of the exact int64 centered
    projection ``d*dot(s,p) - sum(s)*sum(p)`` against the inlined
    integer-quantized hyperplanes (hashing.simhash_planes_int literals;
    ties bit=1 == ``>= 0`` both sides) -> Hamming distance by bit-table
    join (no 64-bit packing, so no sign-bit hazard) -> PSNR >= 40 dB as the
    exact integer inequality ``sse * 10^(40/10) <= 255^2 * 3*w*h``
    (shape-mismatched pairs excluded by the w/h join condition, as the
    engine's -inf) -> recursive-CTE reachability with min-member labels.

    Equivalence assumptions (documented like the lsh_candidates oracle):
    the engine's chunk-pair Hamming LSH is complete below
    band_group_cap (fixture groups are far smaller), and the engine's float
    ``10*log10(255^2/mse) >= 40.0`` agrees with the exact inequality unless
    a pair sits within ~1e-13 of exactly 40 dB (the boundary case
    sse*10^4 == 65025*3*n is exact both sides: log10(10^4) == 4.0 in IEEE).
    """
    from dynaalign_spark.fixtures import make_images
    from dynaalign_spark.hashing import simhash_planes_int

    assert PARITY.psnr_threshold_db == 40.0  # 10^(thr/10) == 10000 exactly
    rows, _ = make_images(n_clusters=60, seed=4242)
    planes = simhash_planes_int(grid * grid, PARITY.simhash_seed, PARITY.simhash_bits)
    pvals = ", ".join(
        f"({c},{bit},{int(planes[c, bit])})"
        for c in range(planes.shape[0])
        for bit in range(planes.shape[1])
    )
    d = grid * grid
    mh = PARITY.simhash_max_hamming
    return (
        f"with recursive {_duck_rgb(rows)}, "
        f"planes(c, bit, p) as (values {pvals}), "
        "blk as (select image_id, w, h, "
        "((px-1) // w) as row0, ((px-1) % w) as col0, "
        "299*r + 587*g + 114*bb as lum from rgb), "
        "sums as materialized (select image_id, "
        f"(row0 // (h // {grid})) * {grid} + (col0 // (w // {grid})) as c, "
        "sum(lum)::bigint as s "
        f"from blk where row0 < (h // {grid}) * {grid} "
        f"and col0 < (w // {grid}) * {grid} group by 1, 2), "
        "rowsum as (select image_id, sum(s)::bigint as ss from sums group by 1), "
        "psum as (select bit, sum(p)::bigint as pp from planes group by 1), "
        f"proj as (select sums.image_id, planes.bit, "
        f"{d} * sum(sums.s * planes.p)::bigint as dotd "
        "from sums join planes on planes.c = sums.c group by 1, 2), "
        "bits as materialized (select proj.image_id, proj.bit, "
        "(proj.dotd - rowsum.ss * psum.pp >= 0) as bv "
        "from proj join rowsum using (image_id) join psum using (bit)), "
        "ham as (select x.image_id as a, y.image_id as b, "
        "sum(case when x.bv <> y.bv then 1 else 0 end)::int as hamming "
        "from bits x join bits y on x.bit = y.bit and x.image_id < y.image_id "
        f"group by 1, 2 having hamming <= {mh}), "
        "sse as (select ham.a, ham.b, "
        "sum((pa.r - pb.r)*(pa.r - pb.r) + (pa.g - pb.g)*(pa.g - pb.g) "
        "+ (pa.bb - pb.bb)*(pa.bb - pb.bb))::bigint as e, "
        "max(pa.w * pa.h) as n_px "
        "from ham join rgb pa on pa.image_id = ham.a "
        "join rgb pb on pb.image_id = ham.b and pb.px = pa.px "
        "and pb.w = pa.w and pb.h = pa.h "
        "group by 1, 2), "
        "vedges as materialized (select a, b from sse where e * 10000 <= 65025 * 3 * n_px), "
        "e2 as materialized (select a as x, b as y from vedges "
        "union select b as x, a as y from vedges), "
        "vx as (select distinct x as id from e2), "
        "reach(id, r) as (select id, id from vx "
        "union select reach.id, e2.y from reach join e2 on e2.x = reach.r), "
        "comp as (select id as image_id, min(r) as cluster_id from reach group by id) "
        "select image_id, cluster_id from comp order by image_id"
    )


def _duck_audio_features() -> str:
    """DuckDB twin of q_audio_features: int16 little-endian samples re-read
    from inlined hex (v = lo + 256*hi, sign at 32768), duration = n/sr,
    integer-lattice RMS sqrt(sum(s^2)/n)/32767 (the exact chain
    multimodal.audio_features computes), zcr = sign-flip count over a lead
    window / (n-1) — all integer comparisons, no float-sum ordering."""
    from dynaalign_spark.multimodal import make_audio_rows

    rows = make_audio_rows(64, seed=3)
    vals = ", ".join(
        f"('{r['audio_id']}', '{bytes(r['bytes']).hex()}', {r['sample_rate']})"
        for r in rows
    )
    b = _duck_byte
    return (
        f"with raw(audio_id, hx, sr) as (values {vals}), "
        "meta as (select audio_id, hx, sr, length(hx)//4 as n from raw), "
        "alli as (select unnest(generate_series(1, "
        "(select max(n) from meta))) as i), "
        "smp as (select audio_id, sr, n, i, "
        "case when v >= 32768 then v - 65536 else v end as s from ("
        f"select audio_id, sr, n, i, {b('2*i-1')} + 256*{b('2*i')} as v "
        "from meta cross join alli where i <= n)), "
        "sgn as (select audio_id, (s < 0) as neg, lead(s < 0) over "
        "(partition by audio_id order by i) as nxt from smp), "
        "zc as (select audio_id, sum(case when neg != nxt then 1 else 0 end) "
        "as flips from sgn group by audio_id), "
        "st as (select audio_id, any_value(sr) as sr, any_value(n) as n, "
        "sum(s*s)::double as s2 from smp group by audio_id) "
        "select st.audio_id, round(st.n / (st.sr::double), 6) as duration_r, "
        "round(sqrt(s2 / st.n) / 32767.0, 6) as rms_r, "
        "round(zc.flips / (st.n - 1)::double, 6) as zcr_r "
        "from st join zc using(audio_id)"
    )


def _duck_frame_sample(stride: int = 4) -> str:
    """DuckDB twin of q_frame_sample: rawv header (three 4-byte LE ints)
    parsed from inlined hex, every ``stride``-th frame's dims + exact mean
    luma (integer pixel sum / count — float64-exact at any order)."""
    from dynaalign_spark.multimodal import make_video_rows

    rows = make_video_rows(32, seed=4)
    vals = ", ".join(
        f"('{r['video_id']}', '{bytes(r['bytes']).hex()}')" for r in rows
    )
    b = _duck_byte

    def le4(off: int) -> str:
        return " + ".join(f"{1 << (8 * k)}*{b(str(off + k))}" for k in range(4))

    return (
        f"with raw(video_id, hx) as (values {vals}), "
        f"meta as (select video_id, hx, ({le4(1)}) as n, ({le4(5)}) as h, "
        f"({le4(9)}) as w from raw), "
        f"alls as (select unnest(generate_series(0, "
        f"(select max(n) from meta) - 1, {stride})) as fi), "
        "fr as (select video_id, hx, n, h, w, fi from meta cross join alls "
        "where fi < n), "
        "allp as (select unnest(generate_series(1, "
        "(select max(h*w) from meta))) as p), "
        "px as (select video_id, fi, h, w, "
        f"{b('12 + fi*h*w + p')} as v from fr cross join allp where p <= h*w) "
        "select video_id, fi::int as frame_idx, h::int as h, w::int as w, "
        "round(sum(v)::double / (h*w), 4) as mean_luma_r "
        "from px group by video_id, fi, h, w"
    )


def _duck_nw(pairs_sql: str, o: int = 10, e: int = 4) -> str:
    """Recursive-CTE twin of operators/align.nw_pair_stats (IDENTITY matrix):
    anti-diagonal wavefront DP in pure INTEGER SQL, then a traceback walk.

    ``pairs_sql``: a CTE body producing pr(a, b, sa, sb, na, nb) — the pair
    ids, NW_TRUNC-truncated texts and their lengths. Each recursion step
    emits diagonal d's cells from the FRESH diagonal d-1 (up/left parents +
    same-row collapsed Iy recurrence via the stored U) and the STALE carried
    diagonal d-2 (diagonal parent vd), exactly the recurrences of
    align.py:113-141 including the reference's overwritten-M semantics
    (src/pairwiseSeqAlign.cpp:209-313): ix = max(vm_up - (o+e), ix_up - e);
    d = vd_diag + S; u = max(d, ix); iy = max(u_left - (o+e), iy_left - e)
    with U(i,0) = -inf (no gap-open from column 0); tb = D/U/L by the >=
    cascade; vm = max(u, iy); vd = max(u, iy, ix). Boundaries pay
    -o - (g-1)e. The walk then replays the positional traceback and emits
    sim = matches/length. All integer arithmetic — no float ordering."""
    NEG = -(10**15)
    oe = o + e
    # interior-cell expressions (machine-generated; aliases can't be reused
    # inside one SELECT, so shared subexpressions are inlined)
    ix_n = f"greatest(up.vm - {oe}, up.ix - {e})"
    s_ch = ("case when substring(pr.sa, up.i + 1, 1) = "
            "substring(pr.sb, up.j, 1) then 1 else -1 end")
    d_n = f"(dg.vd + {s_ch})"
    u_n = f"greatest({d_n}, {ix_n})"
    iy_n = f"greatest(lf.u - {oe}, lf.iy - {e})"
    tb_n = (f"case when {d_n} >= {ix_n} and {d_n} >= {iy_n} then 0 "
            f"when {ix_n} >= {iy_n} then 1 else 2 end")
    eq_n = ("case when substring(pr.sa, up.i + 1, 1) = "
            "substring(pr.sb, up.j, 1) then 1 else 0 end")
    return (
        # MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, so
        # without it the pairs subquery (expensive for the jaccard-candidate
        # form) would re-evaluate inside every wavefront recursion step
        f"with recursive pr as materialized ({pairs_sql}), "
        "cells(a, b, na, nb, i, j, vm, ix, iy, u, vd, tb, m_eq, fresh) as ("
        f"select a, b, na, nb, 0, 0, 0::bigint, {NEG}::bigint, {NEG}::bigint, "
        f"{NEG}::bigint, 0::bigint, 0, 0, true from pr "
        "union all ("
        # interior (i, j) = (up.i + 1, up.j)
        "select up.a, up.b, up.na, up.nb, up.i + 1, up.j, "
        f"greatest({u_n}, {iy_n}), {ix_n}, {iy_n}, {u_n}, "
        f"greatest({u_n}, {iy_n}, {ix_n}), {tb_n}, {eq_n}, true "
        "from cells up "
        "join cells lf on lf.a = up.a and lf.b = up.b and lf.fresh "
        "and lf.i = up.i + 1 and lf.j = up.j - 1 "
        "join cells dg on dg.a = up.a and dg.b = up.b and not dg.fresh "
        "and dg.i = up.i and dg.j = up.j - 1 "
        "join pr on pr.a = up.a and pr.b = up.b "
        "where up.fresh and up.i + 1 <= up.na and up.j >= 1 "
        "union all "
        # row boundary (i+1, 0): Ix pays -o - i*e
        f"select a, b, na, nb, i + 1, 0, {NEG}::bigint, "
        f"(-{o} - i*{e})::bigint, {NEG}::bigint, {NEG}::bigint, "
        f"(-{o} - i*{e})::bigint, 1, 0, true "
        "from cells where fresh and j = 0 and i + 1 <= na "
        "union all "
        # col boundary (0, j+1): Iy pays -o - j*e
        f"select a, b, na, nb, 0, j + 1, {NEG}::bigint, {NEG}::bigint, "
        f"(-{o} - j*{e})::bigint, {NEG}::bigint, (-{o} - j*{e})::bigint, "
        "2, 0, true "
        "from cells where fresh and i = 0 and j + 1 <= nb "
        "union all "
        # carry: last diagonal goes stale for next step's diagonal parents
        "select a, b, na, nb, i, j, vm, ix, iy, u, vd, tb, m_eq, false "
        "from cells where fresh)"
        "), "
        "tbm as materialized "
        "(select a, b, i, j, tb, m_eq from cells where fresh), "
        "walk(a, b, i, j, mt, ln) as ("
        "select a, b, na, nb, 0, 0 from pr "
        "union all "
        "select w.a, w.b, "
        "case when c.tb in (0, 1) then w.i - 1 else w.i end, "
        "case when c.tb in (0, 2) then w.j - 1 else w.j end, "
        "w.mt + case when c.tb = 0 then c.m_eq else 0 end, w.ln + 1 "
        "from walk w join tbm c on c.a = w.a and c.b = w.b "
        "and c.i = w.i and c.j = w.j "
        "where w.i > 0 or w.j > 0) "
        "select a, b, round(mt::double / ln, 9) as nw_sim_r "
        "from walk where i = 0 and j = 0"
    )


def _nw_pairs_sql(all_pairs: bool) -> str:
    """pr(a, b, sa, sb, na, nb) for the two NW queries: all pairs of the
    24-doc subset, or the exact jaccard>=0.5 candidate pairs."""
    t = NW_TRUNC
    sel = (
        f"substring(dx.text, 1, {t}) as sa, substring(dy.text, 1, {t}) as sb, "
        f"least(length(dx.text), {t}) as na, least(length(dy.text), {t}) as nb"
    )
    if all_pairs:
        return (
            f"select dx.doc_id as a, dy.doc_id as b, {sel} "
            "from documents dx join documents dy on dx.doc_id < dy.doc_id "
            "where dx.doc_id < 24 and dy.doc_id < 24"
        )
    return (
        f"select jp.a, jp.b, {sel} from ({_JPAIRS}) jp "
        "join documents dx on dx.doc_id = jp.a "
        "join documents dy on dy.doc_id = jp.b"
    )


def _duck_consensus() -> str:
    """DuckDB twin of q_cluster_consensus over the cc-mode canonical
    clusters: per-position majority vote at the (n-1)//2-th sorted caption
    length (ties -> smallest char — oracle.cluster_consensus), medoid
    exemplar by INTEGER total signature agreement (argmax == first max in
    id order -> row_number over (score desc, image_id)), cluster size."""
    return (
        f"{_duck_cc_clusters()}, "
        "dd as (select 'doc' || lpad(doc_id::varchar, 8, '0') as image_id, "
        "text as caption from documents), "
        "mem as (select c.cluster_id, c.image_id, dd.caption "
        "from clus c join dd using(image_id)), "
        "szs as (select cluster_id, count(*) as size from mem group by cluster_id), "
        "lens as (select cluster_id, length(caption) as l, row_number() over "
        "(partition by cluster_id order by length(caption)) as rn from mem), "
        "tgt as (select lens.cluster_id, lens.l as target from lens "
        "join szs using(cluster_id) where lens.rn = (szs.size - 1) // 2 + 1), "
        "allpos as (select unnest(generate_series(1, "
        "(select max(target) from tgt))) as pos), "
        "posx as (select mem.cluster_id, mem.caption, allpos.pos from mem "
        "join tgt using(cluster_id) cross join allpos "
        "where allpos.pos <= tgt.target), "
        "votes as (select cluster_id, pos, substring(caption, pos, 1) as ch, "
        "count(*) as cnt from posx where pos <= length(caption) group by 1, 2, 3), "
        "winner as (select cluster_id, pos, ch, row_number() over "
        "(partition by cluster_id, pos order by cnt desc, ch) as wrn from votes), "
        "cons as (select cluster_id, string_agg(ch, '' order by pos) "
        "as consensus_caption from winner where wrn = 1 group by cluster_id), "
        "cpair as (select ma.cluster_id, cand.a, cand.b, cand.cnt from cand "
        "join clus ma on cand.a = ma.image_id "
        "join clus mb on cand.b = mb.image_id and ma.cluster_id = mb.cluster_id), "
        "sc0 as (select cluster_id, a as image_id, cnt from cpair "
        "union all select cluster_id, b as image_id, cnt from cpair), "
        "scores as (select mem.cluster_id, mem.image_id, "
        "coalesce(sum(sc0.cnt), 0) as score from mem left join sc0 "
        "on sc0.cluster_id = mem.cluster_id and sc0.image_id = mem.image_id "
        "group by 1, 2), "
        "ex as (select cluster_id, image_id as exemplar_image_id, row_number() "
        "over (partition by cluster_id order by score desc, image_id) as ern "
        "from scores) "
        "select cons.cluster_id, cons.consensus_caption, ex.exemplar_image_id, "
        "szs.size from cons join ex using(cluster_id) join szs using(cluster_id) "
        "where ex.ern = 1"
    )


# pinned LSH config of the embedding_neardup query/oracle pair
NEARDUP_LSH = {"bucket_bits": 8, "n_tables": 6, "seed": 777}


def _duck_neardup_lsh(threshold: float, dim: int = 64) -> str:
    """DuckDB twin of annsearch.neardup_lsh_pairs: the seeded gaussian
    hyperplanes are inlined as double literals and each bucket bit is a
    LEFT-ASSOCIATED sum `v[1]*p1 + v[2]*p2 + ...` — the same float64
    association order as the Spark kernel (annsearch.embed_fingerprint_col),
    so the bucket keys agree bit-for-bit."""
    from dynaalign_spark.annsearch import hyperplanes

    bb, nt, seed = (NEARDUP_LSH[x] for x in ("bucket_bits", "n_tables", "seed"))
    planes = hyperplanes(dim, bb * nt, seed)

    def dot(b: int) -> str:
        return " + ".join(f"v[{i + 1}]*{float(planes[i, b])!r}" for i in range(dim))

    key_exprs = []
    for t in range(nt):
        bits = " + ".join(
            f"(case when ({dot(t * bb + j)}) >= 0 then {1 << j} else 0 end)"
            for j in range(bb)
        )
        key_exprs.append(f"({bits})::bigint as k{t}")
    band_ok = " or ".join(f"bit_count(xor(x.k{t}, y.k{t})) <= 1" for t in range(nt))
    return (
        "with e as (select vec_id, embedding::double[] as v from embeddings), "
        f"fp as (select vec_id, v, {', '.join(key_exprs)} from e) "
        "select x.vec_id as a, y.vec_id as b, "
        "round(list_cosine_similarity(x.v, y.v), 5) as cosine_r "
        "from fp x join fp y on x.vec_id < y.vec_id "
        f"where ({band_ok}) "
        f"and round(list_cosine_similarity(x.v, y.v), 5) >= {threshold}"
    )


def _duck_ann_lsh_topk(k: int = 5, dim: int = 64, bucket_bits: int = 8,
                       n_tables: int = 4, seed: int = 777) -> str:
    """DuckDB twin of annsearch.ann_lsh_topk (q_ann_lsh_topk's pinned
    config): same inlined-hyperplane left-associated dot products as
    _duck_neardup_lsh, but candidates join on EXACT bucket equality in any
    table (not a Hamming ball), then exact cosine + row_number top-k."""
    from dynaalign_spark.annsearch import hyperplanes

    planes = hyperplanes(dim, bucket_bits * n_tables, seed)

    def dot(b: int) -> str:
        return " + ".join(f"v[{i + 1}]*{float(planes[i, b])!r}" for i in range(dim))

    key_exprs = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(case when ({dot(t * bucket_bits + j)}) >= 0 then {1 << j} else 0 end)"
            for j in range(bucket_bits)
        )
        key_exprs.append(f"({bits})::bigint as k{t}")
    any_tbl = " or ".join(f"q.k{t} = n.k{t}" for t in range(n_tables))
    return (
        "with e as (select vec_id, embedding::double[] as v from embeddings), "
        f"fp as (select vec_id, v, {', '.join(key_exprs)} from e), "
        "c as (select q.vec_id as qid, n.vec_id as vec_id, "
        "list_cosine_similarity(q.v, n.v) as cosine "
        "from fp q join fp n on q.vec_id < 10 and q.vec_id != n.vec_id "
        f"and ({any_tbl})) "
        "select qid, vec_id, round(cosine, 5) as cosine_r, rnk from ("
        " select qid, vec_id, cosine, row_number() over "
        " (partition by qid order by cosine desc, vec_id) as rnk from c) "
        f"where rnk <= {k}"
    )


def _duck_louvain_golden() -> str | None:
    """Golden-VALUES oracle for the Louvain production partition (VERDICT
    r03 #2): Louvain modularity refinement is genuinely non-SQL (iterative,
    gain-ordered), so instead of SQL-ifying it the seeded deterministic
    partition at sf0.01 is committed as a golden table — exactly how the NW
    goldens guard the DP. The golden stores canonical min-member labels
    (label-scheme independent); q_dedup_clusters_louvain emits the same
    canonical form. Applies only to corpora with a committed golden
    (sf0.01 — the driver gate — and sf0.1, the bench SF, r4); any other
    registered SF returns None (rows-only fallback)."""
    return _duck_partition_golden("louvain_clusters")


def _duck_scale_golden() -> str | None:
    """Golden-VALUES oracle for the SCALE-config production partition
    (VERDICT r04 #4) — same mechanism as _duck_louvain_golden."""
    return _duck_partition_golden("scale_clusters")


def _duck_msa_golden() -> str | None:
    """Golden-VALUES oracle for the center-star MSA consensus (same
    committed-golden mechanism as the partition goldens: the MSA kernel is
    iterative DP + merge, not SQL). Rows: (cluster_id, consensus_caption,
    exemplar_image_id, size); captions are SQL-escaped by quote doubling."""
    fname = {
        "sf0.01": "msa_consensus_sf001.json",
        "sf0.1": "msa_consensus_sf01.json",
    }.get(os.path.basename(os.path.normpath(_oracle_sf_dir())))
    if fname is None:
        return None
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "golden", fname)
    if not os.path.exists(path):
        return None
    import json

    def esc(s: str) -> str:
        return s.replace("'", "''")

    rows = json.load(open(path))
    if not rows:
        # `values ()` is not valid SQL; no golden rows means no oracle
        return None
    vals = ", ".join(
        f"('{esc(c)}', '{esc(cons)}', '{esc(ex)}', {int(sz)})"
        for c, cons, ex, sz in rows
    )
    return (
        f"select cluster_id, consensus_caption, exemplar_image_id, "
        f"cast(size as bigint) as size from (values {vals}) "
        "t(cluster_id, consensus_caption, exemplar_image_id, size)"
    )


def _duck_partition_golden(prefix: str) -> str | None:
    fname = {
        "sf0.01": f"{prefix}_sf001.json",
        "sf0.1": f"{prefix}_sf01.json",
    }.get(os.path.basename(os.path.normpath(_oracle_sf_dir())))
    if fname is None:
        return None
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "golden", fname)
    if not os.path.exists(path):
        return None
    import json

    rows = json.load(open(path))
    vals = ", ".join(f"('{i}', '{c}')" for i, c in rows)
    return (
        f"select image_id, cluster_id from (values {vals}) "
        "t(image_id, cluster_id)"
    )


def _oracle_sf_dir() -> str:
    """The SF dir whose tables the oracle-runner registered (ADVICE r03 #1).

    The driver's correctness gate runs at sf0.01 and does not set the env
    var, so the default matches it; scripts/check_contract.py exports
    DYNA_ORACLE_SF_DIR so data-dependent oracles (IVF centroids, the Louvain
    golden) either track the registered corpus or drop to rows-only instead
    of producing a guaranteed false MISMATCH."""
    return os.environ.get("DYNA_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _try_oracle(fn, *a, **kw):
    """Build one oracle SQL string, degrading THAT query to rows-only on any
    construction failure instead of taking down the whole dict (ADVICE r03
    #2: an assert/parquet-read/k-means error in one helper must not fail all
    44 value checks)."""
    try:
        return fn(*a, **kw)
    except Exception:
        return None


def _duck_ivf_topk(k: int = 5, n_centroids: int = 32, n_probe: int = 4,
                   seed: int = 777, sample_max: int = 20_000) -> str | None:
    """DuckDB twin of q_ann_ivf_topk. The coarse-quantizer centroids are
    derived OUTSIDE Spark from the same deterministic sample (lowest
    ``sample_max`` vec_ids of the sf0.01 embeddings parquet) by the engine's
    own numpy kernel (annsearch.ivf_centroids_np) — the inlined-constants
    pattern simhash_planes_int / hyperplanes established: the constants'
    kernel is pytest-gated (tests/test_annsearch_vec.py), and everything
    AFTER them is replayed independently in SQL — cell assignment (argmax
    dot with min-id tiebreak; normalization drops out of the argmax), the
    n_probe probe set, the single-cell equi-join candidate set, exact
    cosine, and the (cosine desc, vec_id) top-k ranking.

    Float-order assumption (same class as the other value-exact cosine
    oracles): numpy's blocked dot vs DuckDB's sequential list_inner_product
    differ at ~1e-16 relative, so the argmax / probe-boundary decisions
    agree unless two DISTINCT k-means centroids score within roundoff of
    each other for some row — which requires exact float64 ties this data
    does not produce.

    Returns None (key omitted -> the driver's rows-only check, the r02
    status quo) if the canonical driver testdata parquet is absent.
    """
    path = os.path.join(_oracle_sf_dir(), "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    from dynaalign_spark.annsearch import ivf_centroids_np

    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(sample_max)
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    cents = ivf_centroids_np(x, n_centroids, seed=seed)
    cvals = ", ".join(
        "({}, [{}]::double[])".format(
            c, ", ".join(repr(float(w)) for w in cents[c]))
        for c in range(cents.shape[0])
    )
    return (
        "with e as (select vec_id, embedding::double[] as v from embeddings), "
        f"cent(c, w) as (values {cvals}), "
        # n_centroids-way fan-out per row — the SQL mirror of the engine
        # broadcasting the centroid table into its assignment UDF
        "sc as (select e.vec_id, cent.c, list_inner_product(e.v, cent.w) as s "
        "from e cross join cent), "
        "rk as (select vec_id, c, row_number() over "
        "(partition by vec_id order by s desc, c) as rn from sc), "
        "cell as (select vec_id, c from rk where rn = 1), "
        "probe as (select vec_id as qid, c from rk "
        f"where vec_id < 10 and rn <= {n_probe}), "
        "cand as (select probe.qid, cell.vec_id from probe "
        "join cell on cell.c = probe.c and cell.vec_id != probe.qid), "
        "sco as (select cand.qid, cand.vec_id, "
        "list_cosine_similarity(q.v, n.v) as cosine "
        "from cand join e q on q.vec_id = cand.qid "
        "join e n on n.vec_id = cand.vec_id) "
        "select qid, vec_id, round(cosine, 5) as cosine_r, rnk from ("
        " select qid, vec_id, cosine, row_number() over "
        " (partition by qid order by cosine desc, vec_id) as rnk from sco) "
        f"where rnk <= {k}"
    )


def oracle_sql() -> dict[str, str]:
    out = {
        "shingle_counts": (
            f"select doc_id, count(*) as n_shingles, count(distinct shingle) as n_distinct "
            f"from ({_SHINGLES.format(k=K)}) group by doc_id"
        ),
        "vocab_top": (
            f"select shingle, count(distinct doc_id) as doc_freq "
            f"from ({_SHINGLES.format(k=K)}) group by shingle "
            f"order by doc_freq desc, shingle limit 100"
        ),
        "jaccard_pairs": (
            f"select a, b, inter_cnt, union_cnt, round(jaccard, 9) as jaccard_r "
            f"from ({_JPAIRS})"
        ),
        "distance_pairs": (
            f"select a, b, round(1 - jaccard, 9) as dist_r from ({_JPAIRS})"
        ),
        "similarity_stats": (
            f"select count(*) as n_pairs, round(avg(jaccard), 9) as mean_sim, "
            f"round(quantile_cont(jaccard, 0.5), 9) as median_sim, "
            f"round(min(jaccard), 9) as min_sim, round(max(jaccard), 9) as max_sim "
            f"from ({_JPAIRS})"
        ),
        "most_similar_pair": (
            f"select a, b, round(jaccard, 9) as sim from ({_JPAIRS}) "
            f"order by jaccard desc, a, b limit 1"
        ),
        "quantile_edges": (
            f"with p as ({_JPAIRS}), t as "
            f"(select round(quantile_cont(jaccard, 0.8), 9) as threshold_r from p) "
            f"select t.threshold_r, count(*) as n_edges from p, t "
            f"where round(p.jaccard, 9) >= t.threshold_r group by t.threshold_r"
        ),
        "tabulate_sizes": (
            "select lang as cluster_id, count(*) as size from documents group by lang"
        ),
        "exact_dedup": (
            "select min(doc_id) as canonical_id, count(*) as dup_count "
            "from (select doc_id, lang, len(string_split(text, ' ')) as n_tokens from documents) "
            "group by lang, n_tokens having count(*) > 1"
        ),
        "token_count": (
            "select doc_id, len(string_split(text, ' ')) as n_tokens, "
            "length(text) as n_chars_calc from documents"
        ),
        "quality_score": (
            "select doc_id, len(string_split(text, ' ')) as n_tokens, "
            "round(length(text)::double / len(string_split(text, ' ')), 9) as mean_tok_len, "
            f"round({_hits('en')}::double / len(string_split(text, ' ')), 9) as stopword_ratio, "
            "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::double / length(text), 9)"
            " as alpha_ratio from documents"
        ),
        "lang_id": (
            "select doc_id, case "
            f"when {_hits('en')} >= {_hits('de')} and {_hits('en')} >= {_hits('es')} "
            f" and {_hits('en')} >= {_hits('fr')} and {_hits('en')} >= {_hits('zh')} then 'en' "
            f"when {_hits('de')} >= {_hits('es')} and {_hits('de')} >= {_hits('fr')} "
            f" and {_hits('de')} >= {_hits('zh')} then 'de' "
            f"when {_hits('es')} >= {_hits('fr')} and {_hits('es')} >= {_hits('zh')} then 'es' "
            f"when {_hits('fr')} >= {_hits('zh')} then 'fr' "
            "else 'zh' end as pred_lang from documents"
        ),
        "substring_pairs": (
            "select a.doc_id as contained, b.doc_id as container from documents a "
            "join documents b on a.doc_id != b.doc_id "
            "where length(a.text) >= 8 and contains(b.text, a.text)"
        ),
        "substring_lcp_pairs": (
            "with g as ("
            " select doc_id, l, unnest(list_distinct(list_transform("
            "  generate_series(1, length(text) - l + 1),"
            "  p -> substring(text, p, l)))) as gram"
            " from documents, (select unnest(generate_series(32, 48)) as l)"
            " where length(text) >= l) "
            "select x.doc_id as a, y.doc_id as b, max(x.l)::int as maxlen "
            "from g x join g y on x.l = y.l and x.gram = y.gram "
            "and x.doc_id < y.doc_id group by 1, 2"
        ),
        "winnow_fingerprints": lambda: _duck_winnow(8, 4),
        "char_matrix": lambda: (
            f"{_duck_rpath_cte(K)} "
            "select v.idx, memb.doc_id from memb join v using(s)"
        ),
        "minhash_r_components": lambda: (
            f"{_duck_rpath_sig(K)} select doc_id, h::int as h, comp from sig"
        ),
        "minhash_r_distance": lambda: (
            f"{_duck_rpath_sig(K)}, "
            "ids as (select distinct doc_id from sig), "
            "ap as (select x.doc_id as a, y.doc_id as b from ids x "
            "join ids y on x.doc_id < y.doc_id), "
            "mt as (select x.doc_id as a, y.doc_id as b, count(*) as cnt "
            "from sig x join sig y on x.h = y.h and x.comp = y.comp "
            "and x.doc_id < y.doc_id group by 1, 2) "
            "select ap.a, ap.b, "
            f"round(1.0 - coalesce(mt.cnt, 0) / {float(PARITY.n_hash)}, 9) as dist_r "
            "from ap left join mt on ap.a = mt.a and ap.b = mt.b"
        ),
        "minhash_components": lambda: (
            f"{_duck_murmur_sig(K)} select image_id, h::int as h, comp from sig"
        ),
        # Capped band-emission twin (r4, closing the r02 uncapped-band
        # assumption): _duck_capped_cand mirrors band_group_cap + sorted
        # chain pairing, so this stays value-exact even when a fixture's
        # band groups exceed the cap (sf0.1 did — CORRECTNESS_SF01.md).
        # incremental_matches (r=1 streaming) keeps the uncapped form: its
        # fixture is the bounded events stream, far below the cap.
        "lsh_candidates": lambda: (
            f"{_duck_murmur_sig(K)}, {_duck_capped_cand()} "
            "select a, b, round(sim, 9) as sim_r from cand"
        ),
        "cc_components": (
            f"with recursive e0 as materialized (select a, b from ({_JPAIRS})), "
            "e as materialized (select a as x, b as y from e0 "
            "union select b as x, a as y from e0), "
            "vx as (select distinct x as doc_id from e), "
            "reach(doc_id, r) as ("
            " select doc_id, doc_id from vx"
            " union"
            " select reach.doc_id, e.y from reach join e on e.x = reach.r) "
            "select doc_id, min(r) as component from reach group by doc_id"
        ),
        "simhash_captions": lambda: _duck_simhash(4),
        "simhash_pairs": lambda: (
            f"with s as ({_duck_simhash(4)}) "
            "select x.doc_id as a, y.doc_id as b, "
            "bit_count(xor(x.simhash, y.simhash))::int as hamming "
            "from s x join s y on x.doc_id < y.doc_id "
            "where bit_count(xor(x.simhash, y.simhash)) <= 6"
        ),
        "embedding_neardup": lambda: _duck_neardup_lsh(0.35),
        "embedding_neardup_exact": (
            "select x.vec_id as a, y.vec_id as b, "
            "round(list_cosine_similarity(x.embedding::double[], y.embedding::double[]), 5)"
            " as cosine_r "
            "from embeddings x join embeddings y on x.vec_id < y.vec_id "
            "where round(list_cosine_similarity(x.embedding::double[], y.embedding::double[]), 5)"
            " >= 0.35"
        ),
        "ann_cosine_topk": (
            # ::double[] BEFORE the similarity: float32 products differ from
            # the engine's double-first _dot at the 5th decimal (r4)
            "select qid, vec_id, round(cosine, 5) as cosine_r, rnk from ("
            " select q.vec_id as qid, n.vec_id as vec_id,"
            "  list_cosine_similarity(q.embedding::double[], n.embedding::double[]) as cosine,"
            "  row_number() over (partition by q.vec_id order by"
            "   list_cosine_similarity(q.embedding::double[], n.embedding::double[]) desc,"
            "   n.vec_id) as rnk"
            " from embeddings q join embeddings n on q.vec_id < 10 and q.vec_id != n.vec_id"
            ") where rnk <= 5"
        ),
        "embedding_stats": (
            "select label, count(*) as n, round(avg(sqrt(list_aggregate("
            "list_transform(embedding::double[], x -> x * x), 'sum'))), 6) as mean_norm "
            "from embeddings group by label"
        ),
        "agg_pricing": (
            "select l_returnflag, l_linestatus, round(sum(l_quantity), 6) as sum_qty, "
            "round(sum(l_extendedprice), 6) as sum_base_price, "
            "round(avg(l_discount), 9) as avg_disc, count(*) as count_order "
            "from lineitem where l_shipdate <= '2024-09-02' "
            "group by l_returnflag, l_linestatus"
        ),
        "join_topk_customers": (
            "select c_custkey, c_name, round(sum(o_totalprice), 6) as revenue "
            "from orders join customer on o_custkey = c_custkey "
            "group by c_custkey, c_name order by revenue desc, c_custkey limit 10"
        ),
        "window_user_latest": (
            "select user_id, event_id, event_type from ("
            " select user_id, event_id, event_type,"
            " row_number() over (partition by user_id order by ts desc, event_id desc) as rn"
            " from events) where rn = 1"
        ),
        "unused_parts": (
            "select p_partkey from part where not exists "
            "(select 1 from lineitem where l_partkey = p_partkey)"
        ),
        "minhash_signatures": lambda: (
            f"{_duck_murmur_sig(K)} "
            "select image_id, count(*)::int as sig_len, "
            "max(case when h = 0 then comp end) as h0 "
            "from sig group by image_id"
        ),
        "incremental_matches": lambda: (
            # r=1 band keys ARE the signature components, so a (new, known)
            # candidate = >=1 agreeing component and its sim = agreement/50
            # (self-matches included: a re-ingested doc collides with itself)
            f"{_duck_murmur_sig(K)}, "
            "ag as (select x.image_id as new_id, y.image_id as known_id, "
            "count(*) as cnt from sig x join sig y "
            "on x.h = y.h and x.comp = y.comp "
            "where x.image_id < 'doc00000050' group by 1, 2) "
            f"select new_id, known_id, round(cnt / {float(PARITY.n_hash)}, 9) as sim_r "
            f"from ag where cnt / {float(PARITY.n_hash)} >= 0.5"
        ),
        "ann_lsh_topk": lambda: _duck_ann_lsh_topk(),
        "dedup_clusters": lambda: (
            f"{_duck_cc_clusters()} select image_id, cluster_id from clus"
        ),
        "multitier_clusters": lambda: (
            f"{_duck_cc_clusters(with_xtier=True)} "
            "select image_id, cluster_id from clus"
        ),
        "cluster_consensus": lambda: _duck_consensus(),
        "image_features": lambda: _duck_image_features(),
        "pixel_dedup_clusters": lambda: _duck_pixel_clusters(),
        "audio_features": lambda: _duck_audio_features(),
        "frame_sample": lambda: _duck_frame_sample(),
        "nw_similarity": lambda: _duck_nw(_nw_pairs_sql(all_pairs=True)),
        "nw_verified_pairs": lambda: _duck_nw(_nw_pairs_sql(all_pairs=False)),
        "ann_ivf_topk": _duck_ivf_topk,
        "dedup_clusters_louvain": _duck_louvain_golden,
        "dedup_clusters_scale": _duck_scale_golden,
        "cluster_consensus_msa": _duck_msa_golden,
    }
    # Plain strings are pre-built (pure f-string interpolation over module
    # constants — cannot fail); callables are evaluated via _try_oracle so a
    # broken helper degrades ONLY its own query to the rows-only check
    # (ADVICE r03 #2). None (construction failed / data-dependent oracle not
    # applicable to the registered SF) drops the key.
    resolved = {}
    for name, v in out.items():
        sql = v if isinstance(v, str) else _try_oracle(v)
        if sql is not None:
            resolved[name] = sql
    return resolved
