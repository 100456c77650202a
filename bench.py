"""Benchmark harness (driver contract).

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: the north-rule two-cluster-size evidence — runs the identical
dedup job on the identical input at local[N/4] and local[N] (N = the CPUs
in this process's affinity mask) in fresh subprocesses (one JVM each),
reports images/sec at both and efficiency = tput(N) / (4 * tput(N/4)).
Results land in BENCH.md. Every dedup query runs the job's stage list
(stages.dedup_clusters) in memory.

The dedup headline runs over a deterministic synthetic `images` table
(BASELINE.json input_hint shape; fixtures.make_images, cached as parquet
under bench_data/) — no external data.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HOST_CPUS = len(os.sched_getaffinity(0))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(HOST_CPUS))
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_data")
IMAGES_N_CLUSTERS = 1200      # ~8.6k rows: the per-round bench table
SCALING_N_ROWS = int(os.environ.get("DYNA_SCALE_ROWS", "6400000"))
                              # the two-cluster-size scaling table (sized so
                              # per-core work dominates fixed driver overhead
                              # at local[N/4] vs local[N] — the efficiency
                              # denominator is honest parallel work)
IMAGES_SEED = 42


def _mem_available_gb() -> int:
    """MemAvailable in whole GiB (0 when /proc/meminfo is unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemAvailable")).split()[1])
        return kb // (1024 * 1024)
    except (OSError, StopIteration, IndexError, ValueError):
        return 0


# Shuffle files on tmpfs: in local mode every "executor" shares one disk, so
# shuffle I/O is a serial constant that poisons the N-vs-4N comparison; a
# real cluster gives each executor its own local NVMe. tmpfs restores the
# per-core scaling of shuffle writes (126G available, shuffles are ~10G).
# Per-PID subdir + atexit cleanup: tmpfs counts against RAM, and a worker
# that dies ungracefully (OOM/SIGKILL) leaves its shuffle files behind —
# measured 85 GB of dead residue after one killed 6.4M run, enough to OOM
# every later JVM on this 126 GB box. Graceful exits are cleaned by Spark;
# this cleans the crash case (next run's sweep removes dirs with no live
# owner pid).
SHM_ROOT = "/dev/shm/spark-local"


def sweep_shm_residue(root: str = SHM_ROOT) -> None:
    """Remove the `pid-N` dirs under `root` whose owning pid is gone
    (crashed earlier runs). Anything else under `root` is not ours to
    delete: a live run's dir, or a dir another tool put there."""
    if not os.path.isdir(root):
        return
    for d in os.listdir(root):
        m = re.fullmatch(r"pid-(\d+)", d)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def use_shm_local_dirs() -> None:
    """Point SPARK_LOCAL_DIRS at this run's own `pid-N` dir under /dev/shm
    (removed at exit) after sweeping dead runs' dirs. Worker subprocesses
    inherit the parent's dir; an explicit SPARK_LOCAL_DIRS wins."""
    if not os.path.isdir("/dev/shm") or "SPARK_LOCAL_DIRS" in os.environ:
        return
    import atexit

    sweep_shm_residue()
    mine = os.path.join(SHM_ROOT, f"pid-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = mine
    atexit.register(lambda: shutil.rmtree(mine, ignore_errors=True))


def images_parquet(spark, n_clusters: int = IMAGES_N_CLUSTERS) -> str:
    """Generate-once parquet cache of the synthetic images table."""
    path = os.path.join(CACHE_DIR, f"images_c{n_clusters}_s{IMAGES_SEED}.parquet")
    if not os.path.exists(path):
        from dynaalign_spark.fixtures import images_df, make_images

        rows, _ = make_images(n_clusters=n_clusters, seed=IMAGES_SEED)
        images_df(spark, rows).repartition(32).write.mode("overwrite").parquet(path)
    return path


def _scale_tiers() -> list[str]:
    """DYNA_TIERS='pixel,substring' -> extra edge tiers merged into the
    scaling job (the north-rule multitier run); empty = caption tier only."""
    return [t for t in os.environ.get("DYNA_TIERS", "").split(",") if t.strip()]


def _scaling_path() -> str:
    """Tiered runs use the per-block-pixels fixture variant ('bp' suffix):
    the default driver-pool pixels make every row an exact pixel dup of
    n/32 others, which degenerates the pixel tier into corpus-sized
    fingerprint groups (see fixtures.generate_images_distributed)."""
    suffix = "bp_" if _scale_tiers() else ""
    return os.path.join(
        CACHE_DIR, f"images_dist_{suffix}{SCALING_N_ROWS}_s{IMAGES_SEED}.parquet")


def scaling_parquet(spark) -> str:
    """Generate-once large table (make_images_light) for --scaling."""
    path = _scaling_path()
    if not os.path.exists(path):
        from dynaalign_spark.fixtures import generate_images_distributed

        df = generate_images_distributed(spark, SCALING_N_ROWS, seed=IMAGES_SEED,
                                         per_block_pixels=bool(_scale_tiers()))
        df.write.mode("overwrite").parquet(path)
    return path


def bench_queries(spark):
    """name -> (callable returning a DataFrame, row-count action is the timer)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from dynaalign_spark import annsearch, textops

    img_path = images_parquet(spark)

    def dedup_images():
        return dedup(spark, spark.read.parquet(img_path), [])

    def dedup_multitier():
        """The north-rule multi-signal merge: caption MinHash ∪ pixel
        SimHash ∪ substring containment edges -> one cluster assignment."""
        return dedup(spark, spark.read.parquet(img_path), ["pixel", "substring"])

    def minhash_signatures():
        return entrymod.q_minhash_signatures(spark, SF_DIR)

    def ann_topk():
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        queries = emb.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        return annsearch.cosine_topk(emb, queries, k=10)

    qs = {
        "dedup_images": dedup_images,
        "dedup_multitier": dedup_multitier,
        "minhash_signatures": minhash_signatures,
        # bench variant is the scale path: MinHash-LSH candidate generation +
        # exact array_intersect verification (the shared-vocab corpus makes
        # every doc pair co-shingled, so the all-candidate exact form is
        # intrinsically quadratic; LSH prunes ~98% of the j<0.2 mass with
        # ~96% detection at j=0.5 and exact values on every returned pair)
        "jaccard_pairs": lambda: textops.ngram_jaccard_pairs_lsh(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), 6, threshold=0.5,
        ),
        "substring_pairs": lambda: entrymod.q_substring_pairs(spark, SF_DIR),
        # distributed suffix-array pass (exact capped LCS per doc pair)
        "substring_lcp": lambda: entrymod.q_substring_lcp_pairs(spark, SF_DIR),
        # multiprobe hyperplane-LSH near-dup (the no-crossJoin scale path)
        "embedding_neardup": lambda: entrymod.q_embedding_neardup(spark, SF_DIR),
        "ann_topk": ann_topk,
        "agg_pricing": lambda: entrymod.q_agg_pricing(spark, SF_DIR),
        "join_topk_customers": lambda: entrymod.q_join_topk_customers(spark, SF_DIR),
        "window_user_latest": lambda: entrymod.q_window_user_latest(spark, SF_DIR),
    }
    return qs, img_path


def dedup(spark, images, tier_names: list[str]):
    """The job's stage list (stages.dedup_clusters) in memory, under the
    bench config, with the named tiers ("pixel", "substring") -> clusters."""
    from dynaalign_spark import tiers
    from dynaalign_spark.config import SCALE
    from dynaalign_spark.stages import StageRunner, dedup_clusters

    cfg = SCALE.with_(size_max=50, size_min=1, cache_storage=_default_storage())
    builders = tiers.tier_edges(
        images, cfg, pixel="pixel" in tier_names,
        substring_mode="containment" if "substring" in tier_names else None)
    return dedup_clusters(images, cfg, StageRunner(spark, None), builders)["clusters"]


def _substrate_probe() -> dict:
    """In-window substrate calibration stamped into every bench artifact:
    the sandbox VM's hypervisor grant swings by ~10x between rounds/minutes
    (measured: per-proc ALU 0.08M-3.1M iter/s, DRAM 8-205 GB/s aggregate),
    so absolute per-round wall times are only comparable through this probe
    (see BENCH.md, substrate-calibrated protocol)."""
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from membw import measure_alu

        return {"alu_iters_1p": round(measure_alu(1)),
                "alu_iters_8p": round(measure_alu(8))}
    except Exception as e:  # probe must never fail the bench
        return {"error": str(e)[:100]}


def run_bench() -> dict:
    from dynaalign_spark.session import get_spark

    sub_before = _substrate_probe()
    spark = get_spark(app="dynaalign-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS), extra=_env_extra())
    spark.sparkContext.setLogLevel("ERROR")
    qs, img_path = bench_queries(spark)
    n_images = spark.read.parquet(img_path).count()
    # min-of-N per query (DYNA_BENCH_REPS, default 2) — the same steady-state
    # protocol the scaling workers use. A single-shot first run folds Python
    # worker-pool spin-up, parquet/page-cache first-touch, and codegen JIT
    # into whichever query runs FIRST (dedup_images paid all of it in
    # r1-r3); min-of-2 measures each query's steady state and `reps` keeps
    # every raw timing in the artifact so the cold-start cost stays visible.
    n_reps = max(1, int(os.environ.get("DYNA_BENCH_REPS", "2")))
    times, reps, total = {}, {}, 0.0
    for name, fn in qs.items():
        rs = []
        for _ in range(n_reps):
            t0 = time.time()
            fn().count()
            rs.append(time.time() - t0)
        times[name] = round(min(rs), 3)
        reps[name] = [round(r, 3) for r in rs]
        total += min(rs)
    spark.stop()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None
    return {
        "metric": "total_bench_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "query_reps": reps,
        "protocol": f"min-of-{n_reps} per query (DYNA_BENCH_REPS)",
        "sf": sf,
        "images_per_sec": round(n_images / times["dedup_images"], 1),
        "n_images": n_images,
        "cpus": int(CPUS),
        "substrate": {"before": sub_before, "after": _substrate_probe(),
                      "note": "hypervisor-grant probe (scripts/membw.py); "
                              "see BENCH.md substrate-calibrated protocol"},
    }


def _worker_dedup(cpus: int) -> None:
    """Subprocess body: one dedup job at local[cpus]; prints a JSON line."""
    from dynaalign_spark.session import get_spark

    # shuffle partitions = cores at both parallelism levels (a scale-invariant
    # sizing rule, so the N-vs-4N comparison stays fair); DYNA_SHUFFLE_PARTS
    # overrides absolutely
    parts = int(os.environ.get("DYNA_SHUFFLE_PARTS", str(cpus)))
    spark = get_spark(app=f"dedup-scale-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=parts, extra=_env_extra(),
                      input_bytes_hint=_scaling_input_bytes())
    spark.sparkContext.setLogLevel("ERROR")
    path = scaling_parquet(spark)
    images = spark.read.parquet(path)
    n = images.count()
    scale_tiers = _scale_tiers()

    # warm the JVM (JIT), the Python UDF worker pool, and the parquet cache
    # with a miniature end-to-end run, so the timed run measures steady-state
    # throughput — the same warmup at both parallelism levels (what a real
    # long-lived cluster job sees after its first minutes)
    dedup(spark, images.limit(20_000), scale_tiers).count()
    # one timed run: single-shot local-mode timings swing +-20% with
    # GC/page-cache state, so run_scaling takes the minimum across its
    # interleaved invocations, identically at both parallelism levels
    t0 = time.time()
    n_out = dedup(spark, images, scale_tiers).count()
    dt = time.time() - t0
    print(json.dumps({"cpus": cpus, "rows": n, "out": n_out, "sec": round(dt, 3),
                      "reps": [round(dt, 3)], "tiers": scale_tiers,
                      "images_per_sec": round(n / dt, 1)}))
    spark.stop()


def _scaling_input_bytes() -> int | None:
    """On-disk size of the (pre-generated) scaling parquet — the
    input_bytes_hint that sizes scan splits / AQE advisory per core count."""
    path = _scaling_path()
    if not os.path.isdir(path):
        return None
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _env_extra() -> dict:
    """DYNA_CONF='k=v;k=v' -> extra Spark conf (A/B knobs for BENCH.md);
    DYNA_OFFHEAP -> off-heap memory size ('0' disables)."""
    extra = {}
    for kv in os.environ.get("DYNA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    # Off-heap execution+storage memory, default ON (r3 A/B, BENCH.md):
    # cached columnar batches and shuffle/execution buffers leave the GC
    # heap, decoupling the Python-heavy stages from earlier stages' cache
    # residency — the round-2 profile showed shared-heap GC as the serial
    # cost limiting in-pipeline stage scaling (refine 0.35 in-pipeline vs
    # 0.86 clean-JVM). Measured local[32] 1.6M: wall 345.3s -> 194.4s with
    # the substrate probe slightly WORSE during the off-heap leg. Same
    # deser cost as on-heap (the SQL cache is columnar bytes either way);
    # unlike the rejected DISK_ONLY variant there is no tmpfs copy.
    oh = _offheap_size()
    if oh != "0":
        extra.setdefault("spark.memory.offHeap.enabled", "true")
        extra.setdefault("spark.memory.offHeap.size", oh)
    # Shuffle files live on tmpfs (RAM): they are deleted only when the
    # driver GCs the ShuffleDependency (ContextCleaner), and Spark's
    # periodic-GC backstop defaults to 30 MINUTES — a slow multitier rep
    # accumulates every stage's shuffle (measured 77 GB at 6.4M) before the
    # first cleanup, and JVM + tmpfs overshoot the box (two OOM kills,
    # BENCH.md operational note). A 2-minute periodic GC bounds tmpfs
    # residency at a few stages' worth; applied identically at every
    # parallelism level (a fixed background cost, not a scaling term).
    extra.setdefault("spark.cleaner.periodicGC.interval", "2min")
    return extra


def _offheap_size() -> str:
    """Validated/normalized DYNA_OFFHEAP (ADVICE r03 #3): '' or malformed
    values degrade to '0' (off) rather than configuring an invalid or
    zero-size pool; the default is sized from MemAvailable so hosts smaller
    than the bench sandbox don't OOM (16g only when >=64 GiB is free,
    else a quarter of available, floor 1g)."""
    raw = os.environ.get("DYNA_OFFHEAP")
    if raw is not None:
        raw = raw.strip().lower()
        if re.fullmatch(r"\d+[kmgt]?b?", raw or ""):
            return "0" if re.fullmatch(r"0+[kmgt]?b?", raw) else raw
        return "0"
    avail_gb = _mem_available_gb()
    if avail_gb >= 64:
        return "16g"
    return f"{max(1, avail_gb // 4)}g" if avail_gb >= 4 else "0"


def _default_storage() -> str:
    """Stage-cache StorageLevel paired with the FINAL resolved off-heap conf
    (ADVICE r03 #3): DYNA_CONF can override the off-heap defaults via
    _env_extra's setdefault, and OFF_HEAP with a disabled/zero pool silently
    fails to cache — so decide from the merged conf, not DYNA_OFFHEAP."""
    conf = _env_extra()
    enabled = conf.get("spark.memory.offHeap.enabled", "false").lower() == "true"
    size = conf.get("spark.memory.offHeap.size", "0").strip().lower()
    off = not enabled or not size or re.fullmatch(r"0+[kmgt]?b?", size)
    return "MEMORY_AND_DISK" if off else "OFF_HEAP"


def _worker_gen() -> None:
    """Subprocess body: pre-generate the scaling parquet at full parallelism
    so neither timed worker pays generation cost."""
    from dynaalign_spark.session import get_spark

    spark = get_spark(app="dedup-scale-gen", master=f"local[{HOST_CPUS}]",
                      shuffle_partitions=HOST_CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    scaling_parquet(spark)
    spark.stop()


def run_scaling() -> dict:
    """N vs 4N cores on identical input -> scaling efficiency.

    DYNA_SCALE_CPUS='n,4n' picks the two levels (default: a quarter of the
    affinity mask's CPUs, at least 1, and all of them). Each level is
    pinned to exactly its core budget with taskset (cpus 0-(n-1)): without
    the pin, the local[n] JVM's GC threads, Spark internal pools, and
    Python/Arrow UDF worker processes free-ride on the idle cores,
    overstating N-core throughput — a real N-executor cluster has no idle
    4N-cluster to borrow from. Java and Python both derive their thread-pool
    sizes from sched_getaffinity, so the pin confines everything.
    """
    default = f"{max(1, HOST_CPUS // 4)},{HOST_CPUS}"
    lo, hi = (int(c) for c in os.environ.get("DYNA_SCALE_CPUS", default).split(","))
    factor = hi / lo
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker-gen"],
        capture_output=True, text=True, timeout=1800,
    )

    def substrate_eff() -> dict:
        """Same-time-window hypervisor calibration: pure in-L1 ALU work at
        lo vs hi pinned processes (scripts/membw.py probe). This sandbox VM
        does not deliver 4x the compute from 8->32 vCPUs even for perfect
        code (measured 3.0-3.5x, varying by the minute with host
        contention), so the raw pipeline ratio is reported alongside this
        ceiling and the substrate-normalized efficiency."""
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
        from membw import measure_alu

        a_lo, a_hi = measure_alu(lo), measure_alu(hi)
        return {f"alu_{lo}": round(a_lo), f"alu_{hi}": round(a_hi),
                "eff": round(a_hi / (factor * a_lo), 3)}

    # Interleaved schedule: FOUR single-rep workers lo,hi,lo,hi, taking the
    # per-level best — both parallelism levels sample the same
    # hypervisor-grant timeline. The retired 'block' order (all lo reps,
    # then all hi reps) is maximally exposed to a monotonic burst-credit
    # drain: measured on 2026-08-18, a block run's 32-core leg ran 334.7s
    # min where the SAME code/config/data measured 194.4s ninety minutes
    # earlier, while its 8-core leg (first, on refilled credits) ran 227.3s
    # — a raw "0.17 efficiency" that is pure substrate sequencing, no
    # pipeline story at all (BENCH.md). Interleaving cannot stop the grant
    # from moving, but it stops the ordering from loading the dice for
    # either level.
    schedule = [lo, hi, lo, hi]
    runs: dict[int, list] = {lo: [], hi: []}
    sub = {"before": substrate_eff()}
    for cpus in schedule:
        cmd = [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)]
        if shutil.which("taskset") and (os.cpu_count() or 0) >= cpus:
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        # DYNA_WORKER_TIMEOUT: on a throttled hypervisor window the same leg
        # can run 10x slower (BENCH.md substrate notes) — the 6.4M 8-core leg
        # measured ~21 min in a healthy window and blew a 60-min timeout in a
        # crippled one. Fail with a clear message, not a traceback.
        budget = int(os.environ.get("DYNA_WORKER_TIMEOUT", "3600"))
        try:
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=budget)
        except subprocess.TimeoutExpired:
            raise SystemExit(
                f"scaling worker local[{cpus}] exceeded {budget}s — substrate "
                f"likely throttled (run scripts/membw.py); retry with a smaller "
                f"DYNA_SCALE_ROWS or larger DYNA_WORKER_TIMEOUT"
            )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        runs[cpus].append(json.loads(line))
    sub["after"] = substrate_eff()
    out = {}
    for cpus in (lo, hi):
        best = max(runs[cpus], key=lambda d: d["images_per_sec"])
        # headline images_per_sec/wall come from the best invocation, so its
        # `reps` must be that invocation's own reps (reproducible from its
        # fields); the cross-invocation pool goes under reps_all (ADVICE r03)
        out[cpus] = {**best,
                     "reps_all": [r for d in runs[cpus] for r in d["reps"]]}
    eff = out[hi]["images_per_sec"] / (factor * out[lo]["images_per_sec"])
    ceiling = (sub["before"]["eff"] + sub["after"]["eff"]) / 2.0
    return {
        "metric": f"scaling_efficiency_{lo}_to_{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "tiers": _scale_tiers(),
        "schedule": "interleave",
        "substrate_alu": sub,
        "substrate_ceiling": round(ceiling, 3),
        "normalized_value": round(eff / ceiling, 3) if ceiling else None,
        "n_lo": out[lo],
        "n_hi": out[hi],
    }


def run_skew() -> dict:
    """Adversarial-skew wall-clock evidence (VERDICT r03 #8): the same dedup
    job as the scaling benchmark, on a corpus where DYNA_SKEW_FRAC (default
    0.9) of rows share ONE caption — every band of that mass lands in one
    corpus-sized band group, the case the group cap + chain pairing exists
    for. Prints wall/throughput + the uniform-corpus comparison is made in
    BENCH.md within the same substrate window."""
    from dynaalign_spark.session import get_spark

    n_rows = int(os.environ.get("DYNA_SCALE_ROWS", "1600000"))
    frac = float(os.environ.get("DYNA_SKEW_FRAC", "0.9"))
    path = os.path.join(CACHE_DIR,
                        f"images_skew{int(frac * 100)}_{n_rows}_s{IMAGES_SEED}.parquet")
    sub_before = _substrate_probe()
    spark = get_spark(app="dedup-skew", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS), extra=_env_extra())
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        from dynaalign_spark.fixtures import generate_images_skewed

        generate_images_skewed(spark, n_rows, seed=IMAGES_SEED,
                               dup_frac=frac).write.parquet(path)
    images = spark.read.parquet(path)
    n = images.count()
    reps = []
    for _ in range(2):
        t0 = time.time()
        clusters = dedup(spark, images, [])
        n_assigned = clusters.count()
        reps.append(round(time.time() - t0, 1))
        n_clusters = clusters.select("cluster_id").distinct().count()
    spark.stop()
    wall = min(reps)
    return {
        "metric": "skew_dedup_wall",
        "value": wall,
        "unit": "sec",
        "n_rows": n,
        "dup_frac": frac,
        "images_per_sec": round(n / wall, 1),
        "n_assigned": n_assigned,
        "n_clusters": n_clusters,
        "reps": reps,
        "cpus": int(CPUS),
        "substrate": {"before": sub_before, "after": _substrate_probe()},
    }


def run_jaccard_ab() -> dict:
    """VERDICT r04 #5 evidence for the >10^8-doc Jaccard scale path.

    A/B at sf0.1 documents: capped exact tier (ngram_jaccard_pairs,
    max_doc_freq=JMAXDF — the driver-contract tier) vs the LSH
    pair-generation form (ngram_jaccard_pairs_lsh — the declared path past
    ~10^8 docs, where even the capped co-shingle join's candidate mass is
    corpus-quadratic on shared-vocab corpora). Reports wall for both, the
    banding loss (recall of >=threshold pairs vs exact), and the max value
    delta on the common pairs (must be 0 up to float and xxhash64-collision
    noise — returned values are exact by construction). Then a 1.6M-caption
    wall-clock for the LSH path alone (the exact tier is the documented
    never-the-scale-path there)."""
    from dynaalign_spark import textops
    from dynaalign_spark.session import get_spark

    thr = 0.5
    jmaxdf = int(os.environ.get("JMAXDF", "400"))
    sub_before = _substrate_probe()
    spark = get_spark(app="jaccard-ab", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS), extra=_env_extra())
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def timed(make_df, reps=2):
        best, n = None, None
        for _ in range(reps):
            t0 = time.time()
            n = make_df().count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), n

    t_exact, n_exact = timed(lambda: textops.ngram_jaccard_pairs(
        docs, 6, threshold=thr, max_doc_freq=jmaxdf))
    t_lsh, n_lsh = timed(lambda: textops.ngram_jaccard_pairs_lsh(
        docs, 6, threshold=thr))
    # Value truth is the UNCAPPED exact tier: the capped tier's jaccard is
    # over stop-shingle-FILTERED sets (by design — the driver oracle mirrors
    # the cap), so its values differ from true jaccard on pairs touching
    # dropped shingles. The LSH form computes true-set jaccard; identity is
    # claimed (and checked) against the uncapped truth, up to xxhash64
    # collision noise. Uncapped is feasible at sf0.1 (5k docs) — and is the
    # documented never-the-scale-path beyond that.
    truth = {(r["a"], r["b"]): r["jaccard"] for r in textops.ngram_jaccard_pairs(
        docs, 6, threshold=thr).collect()}
    capped = {(r["a"], r["b"]): r["jaccard"] for r in textops.ngram_jaccard_pairs(
        docs, 6, threshold=thr, max_doc_freq=jmaxdf).collect()}
    lsh = {(r["a"], r["b"]): r["jaccard"] for r in textops.ngram_jaccard_pairs_lsh(
        docs, 6, threshold=thr).collect()}
    common = set(truth) & set(lsh)
    recall = len(common) / len(truth) if truth else 1.0
    recall_capped = (len(set(truth) & set(capped)) / len(truth)) if truth else 1.0
    max_dv = max((abs(truth[p] - lsh[p]) for p in common), default=0.0)

    # 1.6M-caption wall clock, LSH path only (ids projected numeric — the
    # function's canonical a<b ordering is on long ids, fixture ids are
    # 'img%08d' strings)
    big_path = os.path.join(CACHE_DIR, "images_dist_1600000_s42.parquet")
    big = None
    if os.path.exists(big_path):
        from pyspark.sql import functions as F

        cap = (spark.read.parquet(big_path)
               .select(F.substring("image_id", 4, 8).cast("long").alias("doc_id"),
                       F.col("caption").alias("text")))
        n_rows = cap.count()
        t_big, n_big = timed(lambda: textops.ngram_jaccard_pairs_lsh(
            cap, 6, threshold=thr), reps=2)
        big = {"n_rows": n_rows, "sec": t_big, "n_pairs": n_big,
               "rows_per_sec": round(n_rows / t_big, 1)}
    spark.stop()
    return {
        "metric": "jaccard_lsh_ab",
        "unit": "sec",
        "sf_dir": SF_DIR,
        "threshold": thr,
        "exact_capped": {"sec": t_exact, "n_pairs": n_exact, "jmaxdf": jmaxdf,
                         "recall_vs_truth": round(recall_capped, 4)},
        "lsh": {"sec": t_lsh, "n_pairs": n_lsh},
        "n_pairs_truth": len(truth),
        "recall_vs_exact": round(recall, 4),
        "n_common": len(common),
        "max_value_delta_on_common": max_dv,
        "lsh_1p6M": big,
        "cpus": int(CPUS),
        "substrate": {"before": sub_before, "after": _substrate_probe()},
    }


if __name__ == "__main__":
    use_shm_local_dirs()
    # Same JVM heap at every parallelism level (local mode: driver ==
    # executor). The 8g default causes GC thrash at the 22M-pair shuffle (2x
    # wall time); 40% of MemAvailable is 32g (the cap) on a 126 GB box and 5g
    # on a 15 GB one. Worker subprocesses inherit it.
    os.environ.setdefault("SPARK_DRIVER_MEMORY",
                          f"{max(1, min(32, _mem_available_gb() * 2 // 5))}g")
    if len(sys.argv) > 1 and sys.argv[1] == "--worker-gen":
        _worker_gen()
    elif len(sys.argv) > 2 and sys.argv[1] == "--worker":
        _worker_dedup(int(sys.argv[2]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        print(json.dumps(run_scaling()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--skew":
        print(json.dumps(run_skew()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--jaccard-ab":
        print(json.dumps(run_jaccard_ab()))
    elif len(sys.argv) > 1:
        # fail fast on typos: a misspelled mode must not silently launch the
        # (expensive) default per-round bench with the wrong semantics
        raise SystemExit(
            f"unknown mode {sys.argv[1]!r}; modes: --scaling | --skew | "
            f"--jaccard-ab | "
            f"--worker N | --worker-gen | "
            f"(none = per-round bench at $SPARK_GRAFT_SF_DIR)"
        )
    else:
        print(json.dumps(run_bench()))
