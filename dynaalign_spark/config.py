"""Pipeline configuration.

Pins every knob the reference leaves implicit or nondeterministic:

- the reference draws MinHash seeds from ``std::random_device`` per call
  (reference ``src/minHash.cpp:73`` — SURVEY.md quirk Q1); we freeze a seed
  table in ``conf/seeds.json`` so runs are reproducible and testable.
- k / n_hash defaults mirror ``similarityMH(sequences, k=4, n_hash=50)``
  (reference ``src/minHash.cpp:119``).
- thresh_p / size_max / size_min / max_itr mirror ``clusterbreak``
  (reference ``R/clusterbreak.R:180-188``).
- LSH banding has no reference twin (the reference does dense all-pairs,
  ``src/minHash.cpp:160-178``); (bands, rows_per_band) with
  bands*rows_per_band == n_hash controls the candidate generator.
  rows_per_band=1 makes the candidate set a superset of every pair with
  sim > 0, i.e. *exactly* the reference's post-threshold edge set (parity
  mode); rows_per_band>=2 is the web-scale mode (fewer, hotter-filtered
  candidates).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, replace

_CONF_PATH = os.path.join(os.path.dirname(__file__), "..", "conf", "seeds.json")

UINT32_MAX = 0xFFFFFFFF


def _load_seed_table() -> dict:
    path = os.path.abspath(_CONF_PATH)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    # spark-submit --py-files engine.zip: the package lives inside a zip, so
    # resolve conf/seeds.json through the zip instead of the filesystem
    import zipfile

    p = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    while p and p != os.path.dirname(p):
        if zipfile.is_zipfile(p):
            with zipfile.ZipFile(p) as z, z.open("conf/seeds.json") as f:
                return json.load(f)
        p = os.path.dirname(p)
    raise FileNotFoundError(f"seeds.json not found near {_CONF_PATH}")


@dataclass(frozen=True)
class DedupConfig:
    # MinHash (reference defaults: src/minHash.cpp:119)
    k: int = 4
    n_hash: int = 50
    seeds: tuple[int, ...] = ()

    # clusterbreak (reference defaults: R/clusterbreak.R:180-188)
    thresh_p: float = 0.8
    size_max: int = 10
    size_min: int = 3
    max_itr: int = 10000
    louvain_resolution: float = 1.05
    # pluggable cluster_fn (reference clusterbreak's cluster_fn arg,
    # R/clusterbreak.R:186): "louvain" = single run at louvain_resolution;
    # "louvain_mod" = the reference's resolution grid-search
    # (R/clusterbreak.R:37-67) over [res*(1-perc), res*(1+perc)] by res_step
    # with res_itr deterministic restarts per point, keeping max modularity;
    # "cc" = igraph-components stand-in (no modularity refinement, no
    # size_max recursion) — the parity/oracle tier whose output partition is
    # exactly the connected components of the thresholded edge set and hence
    # SQL-expressible (used by the driver's value-exact cluster oracles)
    cluster_fn: str = "louvain"
    res_range_perc: float = 0.0
    res_step: float = 0.0
    res_itr: int = 3

    # LSH banding (scale extension; no reference twin)
    bands: int = 50
    rows_per_band: int = 1
    band_group_cap: int = 2000      # groups larger than this switch to chain pairing
    chain_width: int = 2            # neighbors linked per member in hot bands
    shuffle_partitions: int = 32

    # phash bit-shingle fusion (north-rule axis A)
    use_phash_shingles: bool = False
    phash_gram: int = 4             # k-gram over the 16 hex nibbles of the 64-bit phash

    # SimHash tier (north-rule axis B)
    simhash_bits: int = 64
    simhash_seed: int = 4242
    simhash_max_hamming: int = 8
    # "int": integer-lattice fingerprint (codec.luma_grid_sums +
    # hashing.simhash_bits_int) — bit-identical across engines/BLAS/hardware,
    # hence SQL-oracle-checkable; "float": gaussian-projection over the
    # float luma grid (hashing.simhash_bits), kept for dense float features.
    simhash_kernel: str = "int"
    psnr_threshold_db: float = 40.0

    # signature verify-join strategy: corpora up to this many rows broadcast
    # the (int-cast) signature table instead of shuffling it per pair —
    # ~200B/row, so 8M rows ~= 1.6 GB broadcast, fine for multi-GB executors;
    # beyond it the join shuffles (production: bucketed co-located fetch)
    sig_broadcast_max: int = 8_000_000

    # absolute edge-similarity floor, composed as max(quantile, min_edge_sim).
    # 0.0 = pure reference semantics (quantile only). At web scale the corpus
    # quantile of a mostly-zero distribution is 0, which keeps every weak
    # accidental band collision and welds the corpus into one hairball; the
    # floor cuts noise-level agreements (j ~ 1-2/n_hash) before CC.
    min_edge_sim: float = 0.0

    # StorageLevel name for the pipeline's stage caches (signatures, pairs,
    # components). MEMORY_AND_DISK (deserialized, on-heap) is the Spark
    # default; DISK_ONLY with spark.local.dirs on tmpfs keeps the cached
    # stages in RAM but *outside* the JVM heap, so the GC never scans them —
    # in the shared local-mode heap that cache-induced GC is a serial cost
    # coupling the stages (BENCH.md scaling analysis); on a cluster the
    # off-heap analog is MEMORY_AND_DISK_SER / executor off-heap memory.
    cache_storage: str = "MEMORY_AND_DISK"

    def __post_init__(self):
        if not self.seeds:
            table = _load_seed_table()
            need = self.n_hash
            pool = table["minhash_seeds"] + table["extra_seeds"]
            if need > len(pool):
                raise ValueError(f"n_hash={need} exceeds frozen seed table ({len(pool)})")
            object.__setattr__(self, "seeds", tuple(pool[:need]))
        if self.bands * self.rows_per_band != self.n_hash:
            raise ValueError("bands * rows_per_band must equal n_hash")

    def with_(self, **kw) -> "DedupConfig":
        if "n_hash" in kw and "seeds" not in kw:
            kw["seeds"] = ()
        if ("bands" in kw or "rows_per_band" in kw or "n_hash" in kw):
            nh = kw.get("n_hash", self.n_hash)
            if "bands" in kw and "rows_per_band" not in kw:
                kw["rows_per_band"] = nh // kw["bands"]
            if "rows_per_band" in kw and "bands" not in kw:
                kw["bands"] = nh // kw["rows_per_band"]
        return replace(self, **kw)


# The parity config used by tests: exact reference semantics, r=1 banding.
PARITY = DedupConfig()

# The web-scale config used by bench: r=2 banding + skew caps + noise floor.
SCALE = DedupConfig().with_(rows_per_band=2, band_group_cap=64, min_edge_sim=0.3)
