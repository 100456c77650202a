"""End-to-end kill/resume drill at bench scale (VERDICT r03 #7).

North-rule resumability evidence at a size where it matters: run the CLI
dedup job on the 1.6M-row scaling table, SIGKILL it mid-pipeline (after the
`pairs` checkpoint lands, while connected-components is running), resume,
and assert:

  1. the resume run SKIPS every stage checkpointed before the kill
     (stage-manifest chain shows skipped=true),
  2. the resumed cluster assignments are content-identical to an
     uninterrupted baseline run of the same job,
  3. every stage manifest carries the per-partition lineage rows and the
     config fingerprint (the metrics JSON chain is complete).

Usage: python scripts/resume_drill.py [n_rows]   (default 1600000)
Prints a one-line JSON verdict; exits non-zero on any violation.
"""
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
INPUT = os.path.join(REPO, "bench_data", f"images_dist_{N_ROWS}_s42.parquet")
WORK = f"/tmp/resume_drill_{N_ROWS}"


def _job_cmd(out_dir: str) -> list[str]:
    return [
        sys.executable, os.path.join(REPO, "jobs", "dedup.py"),
        "--input", INPUT, "--output", out_dir,
        "--config", "scale", "--set", "size_max=50", "--set", "size_min=1",
        "--master", f"local[{len(os.sched_getaffinity(0))}]",
    ]


def _clusters_fingerprint(out_dir: str) -> tuple[int, int]:
    """(row_count, order-insensitive content hash) of the clusters stage."""
    import duckdb

    con = duckdb.connect()
    row = con.sql(
        "select count(*), bit_xor(hash(image_id || '|' || cluster_id)) "
        f"from read_parquet('{out_dir}/clusters/*.parquet')"
    ).fetchone()
    con.close()
    return int(row[0]), int(row[1])


def _ensure_input() -> None:
    if os.path.exists(INPUT):
        return
    env = dict(os.environ, DYNA_SCALE_ROWS=str(N_ROWS))
    subprocess.run([sys.executable, os.path.join(REPO, "bench.py"),
                    "--worker-gen"], env=env, check=True, timeout=1800)


def main() -> None:
    _ensure_input()
    shutil.rmtree(WORK, ignore_errors=True)
    base_dir, kill_dir = f"{WORK}/baseline", f"{WORK}/killed"
    report: dict = {"n_rows": N_ROWS}

    t0 = time.time()
    subprocess.run(_job_cmd(base_dir), check=True, capture_output=True,
                   timeout=3600)
    report["baseline_wall_s"] = round(time.time() - t0, 1)
    report["baseline"] = _clusters_fingerprint(base_dir)

    # Run 2: kill mid-CC — after the `pairs` manifest lands (signatures +
    # pairs checkpointed) but before the `clusters` stage completes.
    t0 = time.time()
    proc = subprocess.Popen(_job_cmd(kill_dir), stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    pairs_man = os.path.join(kill_dir, "pairs.manifest.json")
    clus_man = os.path.join(kill_dir, "clusters.manifest.json")
    deadline = time.time() + 3000
    while time.time() < deadline:
        if proc.poll() is not None:
            raise SystemExit("job finished before the kill window — "
                             "increase n_rows")
        if os.path.exists(pairs_man):
            break
        time.sleep(0.5)
    time.sleep(5)  # let connected-components get going
    assert not os.path.exists(clus_man), "clusters landed before the kill"
    proc.send_signal(signal.SIGKILL)
    proc.wait()
    report["killed_after_s"] = round(time.time() - t0, 1)
    pre_kill = sorted(
        os.path.basename(m).replace(".manifest.json", "")
        for m in glob.glob(os.path.join(kill_dir, "*.manifest.json"))
    )
    report["stages_checkpointed_at_kill"] = pre_kill
    assert "pairs" in pre_kill and "clusters" not in pre_kill

    # Run 3: resume in the same output dir.
    t0 = time.time()
    res = subprocess.run(_job_cmd(kill_dir), check=True, capture_output=True,
                         text=True, timeout=3600)
    report["resume_wall_s"] = round(time.time() - t0, 1)
    stages = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )["stages"]
    skipped = {s["stage"] for s in stages if s.get("skipped")}
    assert set(pre_kill) <= skipped, (
        f"resume recomputed checkpointed stages: {set(pre_kill) - skipped}")
    report["stages_skipped_on_resume"] = sorted(skipped)

    report["resumed"] = _clusters_fingerprint(kill_dir)
    assert report["resumed"] == report["baseline"], (
        "resumed clusters differ from uninterrupted baseline")

    # Metrics/lineage chain completeness on the resumed output.
    for m in glob.glob(os.path.join(kill_dir, "*.manifest.json")):
        man = json.load(open(m))
        assert man.get("per_partition_rows") or man.get("rows") == 0, (
            f"no lineage in {m}")
        assert "config_fingerprint" in man, f"no fingerprint in {m}"
    report["manifests_ok"] = True
    report["ok"] = True
    print(json.dumps(report))


if __name__ == "__main__":
    main()
