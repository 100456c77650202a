"""Benchmark of the shipped dedup job (`jobs/dedup.py` main()).

    python3 perfbench/run.py --workload caption --seed 1 --seconds 1 --trace 0

One driver process, one Spark session at local[N] (N = CPUs in this
process's affinity mask), and a closed loop that runs one job at a time on
an input generated from --seed. The first job of a session warms the JVM's
JIT, Spark's code generation and the Python workers; it is checked but not
timed. Timed jobs then run until --seconds of their wall time have passed
(at least one).

--trace 0 prints the end-to-end metrics; --trace 1 runs a warm-up job, one
untraced and one traced job, then every layer's public function under its
own Spark job group, and prints the per-layer table. Either way, every
job's output is checked, a human-readable report goes to stdout and the
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. Results are also written under .perfbench_work/results/.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
DEFAULT_SEED = 1
SETUP_REPS = 2

END_TO_END = {  # name -> unit; the metrics of the --trace 0 result line
    "images_per_s": "images/s",
    "setup_s": "s",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
}
# Printed and kept in the results file only: its run-to-run spread on a
# 4-vCPU host (15-25%, from when the JVM grows its heap and from how many
# Python workers Spark forks) is wider than any bound it could be given.
REPORT_ONLY = {"peak_rss_mb": "MB"}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile_summary(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(values)
    if not n:
        return "n=0"
    out = f"median {statistics.median(values):.4g} (n={n}"
    for p in (99.9, 99, 95, 90, 75):
        if round(n * (100 - p) / 100, 6) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            return out + f", p{p:g} {q[round(p * 10) - 1]:.4g})"
    return out + "; no percentile has ten samples beyond it)"


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in procs.descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def new_session(host, trace: bool):
    """Spark session with the job's defaults plus one trivial job that
    starts a Python worker per core. -> (session, seconds)."""
    from host import spark_extra

    from dynaalign_spark.session import get_spark

    def touch(batches):
        yield from batches

    t0 = time.perf_counter()
    spark = get_spark(app="dynaalign-dedup", master=host.master,
                      shuffle_partitions=host.shuffle_partitions,
                      extra=spark_extra(trace))
    spark.sparkContext.setLogLevel("WARN")
    n = host.cores
    spark.range(0, 4 * n, 1, n).mapInPandas(touch, "id long").count()
    return spark, time.perf_counter() - t0


class Bench:
    def __init__(self, args, out):
        from host import derive_host
        from workloads import WORKLOADS

        self.args = args
        self.out = out
        self.wl = WORKLOADS[args.workload]
        self.host = derive_host()
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)[self.wl.name]
        self.attempts: list[dict] = []

    def say(self, line: str = "") -> None:
        print(line, file=self.out, flush=True)

    # -- one job run ------------------------------------------------------

    def run_job(self, spark, path: str, truth, input_ids, timed: bool,
                group: str | None = None) -> dict:
        """One job.main() run, then its output checks. With `group`, the
        job's driver thread runs under that Spark job group, and the ids of
        every job it started are in rec["spark_jobs"] (read before the
        checks start jobs of their own)."""
        import dedup
        import sparkmetrics

        sc = spark.sparkContext

        out_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{len(self.attempts)}")
        shutil.rmtree(out_dir, ignore_errors=True)
        argv = ["--input", path, "--output", out_dir, "--master",
                self.host.master, "--no-resume", *self.wl.job_flags()]
        rec: dict = {"timed": timed}
        if group:
            # the job's tier threads start their jobs without a group
            untagged = set(sparkmetrics.job_ids(sc, None))
            sc.setJobGroup(group, group)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                # a non-zero return means invariant violations, which the
                # checks below report from run_summary.json
                with contextlib.redirect_stdout(io.StringIO()):
                    dedup.main(argv)
            except Exception as e:  # a failed job is a failed operation
                from checks import failure_reason

                rec.update(ok=False, stage=self._failed_stage(out_dir),
                           reason=failure_reason(e))
            rec["wall_s"] = time.perf_counter() - t0
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark_jobs"] = sparkmetrics.job_ids(sc, group) + [
                j for j in sparkmetrics.job_ids(sc, None) if j not in untagged]
        rec["peak_rss_mb"] = rss.peak / (1 << 20)
        if "ok" not in rec:
            rec.update(self._check(out_dir, truth, input_ids))
        shutil.rmtree(out_dir, ignore_errors=True)
        self.attempts.append(rec)
        status = "ok" if rec["ok"] else (
            f"FAILED in {rec['stage']}: {rec['reason']}")
        self.say(f"  job {len(self.attempts)}{'' if timed else ' (warm-up)'}"
                 f": {rec['wall_s']:.2f} s, peak RSS {rec['peak_rss_mb']:.0f} MB,"
                 f" {status}")
        return rec

    def _failed_stage(self, out_dir: str) -> str:
        """First stage of the job without a manifest: the one it died in."""
        for name in self.wl.stages():
            if not os.path.exists(os.path.join(out_dir, f"{name}.manifest.json")):
                return name
        return "run_summary"

    def _check(self, out_dir, truth, input_ids) -> dict:
        import pyarrow.parquet as pq

        import checks
        from workloads import SIZE_MAX

        def rows(name, *cols):
            # read with pyarrow: no Spark job runs between the timed jobs
            t = pq.read_table(os.path.join(out_dir, name), columns=list(cols))
            return list(zip(*(t.column(c).to_pylist() for c in cols)))

        clusters = rows("clusters", "image_id", "cluster_id")
        filtered = [r[0] for r in rows("filtered", "image_id")]
        reps = [r[0] for r in rows("representatives", "cluster_id")]
        with open(os.path.join(out_dir, "run_summary.json")) as f:
            summary = json.load(f)
        problems = (checks.coverage_problems(input_ids, clusters, filtered)
                    + checks.size_problems(clusters, SIZE_MAX)
                    + checks.representative_problems(clusters, reps))
        if summary.get("invariant_violations") != 0:
            problems.append(
                f"invariant_violations = {summary.get('invariant_violations')}")
        rec = {"content_hash": checks.content_hash(clusters)}
        if truth is not None:
            recall, precision = checks.pair_quality(truth, clusters)
            rec.update(recall=recall, precision=precision)
            if recall < self.expected["recall_floor"]:
                problems.append(f"recall {recall:.4f} < floor "
                                f"{self.expected['recall_floor']}")
            if precision < self.expected["precision_floor"]:
                problems.append(f"precision {precision:.4f} < floor "
                                f"{self.expected['precision_floor']}")
        want = self.expected.get("content_hash")
        if want and self.args.seed == DEFAULT_SEED and rec["content_hash"] != want:
            problems.append(f"content hash {rec['content_hash'][:16]} != "
                            f"recorded {want[:16]} for the default seed")
        rec["ok"] = not problems
        if problems:
            rec.update(stage="check", reason="; ".join(problems))
        return rec

    # -- the run ----------------------------------------------------------

    def setup(self):
        from host import prepare_env

        prepare_env(self.host, WORK, REPO)
        self.say(f"host: {json.dumps(self.host.stamp())}")
        # the first session also launches the JVM; set-up is timed on
        # re-creations inside it
        spark, cold = new_session(self.host, bool(self.args.trace))
        warm = []
        # the traced run reports no setup_s
        for _ in range(0 if self.args.trace else SETUP_REPS):
            spark.stop()
            spark, t = new_session(self.host, bool(self.args.trace))
            warm.append(t)
        self.setup_samples = warm
        self.say(f"setup: first session (JVM launch) {cold:.3f} s"
                 + (f"; setup_s {percentile_summary(warm)} s" if warm else ""))
        return spark

    def load_input(self, spark):
        from workloads import ensure_input, input_ids

        path, truth, gen_s = ensure_input(spark, WORK, self.wl, self.args.seed,
                                          self.host.shuffle_partitions)
        self.datagen_s = gen_s
        ids = input_ids(path)
        self.say(f"input: {self.wl.name} rows={len(ids)} seed={self.args.seed} "
                 f"datagen_s {gen_s:.3f} s{' (cached)' if gen_s == 0 else ''}")
        return path, truth, ids

    def result(self, metrics: dict, extra: dict) -> dict:
        failed = sum(not a["ok"] for a in self.attempts)
        return {
            "correct": failed == 0,
            "attempted": len(self.attempts),
            "failed": failed,
            "metrics": metrics,
            "_report": {
                "workload": self.wl.name, "rows": self.wl.rows,
                "seed": self.args.seed, "host": self.host.stamp(),
                "datagen_s": self.datagen_s, "setup_samples_s": self.setup_samples,
                "attempts": self.attempts, **extra,
            },
        }

    def untraced(self, spark, path, truth, ids) -> dict:
        self.run_job(spark, path, truth, ids, timed=False)
        spent = 0.0
        while spent < self.args.seconds:
            spent += self.run_job(spark, path, truth, ids, timed=True)["wall_s"]
        timed = [a for a in self.attempts if a["timed"]]
        ok = [a for a in timed if a["ok"]]
        values = {
            # closed-loop throughput: rows of the timed jobs that passed
            # their checks over the wall time of those jobs
            "images_per_s": (self.wl.rows * len(ok) / sum(a["wall_s"] for a in ok)
                             if ok else 0.0),
            "setup_s": statistics.median(self.setup_samples),
            "peak_rss_mb": max(a["peak_rss_mb"] for a in timed),
        }
        if truth is not None and ok:
            values["dup_pair_recall"] = statistics.median(a["recall"] for a in ok)
            values["dup_pair_precision"] = statistics.median(
                a["precision"] for a in ok)
        self.say(f"timed job wall: {percentile_summary([a['wall_s'] for a in timed])} s")
        for name, unit in {**END_TO_END, **REPORT_ONLY}.items():
            if name in values:
                self.say(f"{name}: {values[name]:.6g} {unit}")
        hashes = sorted({a["content_hash"] for a in self.attempts if "content_hash" in a})
        self.say(f"content_hash: {', '.join(hashes) or 'n/a'}")
        failed = sum(not a["ok"] for a in self.attempts)
        self.say(f"failed_share: {failed}/{len(self.attempts)} = "
                 f"{failed / len(self.attempts):.3f}")
        for a in self.attempts:
            if not a["ok"]:
                self.say(f"  failed in stage {a['stage']}: {a['reason']}")
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items() if k in END_TO_END}
        return self.result(metrics, {"content_hashes": hashes,
                                     "peak_rss_mb": values["peak_rss_mb"]})

    def traced(self, spark, path, truth, ids) -> dict:
        import dedup
        import layers
        import sparkmetrics

        sc = spark.sparkContext
        self.run_job(spark, path, truth, ids, timed=False)
        plain = self.run_job(spark, path, truth, ids, timed=True)["wall_s"]
        job = self.run_job(spark, path, truth, ids, timed=True, group="job")
        t0 = time.perf_counter()
        m = sparkmetrics.jobs_metrics(sc, job["spark_jobs"])
        traced_wall = job["wall_s"] + time.perf_counter() - t0

        tr = layers.Tracer(spark)
        tr.values["job.spark_jobs"] = float(m["spark_jobs"])
        tr.values["job.executor_busy"] = m["executor_s"] / (
            job["wall_s"] * self.host.cores)
        tr.values["job.tracing_overhead_s"] = traced_wall - plain
        job_args = dedup.parse_args(["--input", path, "--output", WORK,
                                     *self.wl.job_flags()])
        images = spark.read.parquet(path)
        layers.trace_layers(tr, images, dedup.build_config(job_args), job_args,
                            WORK)
        for layer, reason in tr.failures.items():
            self.attempts.append({"timed": False, "ok": False, "stage": layer,
                                  "reason": reason, "layer": True})

        units = layers.metric_units()
        self.say(f"{'layer':<13}" + "".join(f"{m:>17}" for m in layers.LAYER_METRICS))
        for layer in layers.LAYERS:
            row = "".join(f"{tr.values[f'{layer}.{m}']:>17.4g}"
                          for m in layers.LAYER_METRICS)
            note = f"  FAILED: {tr.failures[layer]}" if layer in tr.failures else ""
            self.say(f"{layer:<13}{row}{note}")
        for name in layers.EXTRA_METRICS:
            self.say(f"{name}: {tr.values[name]:.6g} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in tr.values.items()}
        return self.result(metrics, {"job_wall_untraced_s": plain,
                                     "job_wall_traced_s": traced_wall})


def main(argv=None) -> int:
    # Spark's JVM inherits fd 1; point it at stderr so that nothing but this
    # report reaches stdout, and the result JSON stays its last line.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path[:0] = [REPO, os.path.join(REPO, "jobs")]
    for need in ("dynaalign_spark", os.path.join("jobs", "dedup.py")):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    args = parse_args(argv)
    procs.become_subreaper()
    procs.exit_on_sigterm()
    try:
        bench = Bench(args, out)
        spark = bench.setup()
        path, truth, ids = bench.load_input(spark)
        res = (bench.traced if args.trace else bench.untraced)(spark, path, truth, ids)
    finally:
        # the JVM and every Python worker it forked end before the result
        # line is printed, and before this process exits on any path
        procs.stop_all()
        if "SPARK_LOCAL_DIRS" in os.environ:
            shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    report = res.pop("_report")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{bench.wl.name}_s{args.seed}{'_trace' if args.trace else ''}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump({**res, **report}, f, indent=1)
    print(json.dumps(res), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
