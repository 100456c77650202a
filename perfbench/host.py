"""Host-derived Spark settings for the benchmark.

Everything is read from the host it runs on: the parallelism from the CPU
affinity mask, the driver heap from MemAvailable. No ALU or memory-bandwidth
probe runs, so nothing here can hang on a host smaller than expected.
"""

from __future__ import annotations

import os
import platform
import sys
from dataclasses import asdict, dataclass

# Share of MemAvailable given to the driver heap (local mode: the driver JVM
# is also the executor), clamped so a big host does not get an oversized,
# slow-to-GC heap and a small one still starts.
HEAP_SHARE = 0.25
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096


@dataclass(frozen=True)
class Host:
    cores: int
    mem_available_mb: int
    heap_mb: int
    python: str
    spark: str

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"

    @property
    def shuffle_partitions(self) -> int:
        return self.cores

    def stamp(self) -> dict:
        return {**asdict(self), "master": self.master,
                "shuffle_partitions": self.shuffle_partitions}


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable line in /proc/meminfo")


def derive_host() -> Host:
    import pyspark

    avail = mem_available_mb()
    heap = int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, avail * HEAP_SHARE)))
    return Host(
        cores=len(os.sched_getaffinity(0)),
        mem_available_mb=avail,
        heap_mb=heap,
        python=platform.python_version(),
        spark=pyspark.__version__,
    )


def prepare_env(host: Host, work_dir: str, repo_root: str) -> None:
    """Process environment for the JVM and its Python workers. Must run
    before the first SparkSession is created: the JVM reads it at launch."""
    local = os.path.join(work_dir, f"local-{os.getpid()}")
    tmp = os.path.join(local, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files in the work
    # directory and no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = f"{host.heap_mb}m"
    # session.get_spark (called again inside the job) sizes
    # spark.sql.shuffle.partitions from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the workers unpickle engine UDFs, so they need the repo on their path
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def spark_extra(trace: bool) -> dict:
    """Session settings the benchmark adds on top of session.get_spark."""
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        # keep every job/stage/task of the traced run in the status store
        extra.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    return extra
