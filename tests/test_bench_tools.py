"""Host-robustness of the bench tooling: the substrate probe must finish on
hosts with fewer CPUs than it asks for, and the /dev/shm residue sweep must
delete only dead runs' own dirs."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_alu_probe_finishes_under_a_two_cpu_mask():
    """measure_alu(8) pins one worker per CPU; under a 2-CPU affinity mask
    it must clamp to 2 workers and return, not block on workers that could
    not pin."""
    cpus = sorted(os.sched_getaffinity(0))[:2]
    if len(cpus) < 2:
        pytest.skip("needs 2 CPUs in the affinity mask")
    code = (
        "import os, sys\n"
        f"os.sched_setaffinity(0, {set(cpus)!r})\n"
        f"sys.path.insert(0, {os.path.join(REPO, 'scripts')!r})\n"
        "from membw import measure_alu\n"
        "print(measure_alu(8))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=90)
    assert p.returncode == 0, p.stderr
    assert float(p.stdout.strip().splitlines()[-1]) > 0


def test_shm_sweep_removes_only_dead_pid_dirs(tmp_path, monkeypatch):
    # importing bench defaults the driver heap; keep that out of this
    # process's environment
    monkeypatch.setenv("SPARK_DRIVER_MEMORY",
                       os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    monkeypatch.syspath_prepend(REPO)
    import bench

    with open("/proc/sys/kernel/pid_max") as f:
        dead_pid = int(f.read()) + 1  # above pid_max: never a live pid
    root = tmp_path / "spark-local"
    dead = root / f"pid-{dead_pid}"
    live = root / f"pid-{os.getpid()}"
    other = root / "blockmgr-0b6f0c5e-8e0b-4c5a-9a36-3c1f0c2d9e11"
    for d in (dead, live, other):
        d.mkdir(parents=True)
        (d / "shuffle_0_0_0.data").write_bytes(b"x")
    bench.sweep_shm_residue(str(root))
    assert not dead.exists()
    assert live.exists() and other.exists()
