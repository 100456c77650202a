"""Every process the benchmark starts ends before it does.

Spark's driver JVM is a child of this process, and it forks the Python
workers, which outlive `SparkSession.stop()`; the JVM itself only notices
that its Python side is gone some time after this process has exited.
So the benchmark makes itself a child subreaper (workers orphaned by the
JVM are re-parented to it, not to init), and on every way out it stops the
session, closes the gateway, terminates what is left of its descendants
and reaps each one.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import threading
import time

PR_SET_CHILD_SUBREAPER = 36
STOP_S = 30.0  # for SparkContext.stop()
GRACE_S = 20.0  # for the JVM's shutdown hooks, before SIGKILL


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


_signalled = False


def exit_on_sigterm() -> None:
    """SIGTERM/SIGHUP raise SystemExit, so that `finally` blocks run."""
    def handler(signum, _frame):
        global _signalled
        _signalled = True
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, handler)


def descendants(root: int | None = None) -> list[int]:
    """Live (non-zombie) descendants of `root` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _reap() -> bool:
    """Reap every exited child; True once this process has none left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            return False


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_spark() -> None:
    """Stop the active Spark context and close the gateway to its JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM may already be gone
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass


def stop_all() -> None:
    """Stop Spark, then terminate and reap every remaining descendant."""
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, signal.SIG_IGN)
    # A signal that interrupted a call into the JVM leaves the gateway's
    # socket mid-reply, so no further call is made then. Otherwise the
    # session gets STOP_S to stop cleanly before the JVM is terminated.
    if "pyspark" in sys.modules and not _signalled:
        t = threading.Thread(target=stop_spark, daemon=True)
        t.start()
        t.join(STOP_S)
    deadline = time.monotonic() + GRACE_S
    _signal_all(descendants(), signal.SIGTERM)
    while not _reap() or descendants():
        if time.monotonic() > deadline:
            _signal_all(descendants(), signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)
