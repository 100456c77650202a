"""Per-run output checks of one `jobs/dedup.py` run.

Pure functions over collected rows, so the tests can hand them corrupted
frames without a Spark session. Every returned problem string is one
failed check; an empty list means the run's output is correct.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

UNBROKEN = "/unbroken"


def coverage_problems(input_ids: list[str], clusters: list[tuple[str, str]],
                      filtered_ids: list[str]) -> list[str]:
    """Every input image_id appears exactly once across clusters ∪ filtered,
    and nothing else appears there."""
    seen = Counter([i for i, _ in clusters]) + Counter(filtered_ids)
    inputs = set(input_ids)
    problems = []
    missing = inputs - seen.keys()
    if missing:
        problems.append(f"{len(missing)} input ids in neither clusters nor "
                        f"filtered (e.g. {min(missing)})")
    dup = sorted(i for i, n in seen.items() if n > 1)
    if dup:
        problems.append(f"{len(dup)} ids emitted more than once (e.g. {dup[0]})")
    extra = seen.keys() - inputs
    if extra:
        problems.append(f"{len(extra)} emitted ids not in the input "
                        f"(e.g. {min(extra)})")
    return problems


def size_problems(clusters: list[tuple[str, str]], size_max: int) -> list[str]:
    """No cluster without the /unbroken suffix exceeds size_max."""
    sizes = Counter(c for _, c in clusters)
    over = sorted(c for c, n in sizes.items()
                  if n > size_max and not c.endswith(UNBROKEN))
    if over:
        return [f"{len(over)} clusters exceed size_max={size_max} "
                f"(e.g. {over[0]} with {sizes[over[0]]} members)"]
    return []


def representative_problems(clusters: list[tuple[str, str]],
                            rep_cluster_ids: list[str]) -> list[str]:
    """representatives has exactly one row per distinct cluster_id."""
    want = {c for _, c in clusters}
    got = Counter(rep_cluster_ids)
    problems = []
    if set(got) != want:
        problems.append(f"representatives cover {len(set(got) & want)} of "
                        f"{len(want)} clusters, plus {len(set(got) - want)} "
                        "unknown ids")
    dup = sorted(c for c, n in got.items() if n > 1)
    if dup:
        problems.append(f"{len(dup)} clusters have several representatives "
                        f"(e.g. {dup[0]})")
    return problems


def pair_quality(truth: dict[str, str],
                 clusters: list[tuple[str, str]]) -> tuple[float, float]:
    """(recall, precision) of same-cluster pairs against planted truth."""
    from dynaalign_spark.oracle import dup_pairs

    want = dup_pairs(truth)
    got = dup_pairs(dict(clusters))
    hit = len(want & got)
    recall = hit / len(want) if want else 1.0
    precision = hit / len(got) if got else 1.0
    return recall, precision


def content_hash(clusters: list[tuple[str, str]]) -> str:
    """sha256 over the sorted (image_id, cluster_id) rows."""
    h = hashlib.sha256()
    for image_id, cluster_id in sorted(clusters):
        h.update(f"{image_id}\t{cluster_id}\n".encode())
    return h.hexdigest()


def failure_reason(exc: BaseException) -> str:
    """One line naming why a run or layer failed. A Python worker error
    arrives wrapped in a JVM stack trace; its last `SomethingError: ...`
    line is the cause."""
    # a JVM error reads "An error occurred while calling ...\n: java...."
    lines = [ln.strip().removeprefix(": ") for ln in str(exc).splitlines()]
    causes = [ln for ln in lines
              if re.match(r"^[\w.]*(Error|Exception)\b.*:", ln)]
    line = causes[-1] if causes else (lines[0] if lines and lines[0] else "")
    return f"{type(exc).__name__}: {line}"[:300]
