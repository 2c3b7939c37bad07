"""Small numeric helpers shared by the workloads: medians, the tail
percentile rule and the space-amplification ratio."""

from __future__ import annotations

import math
import os
import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it, so that one outlier cannot set it on its own.
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(values) -> tuple[int, float] | None:
    """The highest whole percentile (50-99) that still has at least
    TAIL_MIN_BEYOND samples beyond its nearest rank, with its value;
    None when even the median has fewer than that beyond it."""
    xs = sorted(values)
    n = len(xs)
    for pct in range(99, 49, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return pct, xs[rank - 1]
    return None


def summary(values) -> dict:
    """Median, the tail percentile and the sample count of a list of
    timings, in the units given."""
    xs = list(values)
    out = {"n": len(xs), "p50": median(xs) if xs else None}
    tail = tail_percentile(xs)
    if tail is not None:
        out["tail_pct"], out["tail"] = tail
    return out


def visible_files(path: str) -> dict[str, int]:
    """Size of every visible file under `path`, recursively. Names that
    start with '.' or '_' (checksums, commit markers, staging dirs) are
    skipped, as Spark's own file listing skips them."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(visible_files(path).values())


def space_amp(table_bytes: int, compact_bytes: int) -> float:
    """On-disk bytes of a table over the bytes of its live rows written
    once, compactly. 1.0 means no amplification."""
    if compact_bytes <= 0:
        raise ValueError("compact size must be positive")
    return table_bytes / compact_bytes
