"""Summary statistics and on-disk/process accounting for benchmark runs."""

from __future__ import annotations

import os
import statistics

TAIL_MIN_BEYOND = 10


def tail(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that keeps at least
    ``min_beyond`` samples strictly above it; ``None`` when there are too
    few samples for any percentile to qualify."""
    s = sorted(samples)
    n = len(s)
    for k in range(n - min_beyond, 0, -1):
        v = s[k - 1]
        if sum(x > v for x in s) >= min_beyond:
            return v, 100.0 * k / n
    return None


def summarize(samples: list[float]) -> dict:
    """Median, tail and the sample count of one run's iteration times."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    t = tail(samples)
    if t is not None:
        out["tail"], out["tail_pct"] = t
    return out


def written_since(dirs: list[str], since_ns: int) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``dirs`` last modified at
    or after ``since_ns`` — what one iteration persisted there."""
    total = files = 0
    for top in dirs:
        for dirpath, _dirnames, filenames in os.walk(top):
            for f in filenames:
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime_ns >= since_ns:
                    total += st.st_size
                    files += 1
    return total, files


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except FileNotFoundError:
            continue
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all of its live descendants."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's ``VmHWM`` from its current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except (FileNotFoundError, PermissionError, ProcessLookupError):
            continue


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of ``VmHWM`` over the live processes in ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total
