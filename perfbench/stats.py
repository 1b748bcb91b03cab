"""Order statistics and host probes for the benchmark's artifacts."""

from __future__ import annotations

import hashlib
import math
import os
import random
import subprocess
import threading
import time
import zlib
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between the
    closest ranks, as ``numpy.percentile`` computes it by default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def summary(values) -> dict:
    """Median, quartiles and sample count of a list of timings. A percentile
    above the median is reported only when at least ten samples lie beyond
    it, so p90 needs 100 samples."""
    out = {"n": len(values), "p50": median(values)}
    if len(values) >= 4:
        out["p25"] = percentile(values, 25)
        out["p75"] = percentile(values, 75)
    if len(values) >= 100:
        out["p90"] = percentile(values, 90)
    return out


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces: the ppid follows the ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in kB (0 if it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_peak_rss_mb() -> float:
    """Sum of VmHWM over the processes this one started: the Spark JVM and
    the Python workers it forked."""
    return sum(vm_hwm_kb(p) for p in descendants(os.getpid())) / 1024


def host_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle iowait
    irq softirq steal (in clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Stolen ticks as a share of the ticks the CPUs ran or were stolen
    between two ``host_ticks`` readings. An idle CPU is not charged steal,
    so this is the share of the time it wanted that a running thread lost."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


@contextmanager
def stopwatch(rec: dict):
    """Store in ``rec`` the block's wall time (``wall_s``) and the share of
    the CPU time its threads wanted that the hypervisor stole (``steal``)."""
    ticks0, t0 = host_ticks(), time.perf_counter()
    try:
        yield rec
    finally:
        rec["wall_s"] = time.perf_counter() - t0
        rec["steal"] = steal_share(ticks0, host_ticks())


# One speed probe: every thread compresses (zlib level 6) and hashes
# (sha256) the same 1 MiB of seeded random bytes PROBE_ROUNDS times. Both
# release the GIL, so the threads run on separate CPUs.
PROBE_ROUNDS = 2
PROBE_TRIES = 3
_PROBE_DATA = random.Random(0).randbytes(1 << 20)
# The probe time on the reference host: 4 vCPUs, quiet.
REFERENCE_PROBE_S = 0.040


def _probe_work() -> None:
    for _ in range(PROBE_ROUNDS):
        zlib.compress(_PROBE_DATA, 6)
        hashlib.sha256(_PROBE_DATA).digest()


def speed_probe_s(threads: int) -> float:
    """Wall time of a speed probe on ``threads`` threads at once, the
    fastest of PROBE_TRIES tries. The probe does not touch the engine: only
    the host's state moves it (steal, busy sibling cores, clock speed)."""
    best = math.inf
    for _ in range(PROBE_TRIES):
        workers = [threading.Thread(target=_probe_work) for _ in range(threads)]
        t0 = time.perf_counter()
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        best = min(best, time.perf_counter() - t0)
    return best


def host_probes(threads: int, n: int, warm_s: float = 0.0) -> list[float]:
    """``n`` speed probes, after ``warm_s`` seconds of unrecorded ones. On
    the reference host, CPUs that were idle for a few seconds ran parallel
    threads one at a time for about a second after they woke."""
    deadline = time.perf_counter() + warm_s
    while time.perf_counter() < deadline:
        speed_probe_s(threads)
    return [speed_probe_s(threads) for _ in range(n)]


def source_digest(root: str, package: str = "snapshot_sender_spark") -> str:
    """sha256 over the package's Python sources, which identifies the code
    under test where no git metadata exists."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None
