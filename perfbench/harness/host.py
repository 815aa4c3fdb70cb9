"""Host sizing and health probes. The probes are recorded with every run
so that a run on a contended host can be told apart; they are never used
to normalise a result."""
import hashlib
import os
import time

from harness import stats


def cpus():
    return len(os.sched_getaffinity(0))


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb():
    """A tenth of the host's memory, between 1 and 2 GiB; the inputs are
    small. The heap is fixed at this size (minimum = maximum) and touched
    at start, so that neither heap resizing nor the heap's resident part
    varies from run to run."""
    return max(1024, min(2048, mem_total_mb() // 10 // 256 * 256))


def calib_cpu_s():
    """Time to hash a fixed 32 MiB: a single-core speed probe."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(32):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def calib_fsync_ms(directory, n=9):
    """Median time to write and fsync 4 KiB in `directory`."""
    path = os.path.join(directory, ".fsync-probe")
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        with open(path, "wb") as f:
            f.write(b"\0" * 4096)
            f.flush()
            os.fsync(f.fileno())
        times.append((time.perf_counter() - t0) * 1000.0)
    os.remove(path)
    return stats.median(times)


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time in which this machine's virtual CPUs were ready to run
    but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_pct(before, after):
    """Share of CPU time stolen between two `cpu_ticks` readings, in %."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0
