"""Host shape: cores, affinity, heap, and CPU steal over a run."""
import os


def cpus():
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def cpus_allowed_list():
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("Cpus_allowed_list:"):
                return line.split(":", 1)[1].strip()
    return ""


def driver_mem():
    """SPARK_DRIVER_MEM, or half of MemTotal clamped to [2g, 8g] as the
    repository's test command computes it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpu_stat():
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before, after):
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0
