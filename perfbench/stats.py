"""The benchmark's arithmetic, kept free of I/O so test_stats.py can pin it."""
import math
import statistics

# A timed phase is contaminated when more than this share of the machine's
# CPU time went to anything other than the benchmark JVM.
CONTAMINATED_SHARE = 0.10


def tail(values, target=99, min_beyond=10):
    """The highest whole percentile, at most ``target``, that leaves at
    least ``min_beyond`` samples strictly beyond its nearest-rank position.

    Returns ``(percentile, value)``; with too few samples for any
    percentile, the median stands in as ``(50, median)``.
    """
    xs = sorted(values)
    n = len(xs)
    for q in range(target, 50, -1):
        rank = math.ceil(q * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return q, xs[rank - 1]
    return 50, statistics.median(xs)


def union_ms(intervals):
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it its
    children cover. Children are clipped to the parent, and overlapping
    children count once. ``spans`` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_ms([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def sched_gap_s(wall_s, task_s, cores):
    """Scheduling gap of an execution: wall time minus the time its tasks
    would take if they kept every core busy (task seconds / cores)."""
    return wall_s - task_s / cores


def family(name):
    """A query's family: the leading letters of its name."""
    out = ""
    for ch in name:
        if not ch.isalpha():
            break
        out += ch
    return out


def family_rollup(records):
    """Seconds per query family from ``(name, ms)`` pairs."""
    out = {}
    for name, ms in records:
        f = family(name)
        out[f] = out.get(f, 0.0) + ms / 1000.0
    return out


CPU_FIELDS = 8  # user nice system idle iowait irq softirq steal


def foreign_cpu_share(p0, p1):
    """Share of the machine's CPU time between two ``/proc`` samples that
    went to something other than this process: other processes' busy time
    plus steal time (another tenant of the host running on our CPUs).

    Each sample is ``{"host": [8 jiffy counters from /proc/stat's cpu
    line], "self": utime + stime from /proc/self/stat}``.
    """
    d = [b - a for a, b in zip(p0["host"][:CPU_FIELDS], p1["host"][:CPU_FIELDS])]
    total = sum(d)
    if total <= 0:
        return 0.0
    user, nice, system, idle, iowait, irq, softirq, steal = d
    busy = user + nice + system + irq + softirq
    own = p1["self"] - p0["self"]
    return max(0.0, busy - own + steal) / total


def phases_foreign_share(pairs):
    """Foreign share over several phases: their foreign jiffies summed over
    their total jiffies summed."""
    foreign = total = 0.0
    for p0, p1 in pairs:
        t = sum(b - a for a, b in zip(p0["host"][:CPU_FIELDS], p1["host"][:CPU_FIELDS]))
        foreign += foreign_cpu_share(p0, p1) * t
        total += t
    return foreign / total if total > 0 else 0.0


def median(values):
    return statistics.median(values) if values else 0.0


def growth(batch_ms):
    """Mean batch time of the last tenth of a stream's batches over the
    mean of its first tenth (at least one batch each)."""
    k = max(1, len(batch_ms) // 10)
    first = sum(batch_ms[:k]) / k
    return (sum(batch_ms[-k:]) / k) / first if first > 0 else 0.0
