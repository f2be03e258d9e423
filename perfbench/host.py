"""Host-noise record: CPU steal and iowait from /proc/stat and the load
average, sampled around a run so a slow run can be attributed later."""


def snapshot():
    snap = {}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()[1:]
        names = ["user", "nice", "system", "idle", "iowait", "irq",
                 "softirq", "steal"]
        snap["cpu_ticks"] = {n: int(v) for n, v in zip(names, cpu)}
    except OSError:
        pass
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        pass
    return snap


def noise(before, after):
    """Steal and iowait as shares of all CPU ticks between two snapshots,
    plus the load average at the end."""
    out = {"loadavg": after.get("loadavg")}
    b, a = before.get("cpu_ticks"), after.get("cpu_ticks")
    if b and a:
        delta = {k: a[k] - b[k] for k in a}
        total = sum(delta.values()) or 1
        out["steal_share"] = delta["steal"] / total
        out["iowait_share"] = delta["iowait"] / total
    return out
