"""What the benchmark reads from /proc: the process tree of a run, its
peak memory, and the machine's CPU steal."""

from __future__ import annotations

import os


def process_tree(root_pid: int) -> list[int]:
    """root_pid and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(root_pid: int) -> dict:
    """Peak resident memory (the kernel's VmHWM) of each live process in
    the tree, summed and split into the JVM, this driver and the Spark
    Python workers. The kernel tracks each peak exactly, so nothing
    depends on when a sampler happens to look."""
    out = {"jvm_mb": 0.0, "driver_mb": 0.0, "workers_mb": 0.0, "workers": 0}
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" not in status:  # a zombie has no memory left
            continue
        mb = int(status["VmHWM"].split()[0]) / 1024
        if pid == root_pid:
            out["driver_mb"] += mb
        elif status["Name"].strip() == "java":
            out["jvm_mb"] += mb
        else:
            out["workers_mb"] += mb
            out["workers"] += 1
    out["total_mb"] = out["jvm_mb"] + out["driver_mb"] + out["workers_mb"]
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot, from
    /proc/stat. Steal is time the hypervisor ran someone else while
    this machine's CPUs had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)
