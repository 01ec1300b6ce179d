"""CPU time and peak memory of this process and every process below it
(the JVM, the PySpark daemon and its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live tree, including the children
    each live process has already reaped (short-lived Python workers)."""
    total = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def jit_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the JVM's JIT compiler threads in the
    live tree.  The threads must outlive the measurement, so the JVM runs
    with -XX:-UseDynamicNumberOfCompilerThreads."""
    total = 0
    for p in tree_pids(root):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as f:
                    if not f.read().startswith(("C1 Compiler",
                                                "C2 Compiler")):
                        continue
                with open(f"/proc/{p}/task/{t}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            total += sum(int(v) for v in s[s.rindex(")") + 2:].split()[11:13])
    return total / _TICK


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of the kernel's resident-memory high-water marks (VmHWM) over
    the live tree, in MB."""
    kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started (kernel start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat(os.getpid())[19])  # field 22: starttime
    return uptime - start_ticks / _TICK
