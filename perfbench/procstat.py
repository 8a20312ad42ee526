"""CPU time and resident memory of the process tree below this process
(the Spark JVM and its Python workers), read from /proc."""

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid):
    """(state, ppid, cpu ticks incl. reaped children, rss pages), or None
    if the process vanished while being read."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: fields start
    # after the last ')' (field 3, the state)
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return fields[0], int(fields[1]), ticks, int(fields[21])


def descendants(root=None):
    """{pid: stat} of every live (non-zombie) descendant of ``root``
    (default: this process)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None and st[0] != "Z":
                stats[int(name)] = st
    children = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    out = {}
    todo = list(children.get(os.getpid() if root is None else root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s():
    """CPU seconds used so far by this process's descendants, counting
    children they already reaped."""
    return sum(st[2] for st in descendants().values()) / _CLK_TCK


def tree_rss_mb():
    return sum(st[3] for st in descendants().values()) * _PAGE / 2 ** 20


def alive(pids):
    live = []
    for pid in pids:
        st = _read_stat(pid)
        if st is not None and st[0] != "Z":
            live.append(pid)
    return live


class RssSampler:
    """Background sampler of the descendants' summed RSS; ``peak_mb`` is
    the highest value seen while running."""

    def __init__(self, interval_s=0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def _sample(self):
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)
