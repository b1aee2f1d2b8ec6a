"""Measurement helpers of the benchmark: percentiles with a sample rule,
process-tree CPU and memory (PSS), host steal share, span self time and the
fixed-encoding byte counts used as ratio denominators.

Everything here reads ``/proc`` or plain Python data; nothing imports Spark,
so the helpers are testable on their own (``test_measure.py``).
"""

from __future__ import annotations

import os
import statistics
import threading

import pyarrow as pa

MIN_BEYOND = 10  # samples a percentile needs above it


def enough_samples(n: int, q: float, beyond: int = MIN_BEYOND) -> bool:
    """True when n samples leave at least ``beyond`` above the q-quantile."""
    return n * (1.0 - q) + 1e-9 >= beyond


def percentile(samples: list[float], q: float, beyond: int = MIN_BEYOND) -> float | None:
    """Linear-interpolated q-quantile, or None with too few samples beyond it."""
    if not enough_samples(len(samples), q, beyond):
        return None
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def highest_percentile(n: int, beyond: int = MIN_BEYOND) -> float | None:
    """The highest of p50/p90/p95/p99 that n samples support, if any."""
    best = None
    for q in (0.5, 0.9, 0.95, 0.99):
        if enough_samples(n, q, beyond):
            best = q
    return best


# --- process tree -----------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _comm_and_fields(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the /proc/<pid>/stat fields after it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    end = data.rindex(")")
    return data[data.index("(") + 1 : end], data[end + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    f = _comm_and_fields(pid)
    return None if f is None else f[1]


def children_map() -> dict[int, list[int]]:
    """ppid -> [pid] over every live process."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(fields: list[str]) -> float:
    """utime+stime of a process plus that of its reaped children.

    ``fields`` is /proc/<pid>/stat after the command name: state is
    fields[0], so utime, stime, cutime, cstime are fields[11:15]."""
    return sum(int(x) for x in fields[11:15]) / _CLK


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of ``root`` and every live descendant, reaped
    children included (their time has moved into a parent's cutime)."""
    total = 0.0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += cpu_seconds(f)
    return total


def pss_bytes(pid: int) -> int:
    """Proportional set size of a process: its resident pages, each shared
    page divided by the number of processes mapping it, so that forked
    Python workers do not count the pages they share twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss(root: int) -> dict[str, int]:
    """Summed PSS of a process tree, by command name."""
    out: dict[str, int] = {}
    for pid in tree_pids(root):
        f = _comm_and_fields(pid)
        if f is not None:
            out[f[0]] = out.get(f[0], 0) + pss_bytes(pid)
    return out


class MemorySampler:
    """Background thread sampling the summed PSS of a process tree; keeps
    the peak and its split by command name."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s = root, interval_s
        self.peak, self.peak_by_comm = 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            by_comm = tree_pss(self.root)
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.peak_by_comm = total, by_comm
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times(path: str = "/proc/stat") -> list[int]:
    """Aggregate host CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open(path) as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total > 0 else 0.0


def busy_steal_share(before: list[int], after: list[int]) -> float:
    """Share of the time the CPUs wanted to run that the host took away:
    steal ÷ (user + nice + system + irq + softirq + steal)."""
    d = [b - a for a, b in zip(before, after)]
    want = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / want if want > 0 else 0.0



# --- spans ------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- ratio denominators -------------------------------------------------------


def _value_bytes(typ: pa.DataType, col: pa.Array) -> int:
    """Bytes of one column in the benchmark's own fixed encoding: fixed-width
    values at their width, strings and binaries as 4-byte length + payload,
    lists as 4-byte length + elements, and one byte per null."""
    nulls = col.null_count
    if pa.types.is_string(typ) or pa.types.is_large_string(typ) or pa.types.is_binary(typ):
        lengths = [len(v) for v in col.cast(pa.binary()).to_pylist() if v is not None]
        return 4 * len(lengths) + sum(lengths) + nulls
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        valid = len(col) - nulls
        return 4 * valid + _value_bytes(typ.value_type, col.flatten()) + nulls
    if pa.types.is_boolean(typ):
        return len(col)
    width = typ.bit_width // 8
    return width * (len(col) - nulls) + nulls


def fixed_bytes(table: pa.Table) -> int:
    """Live bytes of the rows of ``table`` in the fixed encoding."""
    total = 0
    for field, col in zip(table.schema, table.columns):
        for chunk in col.chunks:
            total += _value_bytes(field.type, chunk)
    return total


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
