"""Pure measurement helpers: percentiles, spans and self time, the pass
loop, and /proc readings. Nothing here touches Spark, so the arithmetic
is unit-tested on its own (perfbench/tests)."""

from __future__ import annotations

import math
import os
import time
import traceback
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
TAIL_MIN_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(samples_by_op: dict[str, list[float]]) -> tuple[int | None, float | None, int]:
    """(percentile, value, n) over every op's samples pooled: the highest
    percentile in TAIL_PERCENTILES with at least TAIL_MIN_BEYOND samples
    above its nearest-rank position. With fewer than 2 x TAIL_MIN_BEYOND
    samples no percentile has that many beyond it: (None, None, n)."""
    s = sorted(x for xs in samples_by_op.values() for x in xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)  # 1-based nearest rank
        if n - rank >= TAIL_MIN_BEYOND:
            return p, s[rank - 1], n
    return None, None, n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


@dataclass
class Tracer:
    """In-memory span recorder. ``op`` tags every span opened while it is
    set; spans nest by call order (one thread). A disabled tracer records
    nothing, so untraced runs pay no tracing cost."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def unattributed(spans: list[Span], op: str, wall: float, op_start: float) -> float:
    """Part of an op's wall time [op_start, op_start + wall] that no
    top-level span of that op covers."""
    tops = [(s.start, s.end) for s in spans if s.op == op and s.parent is None]
    return wall - _covered(tops, op_start, op_start + wall)


@dataclass
class OpResult:
    op: str
    start: float
    wall: float
    error: str | None = None
    problems: list[str] = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return bool(self.error or self.problems)


def run_pass(
    ops: list[str],
    run_op: Callable[[str], None],
    before_op: Callable[[str], None] = lambda op: None,
    after_op: Callable[[str], list[str]] = lambda op: [],
    clock: Callable[[], float] = time.perf_counter,
) -> list[OpResult]:
    """Run every op once, timing only ``run_op``. ``before_op`` (cleanup)
    and ``after_op`` (the output check, returning its problems) run
    untimed. An op that raises is recorded as failed with its traceback,
    and the pass goes on to the next op."""
    out = []
    for op in ops:
        before_op(op)
        t0 = clock()
        try:
            run_op(op)
            err = None
        except Exception:  # one failed op must not end the run
            err = traceback.format_exc()
        wall = clock() - t0
        try:
            problems = [] if err else after_op(op)
        except Exception:
            problems = [traceback.format_exc()]
        out.append(OpResult(op, t0, wall, err, problems))
    return out


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    start_ticks = int(_stat_fields(pid or os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent_of[int(entry)] = int(_stat_fields(int(entry))[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [pid], [pid]
    while frontier:
        kids = [c for c, p in parent_of.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def wait_for_group(pgid: int, timeout: float) -> None:
    """Block until no process of process group ``pgid`` is left."""
    deadline = time.monotonic() + timeout
    while True:
        alive = False
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    f = _stat_fields(int(entry))
                except (OSError, IndexError):
                    continue
                if int(f[2]) == pgid and f[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"process group {pgid} still running")
        time.sleep(0.05)


def cpu_seconds(pids: Iterable[int]) -> dict[int, float]:
    """User + system CPU seconds of each live process in ``pids``."""
    out = {}
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        out[pid] = (int(f[11]) + int(f[12])) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds spent between two ``cpu_seconds`` readings: a process
    born in between counts from zero, one that ended counts nothing."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def cpu_steal(since: tuple[int, int] | None = None):
    """Without ``since``: a (steal, total) tick reading of /proc/stat. With
    one: the share of CPU time stolen by the hypervisor since then."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0


def rss_mb(pid: int | None = None) -> float:
    with open(f"/proc/{pid or os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmRSS missing")
