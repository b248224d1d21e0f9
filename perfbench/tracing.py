"""Spans, peak-RSS sampling and process cleanup for the benchmark.

Spans are recorded only from the benchmark's own files, around each call
into a layer of `tantivy_spark`; nothing inside the library is
instrumented.  A span's name is ``<layer>.<operation>``; the layer is the
part before the first dot.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, name, parent, request, start, end).

    Disabled tracers record nothing and cost one branch per span, so the
    untraced run measures the end-to-end metrics without span overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._next_id = 0
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = [sid, name, parent, self.request, time.perf_counter(), None]
        self._stack.append(sid)
        try:
            yield
        finally:
            rec[5] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def layer_totals(self) -> tuple[dict[str, float], dict[str, int], float]:
        """(self seconds per layer, span count per layer, root seconds).

        A span's self time is its duration minus that of its direct
        children; spans here never overlap their siblings (one thread)."""
        child = {}
        for s in self.spans:
            if s[2] is not None:
                child[s[2]] = child.get(s[2], 0.0) + (s[5] - s[4])
        self_s: dict[str, float] = {}
        count: dict[str, int] = {}
        root = 0.0
        for s in self.spans:
            layer = s[1].split(".", 1)[0]
            dur = s[5] - s[4]
            self_s[layer] = self_s.get(layer, 0.0) + dur - child.get(s[0], 0.0)
            count[layer] = count.get(layer, 0) + 1
            if s[2] is None:
                root += dur
        return self_s, count, root

    def write(self, path: str) -> None:
        keys = ("id", "name", "parent", "request", "start", "end")
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s[4]):
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times (forked Python workers share most of
    their pages with their daemon)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    Spark JVM and its Python workers), sampled from /proc."""

    # one sample costs ~15 ms of CPU (smaps_rollup of the JVM), so
    # sample once a second to keep it out of the measured latencies
    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            with self._lock:
                total = sum(_pss_bytes(p) for p in [me] + descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    @contextmanager
    def quiet(self):
        """No sampling inside the block: a sample takes about 15 ms of
        this process's CPU, which would land on a 2 ms serving query."""
        with self._lock:
            yield

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this benchmark started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when the pipe on its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    reap_descendants()


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; SIGKILL what is left after
    `timeout` and wait again."""
    me = os.getpid()
    killed = False
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(me)
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)  # reaps direct children only
            except ChildProcessError:
                pass
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not exit: {left}")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
