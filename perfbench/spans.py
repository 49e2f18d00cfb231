"""Measurement from outside the program: spans, call counters, the py4j
call counter, the process-tree CPU meter and RSS sampler and the Spark
event-log reader.

Nothing here is imported by the program. Layers are timed by wrapping
public functions at module-attribute level (`Tracer.wrap`), so the
program runs unmodified; untraced runs install no wrapper at all.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "chchfr_data_collection_spark"


def union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
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


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and per-name
    call counters. Spans are written out once, by `dump`, at the end."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._patched: list[tuple] = []
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.calls[name] += 1
            self.ms[name] += (rec["end"] - rec["start"]) * 1000

    def _wrapper(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace module function `owner.attr` with a span-recording
        wrapper, in `owner` and in every imported module of the package
        that bound the same object by `from owner import attr`."""
        orig = getattr(owner, attr)
        traced = self._wrapper(name, orig)
        targets = [owner] + [
            m
            for n, m in list(sys.modules.items())
            if n.startswith(PACKAGE) and m is not owner and getattr(m, attr, None) is orig
        ]
        for t in targets:
            setattr(t, attr, traced)
            self._patched.append((t, attr, orig))

    def count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            tracer.py4j_calls += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command
        self._patched.append((GatewayClient, "send_command", orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_ms(self) -> dict[str, float]:
        """Per span name: span time minus the part its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) * 1000
            out[s["name"]] += own - union_ms(children[s["id"]]) * 1000
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


class CpuMeter:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included, and the part of it spent in the
    JVM's JIT compiler threads.

    The kernel leaves out time the hypervisor stole from the virtual CPUs,
    so on a shared host these counters move far less with the neighbours'
    load than wall-clock time does. The JIT compiler threads compile in the
    background while the work runs; their share shows how far the session
    still is from its steady state."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self) -> None:
        self._names: dict[tuple, str] = {}  # (pid, tid) -> thread name
        self._jit: dict[tuple, int] = {}  # (pid, tid) -> last seen ticks

    def read(self) -> tuple[float, float]:
        """(CPU seconds in all, in the JIT compiler threads)."""
        total = 0
        for pid in process_tree():
            try:
                total += _cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
                if is_jvm:
                    self._read_jit(pid)
            except OSError:
                continue  # the process ended meanwhile
        return total / _CLK_TCK, sum(self._jit.values()) / _CLK_TCK

    def _read_jit(self, pid: int) -> None:
        # a compiler thread that has exited keeps its last reading: its
        # time stays in the process total
        for tid in os.listdir(f"/proc/{pid}/task"):
            key = (pid, tid)
            try:
                if key not in self._names:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._names[key] = f.read().strip()
                if self._names[key].startswith(self.JIT_THREADS):
                    self._jit[key] = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
            except OSError:
                continue


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages that forked Python workers share
    with their daemon are counted once, not once per worker. The JVM, which
    shares no pages with the rest, counts its resident set: its PSS costs
    the kernel a walk over thousands of mappings, CPU time that would land
    in the measured operations."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        with open(f"/proc/{pid}/statm") as g:
                            total += int(g.read().split()[1]) * _PAGE
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # the process ended meanwhile
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------- event log

_PY_BYTES = ("data sent to Python workers",)
_PY_TIME = ("time to run Python workers",)  # a millisecond timing metric


def read_event_log(log_dir: str) -> dict:
    """Jobs (submit, end, stage ids) and per-stage task totals from every
    uncompressed event-log file under `log_dir` (rolling or single).
    Times are epoch milliseconds."""
    files = sorted(
        f for f in glob.glob(f"{log_dir}/**/*", recursive=True) if os.path.isfile(f)
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["task_run_ms"] += m.get("Executor Run Time", 0)
                    st["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["task_gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name") or ""
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if name in _PY_BYTES:
                            st["python_bytes_sent"] += upd
                        elif name in _PY_TIME:
                            st["python_udf_ms"] += upd
    return {"jobs": jobs, "stages": stages}


SPARK_KEYS = (
    "task_run_ms", "task_cpu_ms", "task_gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "python_udf_ms", "python_bytes_sent",
)


def attribute_jobs(log: dict, ops: list[dict]) -> None:
    """Add Spark-engine totals to each op ({"t0", "t1"} epoch seconds):
    a job belongs to the op whose interval holds its submission time."""
    jobs = sorted(log["jobs"].items(), key=lambda kv: kv[1]["start"])
    bounds = [(op["t0"] * 1000, op["t1"] * 1000, op) for op in ops]
    for op in ops:
        op["spark"] = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in SPARK_KEYS}}
        op["_job_iv"] = []
    i = 0
    for _, job in jobs:
        while i < len(bounds) and bounds[i][1] < job["start"]:
            i += 1
        if i == len(bounds) or job["start"] < bounds[i][0]:
            continue
        lo, hi, op = bounds[i]
        sp = op["spark"]
        sp["jobs"] += 1
        op["_job_iv"].append((job["start"], min(job["end"] or hi, hi)))
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None:
                continue  # skipped stage: its tasks ran in an earlier job
            sp["stages"] += 1
            sp["tasks"] += int(st["tasks"])
            for k in SPARK_KEYS:
                sp[k] += st[k]
    for lo, hi, op in bounds:
        op["spark"]["driver_gap_ms"] = (hi - lo) - union_ms(op.pop("_job_iv"))
