"""Op recording, spans, Spark event-log attribution and RSS sampling.

The recorder is the benchmark's only clock. Untraced runs record ops
only (start, end, ok) — the samples every end-to-end metric comes from.
Traced runs add, per op, a Spark job group (so the event log attributes
jobs, stages and tasks to it) and spans around each call into an engine
layer. Spans live in memory and are written out with the run record.

All times are ``time.time()`` seconds, because the Spark event log
stamps tasks in epoch milliseconds and the two must share one clock.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import sys
import threading
import time
import traceback


class Recorder:
    """Closed-loop op log plus (when ``traced``) the span tree."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.counters: collections.Counter = collections.Counter()
        self.samples: dict[str, list[float]] = collections.defaultdict(list)
        self.round = 0
        self.spark = None  # set by the runner; job groups need the context
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """One user-visible operation. An exception inside is recorded
        as a failed op and swallowed, so the loop keeps going; the run
        then reports ``correct: false``."""
        rec = {"id": len(self.ops), "kind": kind, "name": name, "round": self.round, "ok": True}
        self.ops.append(rec)
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"op{rec['id']}", name)
        self._op = rec["id"]
        rec["t0"] = time.time()
        try:
            yield rec
        except Exception as exc:  # noqa: BLE001 — a failed op is a sample, not a crash
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["t1"] = time.time()
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str):
        """A call into one engine layer; a no-op unless traced."""
        if not self.traced:
            yield
            return
        sp = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "t0": time.time(),
        }
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp["t1"] = time.time()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        """A per-layer counter; a no-op unless traced."""
        if self.traced:
            self.counters[name] += n

    def wrap(self, fn, name: str):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        wrapped.__wrapped__ = fn
        return wrapped


def instrument(rec: Recorder, module, attr: str, name: str) -> None:
    """Route every reference to ``module.attr`` held by an engine module
    through a span named ``name`` — query bodies import ``load_table``
    by name, so patching the defining module alone would miss them."""
    orig = getattr(module, attr)
    wrapped = rec.wrap(orig, name)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("unity_to_bigquery_spark") and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the time its direct children
    cover (children of one span never overlap: one client thread)."""
    child = collections.defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["t1"] - sp["t0"]
    out: dict[str, float] = collections.defaultdict(float)
    for i, sp in enumerate(spans):
        out[sp["name"]] += sp["t1"] - sp["t0"] - child[i]
    return dict(out)


def span_totals(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = collections.defaultdict(float)
    for sp in spans:
        out[sp["name"]] += sp["t1"] - sp["t0"]
    return dict(out)


# ---- Spark event log -------------------------------------------------------


def parse_event_log(log_dir: str, ops: list[dict]) -> dict[int, dict]:
    """Per op id: jobs, stages, tasks, summed task run and GC time,
    input / shuffle-write / spill bytes, and ``driver_only_s`` — the
    op's wall time during which none of its tasks was running."""
    job_op, stage_op = {}, {}
    per = collections.defaultdict(lambda: collections.Counter())
    intervals = collections.defaultdict(list)
    # Spark 4 writes a directory per application: rolling event files,
    # an empty appstatus marker and hidden .crc checksums
    paths = sorted(os.path.join(dp, f) for dp, _d, fs in os.walk(log_dir) for f in fs if not f.startswith("."))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("op"):
                        continue
                    op = int(group[2:])
                    job_op[ev["Job ID"]] = op
                    per[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None and ev["Stage Info"].get("Submission Time"):
                        per[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    per[op]["tasks"] += 1
                    per[op]["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    per[op]["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    per[op]["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    per[op]["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    per[op]["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    intervals[op].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    for rec in ops:
        busy, end = 0.0, rec["t0"]
        for a, b in sorted(intervals.get(rec["id"], [])):
            a, b = max(a, end), min(b, rec["t1"])
            if b > a:
                busy += b - a
                end = b
        per[rec["id"]]["driver_only_s"] = max(0.0, rec["t1"] - rec["t0"] - busy)
    return dict(per)


# ---- resident memory --------------------------------------------------------


def _proc_tree() -> list[tuple[int, str]]:
    """(pid, comm) for this process and all its descendants."""
    children, comms = collections.defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        children[int(st[st.rindex(")") + 2 :].split()[1])].append(int(d))
        comms[int(d)] = st[st.index("(") + 1 : st.rindex(")")]
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in comms:
            out.append((pid, comms[pid]))
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it. Forked Python workers share most of
    their pages with the daemon they fork from, so summing plain RSS
    would count those pages once per worker alive at the instant."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process exited between listing and reading
    return 0


class RssSampler:
    """Background thread sampling the process tree's resident memory
    (summed PSS) every ``interval`` seconds; keeps the peak of the total
    and of the JVM and Python (driver + workers) shares."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        tot = {"total": 0, "jvm": 0, "python": 0}
        for pid, comm in _proc_tree():
            kb = _pss_kb(pid)
            tot["total"] += kb
            tot["jvm" if comm == "java" else "python"] += kb
        for k, v in tot.items():
            self.peak[k] = max(self.peak[k], v)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return {k: v / 1024.0 for k, v in self.peak.items()}
