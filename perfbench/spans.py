"""Spans around the program's public functions, Spark's per-stage
counters by job group, and a resident-memory sampler.

All of it lives in the benchmark: the traced run replaces module
attributes with timing wrappers (``Tracer.wrap``) and tags every Spark
job with the id of the innermost open span, so the stage metrics of
the status store can be attributed to layers afterwards.  Spans stay
in memory until ``Tracer.dump`` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder.  While ``enabled`` is false (untraced ops) spans
    record nothing and tag no jobs, so the op code stays the same."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.t0 = time.perf_counter()
        self.op: int | None = None
        self.spans: list[dict] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += n

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unwrap``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a
        span; ``counter(result)`` adds to the count ``name``."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if counter is not None:
                self.count(name, counter(result))
            return result

        self.patch(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def op_spans(self, op: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name]

    def seconds(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.op_spans(op, name))

    def dump(self, path: Path, extra: dict) -> None:
        counts = [
            {"op": op, "name": name, "value": value}
            for (op, name), value in sorted(self.counts.items(), key=str)
        ]
        path.write_text(json.dumps({"spans": self.spans, "counts": counts, **extra}))


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = [
    "executorRunTime", "inputBytes", "outputBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def spark_jobs_by_span(sc) -> dict[int, list[dict]]:
    """Completed jobs grouped by the span id their job group names."""
    store = sc._jsc.sc().statusStore()
    out: dict[int, list[dict]] = defaultdict(list)
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group = j.jobGroup()
        if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
            continue
        out[int(group.get()[len(GROUP_PREFIX):])].append(
            {"job": j.jobId(), "stages": _seq(j.stageIds())}
        )
    return out


def spark_stages(sc) -> dict[int, dict]:
    """Metrics of every completed stage attempt, keyed by stage id."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.status().toString() != "COMPLETE":
            continue
        rec = {f: getattr(s, f)() for f in STAGE_FIELDS}
        rec["tasks"] = s.numCompleteTasks()
        prev = out.get(s.stageId())
        if prev is None:
            out[s.stageId()] = rec
        else:  # a retried stage: count every attempt's work
            for k, v in rec.items():
                prev[k] += v
    return out


def storage_memory_mb(sc) -> float:
    """Storage memory held by cached or checkpointed blocks."""
    store = sc._jsc.sc().statusStore()
    it = store.executorList(True).iterator()
    used = 0
    while it.hasNext():
        used += it.next().memoryUsed()
    return used / 2**20


# ---------------------------------------------------------------------------
# Resident memory of the driver's Python process plus its JVM
# ---------------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list[int]:
    """Java processes started by this Python process (the Spark driver)."""
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            pids.append(int(entry))
    return pids


class RssSampler:
    """Samples driver Python + JVM RSS every ``interval`` seconds while
    active; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.pids = [os.getpid(), *jvm_pids()]
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
