"""Span tracing from outside the package.

Each layer is timed by replacing the module attribute its caller looks
up (``plans.pipeline.materialize``, ``sources.tables.merge_graph``, …)
with a wrapper that records a span; ``Tracer.unpatch`` restores the
originals. Spans live in memory and are written out once, at the end.

Engine counters come from the Spark event log (enabled only in the
traced run): every wrapper tags the Spark jobs its thread submits with
the ``perfbench.span`` local property, and ``attach_event_log`` folds
task metrics back onto those spans. Per-op totals are attributed by
time instead, because the single client runs one op at a time.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

SPAN_PROP = "perfbench.span"
SPARK_COUNTERS = ("jobs", "tasks", "shuffle_write_mb", "executor_cpu_s", "executor_run_s", "gc_s")

# the pipeline's leg threads run in these FAIR pools (plans/pipeline.py);
# a materialize issued from one belongs to that leg's layer
LEG_POOLS = {
    "leg-offers": "operators.linking.offers_leg",
    "leg-tech": "operators.enrich.tech_leg",
    "leg-triples": "operators.extraction.triples_leg",
}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self._op_stack: list[int] = []  # span stack of the thread running the op
        self.enabled = False
        # outputs a wrapper keeps for counting after the op (untimed)
        self.captures: dict[str, list] = defaultdict(list)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        # a span opened in a helper thread (the pipeline's leg threads)
        # belongs to whatever span the op's own thread has open
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": t0, "end": t1,
                                   "parent": parent, "op": self.op_id})

    @contextmanager
    def op(self, name: str, op_id: int):
        """Root span of one build / delta / query."""
        self.op_id = op_id
        self._op_stack = self._stack()
        with self.span(name):
            yield

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled and self.op_id is not None:
            with self._lock:
                self.counts[(self.op_id, name)] += n

    # -- patching ------------------------------------------------------
    def wrap(self, owner, attr: str, name, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``name``
        is a string, ``f(args, kwargs) -> str``, or None for no span;
        ``on_call(args, kwargs, result)`` runs after the call (counters)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if name is None:
                result = original(*args, **kwargs)
            else:
                with tracer.span(name(args, kwargs) if callable(name) else name):
                    result = original(*args, **kwargs)
            if on_call is not None and tracer.enabled:
                on_call(args, kwargs, result)
            return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def leg_or(self, default: str) -> str:
        pool = self.sc.getLocalProperty("spark.scheduler.pool")
        return LEG_POOLS.get(pool, default)

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id → duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                         for c in kids.get(s["id"], ()))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def per_op(self, metric_of_span) -> dict[int, dict[str, float]]:
        """op id → {metric: summed self time} using ``metric_of_span(name)``
        (None drops the span) plus the op's counters."""
        st = self.self_times()
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            m = metric_of_span(s["name"])
            if m is not None and s["op"] is not None:
                out[s["op"]][m] += st[s["id"]]
        for (op, name), n in self.counts.items():
            out[op][name] += n
        return out

    def attach_event_log(self, log_dir: Path, op_windows: dict[int, tuple[float, float]]) -> dict[int, dict]:
        """Fold event-log task metrics onto spans (by job property) and
        onto ops (by job submission time). Returns op id → counters."""
        by_span: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
        by_op: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
        stage_job: dict[int, int] = {}
        job_span: dict[int, str | None] = {}
        job_op: dict[int, int | None] = {}

        def op_at(t: float):
            for op, (a, b) in op_windows.items():
                if a <= t <= b:
                    return op
            return None

        # Spark 4 writes the log as a directory of rolled event files
        for f in sorted(Path(log_dir).rglob("events_*")):
            if not f.is_file():
                continue
            with f.open() as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                        job_span[jid] = (ev.get("Properties") or {}).get(SPAN_PROP)
                        job_op[jid] = op_at(ev["Submission Time"] / 1000.0)
                        for tgt in self._targets(by_span, by_op, job_span[jid], job_op[jid]):
                            tgt["jobs"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        tm = ev.get("Task Metrics") or {}
                        sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        for tgt in self._targets(by_span, by_op, job_span.get(jid), job_op.get(jid)):
                            tgt["tasks"] += 1
                            tgt["shuffle_write_mb"] += sw / 1e6
                            tgt["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                            tgt["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                            tgt["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        for s in self.spans:
            if str(s["id"]) in by_span:
                s["spark"] = {k: round(v, 6) for k, v in by_span[str(s["id"])].items()}
        return by_op

    @staticmethod
    def _targets(by_span, by_op, span, op):
        out = []
        if span is not None:
            out.append(by_span[span])
        if op is not None:
            out.append(by_op[op])
        return out

    def write(self, path: Path, self_time: dict[int, float] | None = None) -> None:
        st = self_time or self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self_s": round(st[s["id"]], 6)}) + "\n")


def caller_layer(depth: int = 2) -> str:
    """Package layer (``operators.dedup`` …) of the function ``depth``
    frames up, for wrappers shared by many callers."""
    mod = sys._getframe(depth).f_globals.get("__name__", "?")
    return mod.removeprefix("ontology_learning_spark.")
