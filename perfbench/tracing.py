"""In-memory span tracing from the benchmark's side of the package API.

A :class:`Tracer` wraps public functions of the package's modules (by
replacing the module or class attribute for the length of a run), so
the package itself carries no tracing code. Each span records name,
start, end, parent span, run id and thread. While a span is open its
thread's Spark job group names the span, so the Spark jobs it caused
can be looked up afterwards in the status store (which works with the
UI disabled): job count, stage count, executor CPU, shuffle-write and
input bytes.

A span opened on a helper thread with no span of its own open takes as
parent the span that was open where its work was handed over: the
submitting thread's top span for work given to a ``ThreadPoolExecutor``
(the pipelined prepare of ``cdc.runner.replay``), else the main
thread's outermost span (the reader thread, stream callbacks). It never
takes whatever the main thread happens to have open at that moment.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import json
import threading
import time

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _top_id(self) -> int | None:
        stack = self._stack()
        return stack[-1]["id"] if stack else getattr(self._local, "handed_over", None)

    def _parent_id(self) -> int | None:
        parent = self._top_id()
        if parent is None and threading.current_thread() is not self._main and self._main_stack:
            parent = self._main_stack[0]["id"]
        return parent

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = self._parent_id()
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "thread": threading.current_thread().name,
            "group": f"perfbench-{self.run_id}-{sid}",
        }
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_GROUP)
        sc.setJobGroup(rec["group"], name, False)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    # ----------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def follow_executor_handoffs(self) -> None:
        """Make work submitted to a ``ThreadPoolExecutor`` open its spans
        under the span that was open at ``submit``."""
        pool = concurrent.futures.ThreadPoolExecutor
        submit = pool.submit
        tracer = self

        @functools.wraps(submit)
        def traced_submit(executor, fn, /, *args, **kwargs):
            parent = tracer._top_id()

            def handed_over(*a, **kw):
                tracer._local.handed_over = parent
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._local.handed_over = None

            return submit(executor, handed_over, *args, **kwargs)

        self._patches.append((pool, "submit", submit))
        pool.submit = traced_submit

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    # --------------------------------------------------------- counters
    def attach_spark_counters(self, fact_min_input_bytes: int | None = None) -> None:
        """Fill each span's own Spark counters from the status store.
        ``fact_scans`` counts stages whose input bytes reach
        ``fact_min_input_bytes`` (a stage that read a fact file) and
        ``fact_scan_cpu_s`` is their executor CPU: where the lazily built
        source parser and the row filters above it actually run."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for rec in self.spans:
            jobs = sc.statusTracker().getJobIdsForGroup(rec["group"])
            c = {"jobs": len(jobs), "stages": 0, "cpu_s": 0.0, "shuffle_bytes": 0, "input_bytes": 0, "fact_scans": 0,
                 "fact_scan_cpu_s": 0.0}
            for j in jobs:
                try:
                    it = store.job(j).stageIds().iterator()
                except Exception:  # evicted from the store: count the job only
                    continue
                while it.hasNext():
                    sid = it.next()
                    sd = store.stageData(sid, False, no_status, False, no_quantiles)
                    for i in range(sd.size()):
                        st = sd.apply(i)
                        if st.status().toString() == "SKIPPED":
                            continue
                        cpu_s = st.executorCpuTime() / 1e9
                        c["stages"] += 1
                        c["cpu_s"] += cpu_s
                        c["shuffle_bytes"] += int(st.shuffleWriteBytes())
                        c["input_bytes"] += int(st.inputBytes())
                        if fact_min_input_bytes and st.inputBytes() >= fact_min_input_bytes:
                            c["fact_scans"] += 1
                            c["fact_scan_cpu_s"] += cpu_s
            rec["spark"] = c

    # ------------------------------------------------------------ report
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans
        (children may overlap each other, e.g. pipelined threads)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for k in sorted(kids.get(s["id"], []), key=lambda r: r["start"]):
                a, b = max(k["start"], s["start"]), min(k["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def by_name(self) -> dict[str, dict]:
        """Per span name: count, total seconds, self seconds and the
        Spark counters of the jobs its spans and their descendants ran."""
        self_t = self.self_times()
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)

        def inclusive(s: dict) -> dict:
            tot = dict(s.get("spark", {}))
            for k in kids.get(s["id"], []):
                for key, v in inclusive(k).items():
                    tot[key] = tot.get(key, 0) + v
            return tot

        agg: dict[str, dict] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], {"n": 0, "s": 0.0, "self_s": 0.0})
            a["n"] += 1
            a["s"] += s["end"] - s["start"]
            a["self_s"] += self_t[s["id"]]
            for k, v in inclusive(s).items():
                a[k] = a.get(k, 0) + v
        return agg

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps({**s, "self_s": self_t[s["id"]]}, default=str) + "\n")
