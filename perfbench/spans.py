"""In-memory span tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code: :meth:`Tracer.install`
replaces the engine's layer entry points at the module attributes its
callers look them up through (``operators.matcher`` globals and the
modules that import lazily), so the engine itself is unchanged. Each
span keeps (name, layer, start, end, parent, join id, thread); the list
is written out once, when the run ends.

Self time: concurrent spans (the matcher launches its stats and index
jobs from a thread pool) would be counted twice by "duration minus
children". :func:`self_times` instead sweeps a join's timeline and
splits every instant equally between the innermost spans open at it,
so a join's self times add up to exactly its wall time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    join_id: int | None
    thread: str


class Tracer:
    """Span recorder. ``enabled`` gates recording so the same installed
    wrappers serve traced and untraced joins of one run."""

    def __init__(self) -> None:
        self.enabled = False
        self.join_id: int | None = None
        self.spans: list[Span] = []
        self.counts: dict = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.calls: dict = {}

    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list) -> int | None:
        if stack:
            return stack[-1]
        # pool threads inherit the main thread's innermost open span
        return self._main_stack[-1] if self._main_stack else None

    def span(self, name: str, layer: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return _SpanCtx(self, name, layer)

    def wrap(self, module, attr: str, name: str, layer: str, record=False):
        """Replace ``module.attr`` by a span-recording wrapper. With
        ``record`` the last call's arguments are kept under ``name``."""
        fn = getattr(module, attr)
        if getattr(fn, "__wrapped_by_tracer__", False):
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self._lock:
                self.counts[name] += 1
            if record:
                self.calls[name] = (fn, args, kwargs)
            with _SpanCtx(self, name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the engine's layer entry points at their call sites."""
        from pl_fuzzy_frame_match_spark.functions import minhash
        from pl_fuzzy_frame_match_spark.operators import candidates
        from pl_fuzzy_frame_match_spark.operators import matcher as m

        w = self.wrap
        w(m, "get_count_uniqueness_and_maxlen", "planner.stats", "planner")
        w(m, "order_mappings_by_selectivity", "planner.order", "planner")
        w(m, "promote_exact_mappings", "planner.order", "planner")
        w(m, "should_deduplicate_inputs", "planner.order", "planner")
        w(m, "choose_candidate_strategy", "planner.strategy", "planner")
        w(m, "add_index_column", "matcher.index", "matcher")
        w(m, "build_key_frame", "matcher.keys", "matcher")
        w(m, "first_round_matches", "matcher.first_round", "matcher", record=True)
        w(m, "refine_matches", "matcher.refine", "matcher")
        for attr in (
            "exact_candidates",
            "approx_scored_pairs",
            "neighborhood_scored_pairs",
        ):
            w(m, attr, "candidates." + attr, "candidates", record=True)
        w(m, "attach_index_lists", "candidates.attach_index_lists", "candidates")
        w(candidates, "_degenerate_key_share", "candidates.degenerate_probe",
          "candidates")
        w(minhash, "simhash_sketch_np", "minhash.sketch", "minhash")

    def join_spans(self, join_id: int) -> list:
        return [s for s in self.spans if s.join_id == join_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        stack = self.t._stack()
        self.parent = self.t._parent(stack)
        self.span_id = next(self.t._ids)
        stack.append(self.span_id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(
                Span(
                    self.span_id, self.name, self.layer, self.start, end,
                    self.parent, self.t.join_id,
                    threading.current_thread().name,
                )
            )
        return False


def self_times(spans: list) -> dict:
    """Per-layer self time of one join's spans (see module docstring).
    Returns {layer: seconds}; the values sum to the root span's span."""
    if not spans:
        return {}
    by_id = {s.span_id: s for s in spans}
    edges = sorted({t for s in spans for t in (s.start, s.end)})
    out: dict = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        open_ids = {s.span_id for s in spans if s.start <= a and s.end >= b}
        if not open_ids:
            continue
        parents = {by_id[i].parent for i in open_ids}
        leaves = [i for i in open_ids if i not in parents]
        share = (b - a) / len(leaves)
        for i in leaves:
            out[by_id[i].layer] += share
    return dict(out)


# ---------------------------------------------------------------- spark


class SparkStatus:
    """Job and stage metrics read from the driver's status store.

    Works with the UI disabled. Job ids are sequential within a
    session, so the jobs of one join are the ids between two reads of
    the newest id. Scala ``Seq`` results are indexed with ``apply``;
    ``lastStageAttempt`` gives per-stage task metrics. The driver JVM's
    JIT compile time, which the status store does not hold, is read from
    its compilation MXBean."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._compiler = (
            spark._jvm.java.lang.management.ManagementFactory
            .getCompilationMXBean()
        )

    def jit_s(self) -> float:
        """Seconds the JVM's JIT compilers have spent since it started."""
        return self._compiler.getTotalCompilationTime() / 1e3

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        return max(self._tracker.getJobIdsForGroup(), default=-1)

    def totals(self, after_job: int, upto_job: int) -> dict:
        """Summed metrics of jobs ``after_job < id <= upto_job``."""
        stage_ids: set = set()
        for job_id in range(after_job + 1, upto_job + 1):
            sids = self._store.job(job_id).stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        n_jobs = upto_job - after_job
        t = defaultdict(float)
        t["jobs"] = n_jobs
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            t["tasks"] += st.numCompleteTasks()
            t["executor_run_s"] += st.executorRunTime() / 1e3
            t["executor_cpu_s"] += st.executorCpuTime() / 1e9
            t["jvm_gc_s"] += st.jvmGcTime() / 1e3
            t["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            t["spill_mb"] += st.diskBytesSpilled() / 2**20
        return dict(t)
