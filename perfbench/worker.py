"""One benchmark run of ``fuzzy_match_dfs`` (started by ``run.py``).

A run, in order:

1. set-up: start the Spark session, then generate the workload's inputs
   from the seed and pin them (``cache`` + ``count``) three times,
   keeping the last copy. ``setup_s`` is the time from process spawn to
   the session being up, plus the median of the three input rounds;
2. check joins: the first join of each check key (the one pair of
   frames, or each batch of the pool) fetches its output as Arrow and
   checks it in full with the benchmark's own scorer (``refscore``).
   The first of them is the cold join, the first in the fresh session;
3. timed joins for ``--seconds``: ``fuzzy_match_dfs`` plus a ``noop``
   write of every output column. Each join also observes its row count
   and an order-independent row digest, which must equal the checked
   output's, so every timed join is verified without a second pass.
   They follow the check joins with no untimed warm-up, so they are
   early joins of the session: the driver JVM's JIT is still compiling
   (``spark.jvm_jit_s`` in the traced run), and on ``batch_multi`` the
   join time keeps falling for about ten joins.

With ``--trace 1`` the timed phase alternates untraced and traced joins
and the run reports per-layer numbers instead (see ``spans.py``).

The last stdout line is the result JSON. Exit status is 1 when any join
failed or an output check did not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass

import gen
import refscore
from spans import SparkStatus, Tracer, self_times

# -------------------------------------------------------------- workloads


@dataclass
class PairWorkload:
    """One levenshtein mapping between two unique-key frames."""

    n_left: int
    n_right: int
    threshold: float

    how = "inner"
    metric = "levenshtein"

    def pin(self, spark, seed):
        self.data = gen.pair_inputs(seed, self.n_left, self.n_right)
        self.frames = [
            _pin(spark.createDataFrame(self.data.left)),
            _pin(spark.createDataFrame(self.data.right)),
        ]
        return self.frames

    @property
    def key_pairs(self) -> int:
        return self.n_left * self.n_right

    def maps(self):
        from pl_fuzzy_frame_match_spark import FuzzyMapping

        return [FuzzyMapping("l_name", "r_name", self.threshold, self.metric)]

    def job(self, i):
        """(left, right, mappings, check key) of join ``i``."""
        left, right = self.frames
        return left, right, self.maps(), 0

    def n_check_keys(self) -> int:
        return 1

    def first_mapping_keys(self):
        return list(self.data.left.l_name), list(self.data.right.r_name)

    def check(self, rows, key):
        """Output check of one join; returns (errors, found, planted).
        Recall is reported, not enforced: this workload's automatic
        strategy is the approximate sketch scan."""
        errors = []
        left = self.data.left.set_index("l_id")["l_name"]
        right = self.data.right.set_index("r_id")["r_name"]
        got = {(r["l_id"], r["r_id"]) for r in rows}
        if len(got) != len(rows):
            errors.append(f"{len(rows) - len(got)} duplicate output pairs")
        sample = sorted(rows, key=lambda r: (r["l_id"], r["r_id"]))
        if len(sample) > CHECK_SAMPLE:
            step = len(sample) / CHECK_SAMPLE
            sample = [sample[int(k * step)] for k in range(CHECK_SAMPLE)]
        score_col = f"l_name_vs_r_name_{self.metric}"
        sim = refscore.SIMILARITY[self.metric]
        for r in sample:
            if r["l_name"] != left[r["l_id"]] or r["r_name"] != right[r["r_id"]]:
                errors.append(f"payload mismatch in {r}")
                continue
            s = sim(r["l_name"].lower(), r["r_name"].lower())
            if not refscore.passes(s, self.threshold):
                errors.append(f"pair below threshold: {r}")
            if abs(s - r[score_col]) > 1e-9:
                errors.append(f"score {r[score_col]} != recomputed {s}: {r}")
        return errors[:20], len(got & self.data.planted), len(self.data.planted)


@dataclass
class BatchWorkload:
    """A stream of small batches left-joined against a reference table
    on three mappings."""

    n_reference: int
    n_names: int
    n_cities: int
    batch_rows: int
    n_batches: int

    how = "left"

    def pin(self, spark, seed):
        self.data = gen.batch_inputs(
            seed, self.n_reference, self.n_names, self.n_cities,
            self.batch_rows, self.n_batches,
        )
        self.reference = _pin(spark.createDataFrame(self.data.reference))
        self.batches = [_pin(spark.createDataFrame(b)) for b in self.data.batches]
        return [self.reference, *self.batches]

    @property
    def key_pairs(self) -> int:
        distinct_batch_names = statistics.median(
            b["b_name"].str.lower().nunique() for b in self.data.batches
        )
        return int(distinct_batch_names * self.n_names)

    def maps(self):
        from pl_fuzzy_frame_match_spark import FuzzyMapping

        return [
            FuzzyMapping("b_name", "ref_name", 90, "jaro_winkler"),
            FuzzyMapping("b_city", "ref_city", 80, "levenshtein"),
            FuzzyMapping("b_country", "ref_country", 100, "levenshtein"),
        ]

    def job(self, i):
        b = i % self.n_batches
        return self.batches[b], self.reference, self.maps(), b

    def n_check_keys(self) -> int:
        return self.n_batches

    def first_mapping_keys(self):
        names = [n for b in self.data.batches for n in b.b_name]
        return names, list(self.data.reference.ref_name.unique())

    def check(self, rows, b):
        errors = []
        batch = self.data.batches[b].set_index("b_id")
        ref = self.data.reference.set_index("ref_id")
        named = self._named()
        seen, matched, got = set(), set(), set()
        # one row per (batch row, reference row); None for an unmatched row
        counts = Counter((r["b_id"], r["ref_id"]) for r in rows)
        dups = sum(n - 1 for n in counts.values())
        if dups:
            errors.append(f"{dups} duplicate output rows")
        for r in rows:
            seen.add(r["b_id"])
            src = batch.loc[r["b_id"]]
            if (r["b_name"], r["b_city"], r["b_country"]) != (
                src.b_name, src.b_city, src.b_country,
            ):
                errors.append(f"left payload mismatch in {r}")
            if r["ref_id"] is None:
                if any(r[m.output_column_name] is not None for m in named):
                    errors.append(f"unmatched row carries scores: {r}")
                continue
            matched.add(r["b_id"])
            got.add((r["b_id"], r["ref_id"]))
            dst = ref.loc[r["ref_id"]]
            if (r["ref_name"], r["ref_city"], r["ref_country"]) != (
                dst.ref_name, dst.ref_city, dst.ref_country,
            ):
                errors.append(f"right payload mismatch in {r}")
            for m in named:
                a, c = r[m.left_col].lower(), r[m.right_col].lower()
                s = (
                    float(a == c)
                    if m.threshold_score >= 100
                    else refscore.SIMILARITY[m.fuzzy_type](a, c)
                )
                if not refscore.passes(s, m.threshold_score):
                    errors.append(f"{m.left_col} below threshold: {r}")
                if abs(s - r[m.output_column_name]) > 1e-9:
                    errors.append(f"{m.output_column_name} != {s}: {r}")
        missing = set(batch.index) - seen
        if missing:
            errors.append(f"{len(missing)} batch rows missing from the output")
        unmatched = [r for r in rows if r["ref_id"] is None and r["b_id"] in matched]
        if unmatched:
            errors.append(f"{len(unmatched)} null rows for matched batch rows")
        truth = self.data.planted[b]
        found = len(got & truth)
        if found != len(truth):
            errors.append(f"lost {len(truth) - found} planted pairs")
        return errors[:20], found, len(truth)

    def _named(self):
        from pl_fuzzy_frame_match_spark.naming import set_output_column_names

        return set_output_column_names(self.maps())


WORKLOADS = {
    # the reference's headline 40K x 30K = 1.2B-pair row: automatic
    # strategy choice takes the SimHash sketch scan
    "ann_lev_1b": PairWorkload(n_left=40000, n_right=30000, threshold=75),
    # small-batch multi-mapping stream: fixed per-join cost dominates
    "batch_multi": BatchWorkload(
        n_reference=20000, n_names=4000, n_cities=400, batch_rows=500,
        n_batches=2,
    ),
}

# output rows of a pair join rescored by the check, evenly spaced in
# (l_id, r_id) order
CHECK_SAMPLE = 3000
SETUP_ROUNDS = 3
# a run's median needs this many timed joins even when they overrun
# --seconds (a join takes 3.5-4 s, or twice that on a slower machine)
MIN_TIMED_JOINS = 2


# -------------------------------------------------------------- helpers


def _pin(df):
    df = df.cache()
    df.count()
    return df


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _tree_rss(self) -> int:
        children: dict = {}
        rss: dict = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{entry}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
            rss[int(entry)] = pages
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total * self._page

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.PERIOD_S)


def run_join(left, right, maps, how, collect: bool, tracer: Tracer):
    """One join: ``fuzzy_match_dfs`` + materialisation of every output
    column, observing the output's row count and digest on the way.
    Returns (seconds, rows, digest, collected rows or None)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pl_fuzzy_frame_match_spark import fuzzy_match_dfs

    t0 = time.perf_counter()
    with tracer.span("matcher.plan", "matcher"):
        out = fuzzy_match_dfs(left, right, maps, how=how)
    obs = Observation()
    observed = out.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*out.columns), F.lit(2147483647))).alias("digest"),
    )
    table = None
    with tracer.span("matcher.materialize", "matcher"):
        if collect:
            table = observed.toArrow()
        else:
            observed.write.format("noop").mode("overwrite").save()
    secs = time.perf_counter() - t0
    got = obs.get
    collected = table.to_pylist() if table is not None else None
    return secs, got["rows"], got["digest"], collected


class Run:
    """State of one benchmark run: the workload's pinned inputs, the
    verified output of every check key, and the failure count."""

    def __init__(self, name: str, seed: int, seconds: float):
        self.seed, self.seconds = seed, seconds
        self.w = WORKLOADS[name]
        self.attempted = 0
        self.failed_joins: set = set()
        self.errors: list = []
        self.expected: dict = {}  # check key -> (rows, digest) of checked output
        self.found = self.planted = 0
        self.next_i = 0
        self.join_times: list = []  # (join, seconds) of every good join
        self.tracer = Tracer()

    def fail(self, join: int | None, msg: str) -> None:
        if join is not None:
            self.failed_joins.add(join)
        self.errors.append(msg)

    def setup(self, t_spawn: float) -> None:
        from pl_fuzzy_frame_match_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t
        t_up = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        rounds, pinned = [], []
        for _ in range(SETUP_ROUNDS):
            for df in pinned:
                df.unpersist(blocking=True)
            t = time.perf_counter()
            pinned = self.w.pin(self.spark, self.seed)
            rounds.append(time.perf_counter() - t)
        self.pin_rounds = rounds
        self.setup_s = (t_up - t_spawn) + statistics.median(rounds)

    def join(self, collect: bool = False):
        """Run the next join and verify it: with ``collect`` its output is
        fetched and checked in full, otherwise its (rows, digest) must
        equal the checked output's. Returns its seconds, or None on
        failure."""
        i = self.next_i
        self.next_i += 1
        left, right, maps, key = self.w.job(i)
        self.attempted += 1
        try:
            secs, rows, digest, collected = run_join(
                left, right, maps, self.w.how, collect, self.tracer
            )
        except Exception:  # a join that raises is a counted failure
            self.fail(i, f"join {i} raised:\n{traceback.format_exc()}")
            return None
        if collected is not None:
            errors, found, planted = self.w.check(collected, key)
            if errors:
                self.fail(i, f"join {i} output check: {errors}")
                return None
            self.expected[key] = (rows, digest)
            self.found += found
            self.planted += planted
        elif self.expected.get(key) != (rows, digest):
            self.fail(i, f"join {i}: (rows, digest) {(rows, digest)} != checked "
                      f"{self.expected.get(key)}")
            return None
        self.join_times.append(secs)
        return secs

    def check_joins(self) -> None:
        """One checked join per check key; the first is the cold join."""
        self.cold_s = self.join(collect=True)
        for _ in range(1, self.w.n_check_keys()):
            self.join(collect=True)
        if self.planted == 0:
            self.fail(None, "no planted pairs were checked")

    def timed(self) -> list:
        times = []
        deadline = time.perf_counter() + self.seconds
        while (
            time.perf_counter() < deadline or len(times) < MIN_TIMED_JOINS
        ) and not self.errors:
            secs = self.join()
            if secs is not None:
                times.append(secs)
        return times

    def end_to_end(self, times: list, peak_rss: int) -> dict:
        p50 = statistics.median(times)
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_join_s": (self.cold_s, "s"),
            "join_s_p50": (p50, "s"),
            "key_pairs_per_s": (self.w.key_pairs / p50, "1/s"),
            "recall": (self.found / self.planted, "ratio"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }


# -------------------------------------------------------------- traced run

LAYERS = ("bench", "planner", "matcher", "candidates", "minhash")
SPARK_TOTALS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("jvm_gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("jvm_jit_s", "s"),
)
CANDIDATE_ENTRY_POINTS = (
    "candidates.exact_candidates",
    "candidates.approx_scored_pairs",
    "candidates.neighborhood_scored_pairs",
)


def traced_phase(run: Run) -> dict:
    """Alternate untraced and traced joins for ``--seconds``, then time
    the layers standalone. Returns {metric: (value, unit)}."""
    tracer, status = run.tracer, SparkStatus(run.spark)
    tracer.install()
    untraced, traced, per_join = [], [], []
    deadline = time.perf_counter() + run.seconds
    while (time.perf_counter() < deadline or not traced) and not run.errors:
        secs = run.join()
        if secs is not None:
            untraced.append(secs)
        status.settle()
        first_job, jit0 = status.max_job_id(), status.jit_s()
        join_id = run.next_i
        tracer.counts.clear()
        tracer.enabled, tracer.join_id = True, join_id
        try:
            with tracer.span("join", "bench"):
                secs = run.join()
        finally:
            tracer.enabled = False
        status.settle()
        if secs is not None:
            totals = status.totals(first_job, status.max_job_id())
            totals["jvm_jit_s"] = status.jit_s() - jit0
            per_join.append(join_layers(tracer, join_id, totals))
            traced.append(per_join[-1]["trace.join_s"][0])
    if not per_join:
        return {}
    metrics = {
        key: (statistics.median(j[key][0] for j in per_join), unit)
        for key, (_, unit) in per_join[0].items()
    }
    t = time.perf_counter()
    metrics.update(standalone_layers(run))
    print(f"standalone layers {time.perf_counter() - t:.2f} s", file=sys.stderr)
    tr_p50, un_p50 = statistics.median(traced), statistics.median(untraced)
    metrics["session.start_s"] = (run.session_s, "s")
    metrics["trace.join_s_p50"] = (tr_p50, "s")
    metrics["trace.untraced_join_s_p50"] = (un_p50, "s")
    metrics["trace.overhead_s"] = (tr_p50 - un_p50, "s")
    metrics.pop("trace.join_s")
    return metrics


def join_layers(tracer: Tracer, join_id: int, spark_totals: dict) -> dict:
    """Per-join layer numbers from one traced join's spans and jobs."""
    spans = tracer.join_spans(join_id)

    def total(name):
        """Wall time covered by the spans of ``name`` (concurrent calls,
        such as the two stats passes, count once)."""
        covered, reach = 0.0, float("-inf")
        for s in sorted((s for s in spans if s.name == name), key=lambda s: s.start):
            covered += max(0.0, s.end - max(s.start, reach))
            reach = max(reach, s.end)
        return covered

    selfs = self_times(spans)
    out = {
        "trace.join_s": (total("join"), "s"),
        "trace.self_sum_s": (sum(selfs.values()), "s"),
        "planner.stats_s": (total("planner.stats"), "s"),
        "planner.stats_calls": (tracer.counts["planner.stats"], "count"),
        "matcher.plan_s": (total("matcher.plan"), "s"),
        "matcher.index_s": (total("matcher.index"), "s"),
        "matcher.first_round_s": (total("matcher.first_round"), "s"),
        "matcher.refine_s": (total("matcher.refine"), "s"),
        "matcher.materialize_s": (total("matcher.materialize"), "s"),
    }
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    for key, unit in SPARK_TOTALS:
        out[f"spark.{key}"] = (spark_totals.get(key, 0.0), unit)
    return out


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def standalone_layers(run: Run) -> dict:
    """Layer entry points timed on their own, outside any join."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from pl_fuzzy_frame_match_spark.functions import kernels, minhash, native_kernels
    from pl_fuzzy_frame_match_spark.operators.matcher import _LC_PREFIX

    out = {}
    calls = run.tracer.calls
    # the candidate entry point the last traced join chose, re-invoked on
    # its recorded arguments and counted (scored survivors)
    entry = next(n for n in CANDIDATE_ENTRY_POINTS if n in calls)
    fn, args, kwargs = calls[entry]
    _, _, mapping, *_ = calls["matcher.first_round"][1]
    bound = mapping.reversed_threshold_score
    t = time.perf_counter()
    frame = fn(*args, **kwargs)  # the sketch scan does eager driver work here
    if entry == "candidates.exact_candidates":
        d = kernels.distance_column(
            mapping.fuzzy_type,
            F.col(_LC_PREFIX + mapping.left_col),
            F.col(_LC_PREFIX + mapping.right_col),
            bound,
        )
        frame = frame.filter(d <= F.lit(bound))
    survivors = frame.count()
    out["candidates.s"] = (time.perf_counter() - t, "s")
    out["candidates.key_pairs"] = (run.w.key_pairs, "count")
    out["candidates.survivors"] = (survivors, "count")
    out["candidates.survivor_ratio"] = (survivors / run.w.key_pairs, "ratio")

    # a fixed seeded sample of the first mapping's key pairs: 1000 x 1000
    # keys crossed in Spark, 20K zipped pairs on the driver
    lefts, rights = run.w.first_mapping_keys()
    rng = random.Random(run.seed)
    a = [k.lower() for k in rng.sample(lefts, 1000)]
    b = [k.lower() for k in rng.sample(rights, 1000)]
    spark = run.spark
    pairs = _pin(
        spark.createDataFrame(pd.DataFrame({"a": a}))
        .crossJoin(spark.createDataFrame(pd.DataFrame({"b": b})))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    dist = kernels.distance_column(mapping.fuzzy_type, F.col("a"), F.col("b"), bound)
    # a fresh DataFrame per call: re-running one would reuse its shuffle
    out["kernels.score_s"] = (
        _median_time(lambda: pairs.select(F.sum(dist)).collect(), 3), "s"
    )
    pairs.unpersist()
    n = 20_000
    za = [rng.choice(a) for _ in range(n)]
    zb = [rng.choice(b) for _ in range(n)]
    native = _median_time(
        lambda: native_kernels.native_bounded_distance(
            mapping.fuzzy_type, za, zb, bound
        ),
        5,
    )
    out["kernels.native_pairs_per_s"] = (n / native, "1/s")
    sketch = _median_time(lambda: minhash.simhash_sketch_np(rights), 3)
    out["minhash.sketch_keys_per_s"] = (len(rights) / sketch, "1/s")
    return out


# -------------------------------------------------------------- entry point


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_spawn = float(os.environ.get("PERFBENCH_T_SPAWN", time.time()))

    run = Run(args.workload, args.seed, args.seconds)
    run.setup(t_spawn)
    t_warm = time.perf_counter()
    run.check_joins()
    t_timed = time.perf_counter()
    if args.trace:
        metrics = traced_phase(run) if not run.errors else {}
        work = os.environ.get("PERFBENCH_WORK")
        if work:
            run.tracer.dump(
                os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl")
            )
    else:
        with RssSampler() as sampler:
            times = run.timed() if not run.errors else []
        metrics = run.end_to_end(times, sampler.peak) if times else {}
    t_stop = time.perf_counter()
    run.spark.stop()
    print(
        f"phases: setup {run.setup_s:.2f} s (input rounds "
        + " ".join(f"{t:.2f}" for t in run.pin_rounds)
        + f" s), check joins {t_timed - t_warm:.2f} s, "
        f"measured {t_stop - t_timed:.2f} s, stop {time.perf_counter() - t_stop:.2f} s; "
        f"{run.attempted} joins: " + " ".join(f"{t:.2f}" for t in run.join_times),
        file=sys.stderr,
    )
    for err in run.errors:
        print(err, file=sys.stderr)
    correct = not run.errors and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failed_joins),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
