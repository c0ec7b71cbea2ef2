"""Driver-side heuristic planner for the fuzzy join.

Capability parity with the reference's pre-processing optimizer
(/root/reference/pl_fuzzy_frame_match/pre_process.py):

- O1 selectivity-ordered join sequencing: approximate distinct counts
  per match column -> combined uniqueness score -> most-selective
  mapping first (pre_process.py:95-119). Catalyst's CBO cannot reason
  about similarity-join selectivity, so this stays engine-side Python.
- O3 input dedup under low selectivity: sum(uniqueness) < 1.2 and
  cartesian > 1e6 -> dropDuplicates the inputs on the key columns
  (pre_process.py:135-171, 317-322; intentionally changes output
  cardinality — pinned by the reference's own tests).
- O4 adaptive physical strategy: exact cross join below the crossover,
  LSH-approximate above it, hard abort past ABORT_CARTESIAN
  (matcher.py:241-340).

Spark mechanics: the distinct counts use one ``approx_count_distinct``
aggregate per frame (single pass, HyperLogLog — same family as Polars'
``approx_n_unique``); everything else is driver-side arithmetic.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..models import FuzzyMapping

# Reference constants (pre_process.py:149, matcher.py:250,322)
UNIQUENESS_DEDUP_THRESHOLD = 1.2
CARTESIAN_DEDUP_THRESHOLD = 1_000_000
DEFAULT_CROSS_OVER = 100_000_000
ABORT_CARTESIAN = 1e14


def get_count_and_approx_uniqueness(
    df: DataFrame, columns: Sequence[str]
) -> Tuple[int, Dict[str, int]]:
    """Row count AND approximate distinct count per column in ONE
    aggregate pass — the reference runs these as separate eager collects
    (pre_process.py:12-28, 48-67); fusing them halves the planner's job
    count, which matters because every extra Spark job is fixed
    scheduling overhead at small scale and an extra full scan at 100 TB."""
    n, uniq, _ = get_count_uniqueness_and_maxlen(df, columns)
    return n, uniq


def get_count_uniqueness_and_maxlen(
    df: DataFrame, columns: Sequence[str]
) -> Tuple[int, Dict[str, int], Dict[str, int]]:
    """Row count, approximate distinct count AND max string length per
    column in ONE aggregate pass. The max length feeds the
    deletion-neighborhood gate (O9) — fusing it here removes the two
    per-mapping probe jobs `max_key_length` would otherwise run (each
    a full scan at 100 TB)."""
    cols = list(dict.fromkeys(columns))
    row = df.agg(
        F.count(F.lit(1)).alias("__fuzzy_n"),
        *[F.approx_count_distinct(c).alias(c) for c in cols],
        *[
            F.max(F.length(F.col(c).cast("string"))).alias(f"__len_{c}")
            for c in cols
        ],
    ).collect()[0]
    return (
        int(row["__fuzzy_n"]),
        {c: int(row[c]) for c in cols},
        {c: int(row[f"__len_{c}"] or 0) for c in cols},
    )


def get_approx_uniqueness(df: DataFrame, columns: Sequence[str]) -> Dict[str, int]:
    """Approximate distinct count per column in ONE aggregate pass
    (reference pre_process.py:12-28 runs approx_n_unique per column)."""
    if not columns:
        return {}
    return get_count_and_approx_uniqueness(df, columns)[1]


def calculate_uniqueness(a: float, b: float) -> float:
    """Combined uniqueness score of a mapping from the two distinct
    ratios — reference pre_process.py:31-45, value-pinned by its tests:
    ((a+0.5)^2 + (b+0.5)^2)/2 - 0.25 + 0.5*|a-b|."""
    return ((a + 0.5) ** 2 + (b + 0.5) ** 2) / 2 - 0.25 + 0.5 * abs(a - b)


def order_mappings_by_selectivity(
    fuzzy_maps: Sequence[FuzzyMapping],
    left_uniq: Dict[str, int],
    right_uniq: Dict[str, int],
    left_count: int,
    right_count: int,
) -> List[FuzzyMapping]:
    """Fill ``perc_unique`` and sort most-selective-first (O1)."""
    out = []
    for m in fuzzy_maps:
        a = left_uniq.get(m.left_col, 0) / max(left_count, 1)
        b = right_uniq.get(m.right_col, 0) / max(right_count, 1)
        out.append(m.copy_with(perc_unique=calculate_uniqueness(a, b)))
    return sorted(out, key=lambda m: m.perc_unique, reverse=True)


# O10 cap: promote exact (threshold-100) mappings ahead of fuzzy ones
# only when the estimated equi-join survivor volume is safely
# scorable — the fuzzy refine round scores every surviving ROW pair
# (no regrouping on distinct values), so a non-selective exact key
# (few distinct values) must not turn the shortcut into a
# cartesian-sized refine. 1e8 matches the exact-tier ANN crossover: a
# survivor set the refine round can score losslessly is exactly a pair
# set the first round could have scored losslessly.
EXACT_FIRST_PAIR_CAP = 100_000_000

# O10 floor (round 8, measured by scripts/probe_o10_scale.py on the
# two-mapping bench shape, local[32] sf0.1): promotion inserts a full
# extra round (equi-join, then a refine round) with a fixed
# cost independent of the avoided volume. Warmed, interleaved A/B
# (per-arm warmup, median of 3 — the probe's first version timed the
# promoted arm cold and got the 1x sign WRONG by 2.5x): promotion wins
# at 15M avoided pairs (1.92 s vs 2.46 s) and at 150M (10.8 s vs
# 21.9 s). Net gain ~= avoided_pairs / session scoring rate (~30M
# distinct pairs/s here) minus the ~0.2-0.3 s fixed round cost, so the
# break-even sits near 1e7 pairs; below it the extra round is pure
# overhead. Past the 1e8 auto-ANN crossover promotion additionally
# PRESERVES EXACTNESS (the shrunken pair set refines losslessly where
# fuzzy-first would take the lossy sketch tiers).
PROMOTE_MIN_FUZZY_PAIRS = 10_000_000


def promote_exact_mappings(
    fuzzy_maps: Sequence[FuzzyMapping],
    left_uniq: Dict[str, int],
    right_uniq: Dict[str, int],
    left_count: int,
    right_count: int,
) -> List[FuzzyMapping]:
    """O10 (Spark-first extension; VERDICT r5 #3): a threshold-100
    mapping is an EQUALITY predicate, and its round plans as a hash
    equi-join — orders of magnitude cheaper than fuzzy scoring. Running
    exact mappings FIRST shrinks the pair set every fuzzy round must
    score: on the 10x two-mapping probe shape (150K x 1K names x 25
    nation keys) the fuzzy round scores ~6M equi-surviving pairs
    instead of the 150M cartesian (measured 10.8 s vs 21.9 s warmed,
    scripts/probe_o10_scale.py; 1.92 s vs 2.46 s at the 1x/15M shape).
    Conjunction semantics make the result identical in any order (the
    monotonicity property the reference pins); only the cost moves.
    Promotion fires only when BOTH hold (round 9, ADVICE r8: every
    term in the benefit test is in DISTINCT-pair units — the units O2
    actually scores in — while the materialization cap stays in ROW
    units, the units the refine round scores):

    - AVOIDED volume ``fuzzy_pairs - est_survivors >=
      PROMOTE_MIN_FUZZY_PAIRS``: the extra round's ~0.2-0.3 s fixed
      cost breaks even near 1e7 avoided pairs at the measured scoring
      rate, and "avoided" is exactly what the cost model prices — this
      single condition subsumes the former absolute floor and the
      former at-least-half shrink heuristic;
    - estimated surviving ROWS (row cartesian / max distinct of the
      most selective exact key — uniform-key estimate) fit
      ``EXACT_FIRST_PAIR_CAP`` (the refine round scores each one).

    The reference's own ordering (O1, process.py uniqueness sort) has
    no exact-mapping special case because its engine scores all rounds
    the same way."""
    exact = [m for m in fuzzy_maps if m.reversed_threshold_score == 0.0]
    fuzzy = [m for m in fuzzy_maps if m.reversed_threshold_score != 0.0]
    if not exact or not fuzzy:
        return list(fuzzy_maps)
    cart = max(left_count, 1) * max(right_count, 1)
    # what the un-promoted plan would score: the distinct-key cartesian
    # of the fuzzy mapping that would run first (O2 scores per distinct
    # pair). Missing uniqueness stats degrade to the row cartesian —
    # conservative toward promotion, matching the scored upper bound.
    lead = fuzzy[0]
    fuzzy_pairs = max(
        left_uniq.get(lead.left_col, left_count), 1
    ) * max(right_uniq.get(lead.right_col, right_count), 1)
    # selectivity of the best exact key: its distinct-value count
    # (uniform-key estimate divides survivor volume by this)
    best_key_distinct = max(
        max(
            left_uniq.get(m.left_col, 1), right_uniq.get(m.right_col, 1), 1
        )
        for m in exact
    )
    # volume guard in ROW units — the refine round scores every
    # surviving ROW pair of the equi-join
    est_rows = cart // best_key_distinct
    # benefit test in DISTINCT-pair units (ADVICE r8): fuzzy_pairs is
    # the distinct-name cartesian (O2 scores per distinct pair), so
    # the survivor estimate must be too — the old row-based estimate
    # inflated with duplicated names (rows >> distinct) and
    # suppressed beneficial promotion. The avoided volume is what the
    # measured cost model prices (net gain ~= avoided / scoring rate
    # - fixed round cost), so the floor applies to it directly.
    est_distinct = fuzzy_pairs // best_key_distinct
    avoided = fuzzy_pairs - est_distinct
    if est_rows <= EXACT_FIRST_PAIR_CAP and avoided >= PROMOTE_MIN_FUZZY_PAIRS:
        return exact + fuzzy  # each block keeps its selectivity order
    return list(fuzzy_maps)


def should_deduplicate_inputs(
    fuzzy_maps: Sequence[FuzzyMapping], left_count: int, right_count: int
) -> bool:
    """O3 trigger: total uniqueness below 1.2 AND cartesian above 1e6
    (reference pre_process.py:135-149)."""
    total = sum(m.perc_unique for m in fuzzy_maps)
    return (
        total < UNIQUENESS_DEDUP_THRESHOLD
        and left_count * right_count > CARTESIAN_DEDUP_THRESHOLD
    )


@dataclass
class Strategy:
    use_approx: bool
    cartesian: int


def choose_candidate_strategy(
    n_left_keys: int,
    n_right_keys: int,
    use_appr_nearest_neighbor: bool | None = None,
    cross_over: float = DEFAULT_CROSS_OVER,
) -> Strategy:
    """O4: exact cross join vs approximate (LSH) candidate generation,
    on the cartesian of *distinct key counts* (reference matcher.py:241-340)."""
    cartesian = n_left_keys * n_right_keys
    if cartesian > ABORT_CARTESIAN:
        raise ValueError(
            f"cartesian of distinct keys {cartesian:.3g} exceeds hard limit "
            f"{ABORT_CARTESIAN:.0g}; refusing to plan"
        )
    if use_appr_nearest_neighbor is None:
        use_approx = cartesian > cross_over
    else:
        use_approx = bool(use_appr_nearest_neighbor)
    return Strategy(use_approx=use_approx, cartesian=cartesian)


# ---------------------------------------------------------------------------
# Vector-family physical strategy (the analogue of choose_candidate_strategy
# for embedding operators): broadcast the corpus matrix while it fits one
# executor, switch to the distributed block-GEMM paths past that. The
# reference's analogue is its 1e8 exact<->ANN crossover
# (/root/reference/pl_fuzzy_frame_match/matcher.py:250,327) — a planner
# decision, never a caller knob.
# ---------------------------------------------------------------------------

# One executor must hold the broadcast (ids + float64 matrix) alongside
# task memory. 256 MB = ~500K rows of dim-64 / ~40K rows of dim-768 —
# past it a 100x corpus would OOM the broadcast, so the planner switches
# to blocks instead of the caller having to know.
BROADCAST_VECTOR_BYTES = 256 << 20
# Target packed-block size for the blocked paths: small enough that a
# task holds two blocks plus the GEMM output, big enough that per-block
# scheduling overhead stays negligible.
VECTOR_BLOCK_BYTES = 64 << 20


def vector_corpus_stats(df: DataFrame, vec_col: str) -> Tuple[int, int]:
    """(row count, max vector length) in ONE aggregate pass — the cheap
    stat the vector crossover needs (dim is not in the schema for
    ``array`` columns, and a full count is one map-side-combined scan)."""
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.size(vec_col)).alias("__dim"),
    ).collect()[0]
    return int(row["__n"] or 0), int(row["__dim"] or 0)


def vector_matrix_bytes(n_rows: int, dim: int) -> int:
    """Resident size of the corpus as (int64 ids + float64 matrix)."""
    return n_rows * (8 + dim * 8)


def choose_vector_blocks(n_rows: int, dim: int) -> int:
    """Physical strategy for the embedding operators: 1 = collect +
    broadcast the corpus matrix (GEMM against a broadcast — the fast
    shape while it fits), >1 = the distributed block paths with this
    many corpus blocks. Reads the module constants at call time so
    tests can force the crossover."""
    size = vector_matrix_bytes(n_rows, dim)
    if size <= BROADCAST_VECTOR_BYTES:
        return 1
    return max(2, -(-size // VECTOR_BLOCK_BYTES))
