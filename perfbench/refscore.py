"""Independent pure-Python string scorers for the benchmark's output check.

Written from the textbook definitions and deliberately sharing no code
with the engine's kernels, so a kernel bug cannot also hide in the
checker. Scores are similarities in [0, 1] on already-lowercased input:

- ``levenshtein_sim(a, b) = 1 - lev(a, b) / max(len(a), len(b))``
- ``jaro_winkler_sim`` uses the classic parameters: match window
  ``max(len) // 2 - 1``, prefix scale 0.1 over at most 4 characters,
  boost applied only when the Jaro similarity exceeds 0.7.
"""

from __future__ import annotations


def levenshtein(a: str, b: str) -> int:
    """Edit distance (insert, delete, substitute) by Wagner-Fischer."""
    if len(a) < len(b):
        a, b = b, a
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        diag, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            above = row[j]
            row[j] = min(above + 1, row[j - 1] + 1, diag + (ca != cb))
            diag = above
    return row[-1]


def levenshtein_sim(a: str, b: str) -> float:
    longest = max(len(a), len(b))
    return 1.0 if longest == 0 else 1.0 - levenshtein(a, b) / longest


def jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    window = max(0, max(len(a), len(b)) // 2 - 1)
    used_b = [False] * len(b)
    matched_a = []
    for i, ca in enumerate(a):
        for j in range(max(0, i - window), min(len(b), i + window + 1)):
            if not used_b[j] and b[j] == ca:
                used_b[j] = True
                matched_a.append(ca)
                break
    m = len(matched_a)
    if m == 0:
        return 0.0
    matched_b = [cb for cb, used in zip(b, used_b) if used]
    half_transpositions = sum(x != y for x, y in zip(matched_a, matched_b))
    t = half_transpositions // 2
    return (m / len(a) + m / len(b) + (m - t) / m) / 3.0


def jaro_winkler_sim(a: str, b: str) -> float:
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return j + 0.1 * prefix * (1.0 - j)


SIMILARITY = {
    "levenshtein": levenshtein_sim,
    "jaro_winkler": jaro_winkler_sim,
}


def passes(sim: float, threshold_score: float) -> bool:
    """The engine's keep rule: ``1 - sim <= (100 - int(threshold)) / 100``.

    Compared with a 1e-9 slack so a score exactly at the threshold is
    not lost to the last bit of a float division."""
    return 1.0 - sim <= (100 - int(threshold_score)) / 100 + 1e-9
