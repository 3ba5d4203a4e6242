"""Result checks: each returns the list of ways an op's result falls
outside the bound its sketch documents against the exact answer. An empty
list means the result is within bound. Pure numpy, no Spark.
"""

from __future__ import annotations

import numpy as np


def hll(estimates: np.ndarray, exact: np.ndarray, p: int) -> list[str]:
    """HyperLogLog: relative error within 1.04/sqrt(m), m = 2^p."""
    bound = 1.04 / np.sqrt(float(1 << p))
    rel = np.abs(estimates - exact) / np.maximum(exact, 1)
    bad = np.flatnonzero(rel > bound)
    return [f"hll group {i}: est {estimates[i]} exact {exact[i]}" for i in bad[:5]]


def rank_error(sorted_values: np.ndarray, q: float, estimate: float) -> float:
    """Distance from ``q`` to the rank interval the estimate occupies in
    the exact data (ties give an interval, not a point)."""
    n = len(sorted_values)
    lo = np.searchsorted(sorted_values, estimate, side="left") / n
    hi = np.searchsorted(sorted_values, estimate, side="right") / n
    return max(0.0, lo - q, q - hi)


def quantiles(
    groups: list[np.ndarray], qs: list[float], estimates: np.ndarray, bound: float, label: str
) -> list[str]:
    """Quantile sketches: rank error within ``bound``. A group of n values
    cannot resolve ranks finer than 1/n, so each group is allowed that
    granularity on top of the sketch's bound."""
    out = []
    for i, vals in enumerate(groups):
        tol = bound + 1.0 / len(vals)
        for j, q in enumerate(qs):
            err = rank_error(vals, q, float(estimates[i][j]))
            if err > tol:
                out.append(f"{label} group {i} q={q}: rank error {err:.4f} > {tol:.4f}")
    return out


def exact_counts(got: np.ndarray, exact: np.ndarray, label: str) -> list[str]:
    bad = np.flatnonzero(got != exact)
    return [f"{label} {i}: {got[i]} != {exact[i]}" for i in bad[:5]]


def cms(estimates: np.ndarray, exact: np.ndarray, eps_n, delta: float) -> list[str]:
    """Count-Min: never below the exact count; above it by at most eps*N
    (one value, or one per key), a bound each key may miss with
    probability delta."""
    out = []
    under = np.flatnonzero(estimates < exact)
    if len(under):
        out.append(f"cms: {len(under)} keys under-estimated (first kid {under[0]})")
    over = int(np.count_nonzero(estimates > exact + eps_n))
    if over > delta * len(exact):
        out.append(f"cms: {over} of {len(exact)} keys above exact+eps*N (allowed {delta * len(exact):.1f})")
    return out


def count_sketch(estimates: np.ndarray, exact: np.ndarray, bound: float, delta: float) -> list[str]:
    """Count sketch: |est - exact| <= eps*sqrt(F2), missed by at most a
    delta share of keys."""
    off = int(np.count_nonzero(np.abs(estimates - exact) > bound))
    if off > delta * len(exact):
        return [f"count sketch: {off} keys off by > {bound:.1f} (allowed {delta * len(exact):.1f})"]
    return []


def membership(answer: np.ndarray, member: np.ndarray, target_fpr: float, label: str) -> tuple[list[str], float]:
    """Filters: zero false negatives, and a false-positive rate at most
    three times the configured target. Returns (violations, measured FPR)."""
    out = []
    fn = int(np.count_nonzero(member & ~answer))
    if fn:
        out.append(f"{label}: {fn} false negatives")
    non = ~member
    fpr = float(np.count_nonzero(answer & non)) / max(1, int(np.count_nonzero(non)))
    if fpr > 3 * target_fpr:
        out.append(f"{label}: FPR {fpr:.4f} > 3 x {target_fpr}")
    return out, fpr


def kept_mask(kept_kids: np.ndarray, n: int) -> np.ndarray:
    """Membership answers of a semi-filter: which of the n probe ids it kept."""
    ans = np.zeros(n, bool)
    ans[kept_kids] = True
    return ans


def bloom_fill(set_bits: int, m: int, k: int, n_distinct: int, target_fpr: float, label: str) -> list[str]:
    """A built Bloom bit vector: the set-bit count expected from n
    distinct items with k positions each (within 2%), and the FPR that
    fill implies at most three times the target."""
    expected = m * (1.0 - (1.0 - 1.0 / m) ** (k * n_distinct))
    out = []
    if abs(set_bits - expected) > 0.02 * expected + 3 * np.sqrt(expected):
        out.append(f"{label}: {set_bits} bits set, expected {expected:.0f}")
    if (set_bits / m) ** k > 3 * target_fpr:
        out.append(f"{label}: implied FPR {(set_bits / m) ** k:.4f} > 3 x {target_fpr}")
    return out


def identical_within_groups(group: np.ndarray, signature: np.ndarray, label: str) -> list[str]:
    """Exact duplicates (same ``group``) must get identical signatures."""
    order = np.lexsort((signature, group))
    g, s = group[order], signature[order]
    same_group = g[1:] == g[:-1]
    bad = int(np.count_nonzero(same_group & (s[1:] != s[:-1])))
    return [f"{label}: {bad} exact-duplicate pairs with differing signatures"] if bad else []


def one_row_per_id(ids: np.ndarray, expected: np.ndarray, label: str) -> list[str]:
    if len(ids) != len(expected) or not np.array_equal(np.sort(ids), np.sort(expected)):
        return [f"{label}: {len(ids)} rows for {len(expected)} ids"]
    return []
