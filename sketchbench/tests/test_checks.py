"""Tests of the benchmark's own result checks and span arithmetic.

    python3 -m pytest sketchbench/tests -q
"""

from __future__ import annotations

import numpy as np

from sketchbench import checks
from sketchbench.tracing import Span, self_times


def test_hll_within_bound_passes_and_perturbed_estimate_is_flagged():
    exact = np.array([100.0, 2000.0, 50_000.0])
    bound = 1.04 / np.sqrt(1 << 14)
    assert checks.hll(exact * (1 + 0.5 * bound), exact, 14) == []
    perturbed = exact.copy()
    perturbed[1] *= 1 + 2 * bound
    out = checks.hll(perturbed, exact, 14)
    assert len(out) == 1 and "group 1" in out[0]


def test_cms_flags_underestimate_and_excess_overestimates():
    exact = np.arange(1000)
    assert checks.cms(exact + 3, exact, eps_n=5.0, delta=0.001) == []
    under = exact.copy()
    under[7] -= 1
    assert checks.cms(under, exact, eps_n=5.0, delta=0.001)
    over = exact.copy()
    over[:2] += 6  # two keys above the bound; delta allows one
    assert checks.cms(over, exact, eps_n=5.0, delta=0.001)
    per_key = np.full(1000, 5.0)
    per_key[:2] = 7.0  # a bound per key
    assert checks.cms(over, exact, eps_n=per_key, delta=0.001) == []


def test_count_sketch_bound_allows_delta_share():
    exact = np.zeros(1000)
    est = exact.copy()
    est[0] = 100  # one miss in 1000 is within delta = 0.001
    assert checks.count_sketch(est, exact, bound=10.0, delta=0.001) == []
    est[1] = -100
    assert checks.count_sketch(est, exact, bound=10.0, delta=0.001)


def test_membership_false_negative_and_fpr():
    member = np.array([True] * 500 + [False] * 500)
    answer = member.copy()
    answer[500:510] = True  # FPR 0.02 <= 3 x 0.01
    out, fpr = checks.membership(answer, member, 0.01, "f")
    assert out == [] and abs(fpr - 0.02) < 1e-12
    answer[3] = False
    out, _ = checks.membership(answer, member, 0.01, "f")
    assert any("false negatives" in o for o in out)
    answer[3] = True
    answer[500:520] = True  # FPR 0.04 > 0.03
    out, _ = checks.membership(answer, member, 0.01, "f")
    assert any("FPR" in o for o in out)


def test_quantile_rank_error_with_ties_and_perturbation():
    vals = np.sort(np.repeat(np.arange(100, dtype=float), 10))  # 1000 values, ties
    exact_median = np.array([[49.0]])
    assert checks.quantiles([vals], [0.5], exact_median, 0.01, "q") == []
    assert checks.quantiles([vals], [0.5], np.array([[60.0]]), 0.01, "q")


def test_identical_signatures_within_duplicate_groups():
    group = np.array([1, 1, 2, 3, 3])
    sig = np.array([7, 7, 8, 9, 9])
    assert checks.identical_within_groups(group, sig, "s") == []
    sig[4] = 10
    assert checks.identical_within_groups(group, sig, "s")


def test_bloom_fill_flags_missing_bits():
    m, k, n = 1 << 20, 7, 50_000
    expected = m * (1 - (1 - 1 / m) ** (k * n))
    assert checks.bloom_fill(int(expected), m, k, n, 0.01, "b") == []
    assert checks.bloom_fill(int(expected * 0.9), m, k, n, 0.01, "b")


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        Span(0, None, 1, "round", 0.0, 10.0),
        Span(1, 0, 1, "a", 1.0, 4.0),
        Span(2, 0, 1, "b", 3.0, 6.0),  # overlaps a by 1 s
        Span(3, 1, 1, "a.child", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert abs(st[0] - 5.0) < 1e-12  # 10 - union(1..6)
    assert abs(st[1] - 2.5) < 1e-12
    assert abs(st[2] - 3.0) < 1e-12


def _grouped_states(truth, hashes, drop_row=None):
    """Per-group CMS and native Bloom states built from the truth's rows
    in numpy, the way the grouped op's merged states should come out."""
    import pyarrow as pa

    from probabilistic_rs_spark.sketches.cms import CountMinSketch
    from probabilistic_rs_spark.sketches.native_bloom import BloomConfig, NativeBloomSketch

    gid = truth["lang"] * 31 + truth["day"]
    h_states, bf_states = [], []
    for g in np.unique(gid):
        rows = np.flatnonzero(gid == g)
        if drop_row is not None:
            rows = rows[rows != drop_row]
        cms = CountMinSketch(eps=0.001, delta=0.01)
        cms.update_hashes(hashes[truth["host_id"][rows]])
        bf = NativeBloomSketch(BloomConfig(capacity=1000, false_positive_rate=0.01))
        uid = truth["uid"][rows].astype(np.int64)
        bf.update_base_hashes(np.stack([uid * 7919 + 1, uid * 104729 + 3], axis=1))
        h_states.append(cms.to_bytes())
        bf_states.append(bf.to_bytes())
    return pa.table({"h_state": pa.array(h_states, pa.binary()), "bf_state": pa.array(bf_states, pa.binary())})


def test_grouped_state_check_flags_a_perturbed_cms_state():
    from sketchbench.inputs import Inputs
    from sketchbench.workloads import Ctx, _check_group_states

    rng = np.random.default_rng(3)
    n = 400
    host_id = rng.integers(0, 30, size=n)
    truth = {
        "lang": rng.integers(0, 2, size=n),
        "day": rng.integers(0, 2, size=n),
        "uid": np.arange(n),
        "text_len": rng.integers(1, 100, size=n),
        "host_id": host_id,
        "host_count": np.bincount(host_id, minlength=30),
    }
    hashes = rng.integers(0, 1 << 63, size=30, dtype=np.int64).view(np.uint64)
    ctx = Ctx(None, Inputs(n, "", "", "", "", truth), None, derived={"host_hashes": hashes})
    at = np.arange(len(ctx.groups()["gid"]))
    assert _check_group_states(ctx, _grouped_states(truth, hashes), at) == []
    # a state that lost one row: its update count is off and its host is
    # under-estimated
    out = _check_group_states(ctx, _grouped_states(truth, hashes, drop_row=5), at)
    assert any("cms updates" in v for v in out)
    assert any("under-estimated" in v for v in out)
