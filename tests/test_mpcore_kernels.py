"""Kernel correctness: brute-force parity + the tsmp consistency matrix
(test-stamps.R:101-199 re-derived: stamp == stomp == scrimp == mpx)."""

from __future__ import annotations

import numpy as np
import pytest

from tsmp_spark.mpcore import (
    EPS,
    exclusion_zone_size,
    fast_avg_sd,
    mass_pre,
    mass_v2,
    mass_v3,
    mpx,
    mpx_ab,
    diag_chunks,
    merge_partials,
    mpx_partial,
    partials_to_result,
    muinvn,
    scrimp,
    stamp,
    stomp,
    stompi_update,
    movmin,
    movmax,
    sum2s,
)

from brute import brute_mp_ab, brute_mp_self, planted_series, random_walk

W = 30
EZ_N = exclusion_zone_size(W, 0.5)  # round(30*0.5 + eps) = 15


@pytest.fixture(scope="module")
def series():
    return random_walk(400, seed=2018)


@pytest.fixture(scope="module")
def series_b():
    return random_walk(300, seed=7)


# ---------- rolling statistics ----------


def test_sum2s_matches_naive(series):
    w = 25
    naive = np.array([series[i : i + w].sum() for i in range(len(series) - w + 1)])
    np.testing.assert_allclose(sum2s(series, w), naive, rtol=1e-12)


def test_fast_avg_sd_population(series):
    w = 17
    mu, sd = fast_avg_sd(series, w)
    for i in [0, 5, 100, len(mu) - 1]:
        win = series[i : i + w]
        assert mu[i] == pytest.approx(win.mean(), rel=1e-12)
        assert sd[i] == pytest.approx(win.std(ddof=0), rel=1e-10)


def test_muinvn(series):
    w = 17
    mu, sig = muinvn(series, w)
    for i in [0, 42, len(mu) - 1]:
        win = series[i : i + w]
        assert sig[i] == pytest.approx(
            1.0 / np.sqrt(((win - win.mean()) ** 2).sum()), rel=1e-10
        )


def test_movmin_movmax(series):
    w = 9
    n = len(series) - w + 1
    np.testing.assert_array_equal(
        movmin(series, w), [series[i : i + w].min() for i in range(n)]
    )
    np.testing.assert_array_equal(
        movmax(series, w), [series[i : i + w].max() for i in range(n)]
    )


# ---------- MASS ----------


def test_mass_v2_matches_brute(series):
    pre = mass_pre(series, W)
    mu, sd = fast_avg_sd(series, W)
    i = 37
    q = series[i : i + W]
    dp, _ = mass_v2(pre, q, float(mu[i]), float(sd[i]))
    d = np.sqrt(np.maximum(dp, 0.0))
    from brute import brute_distance_matrix

    ref = brute_distance_matrix(series, series, W)[:, i]
    np.testing.assert_allclose(d, ref, atol=1e-6)


def test_mass_v3_equals_v2(series):
    """tsmp test-mass-agressive.R:8-26 analogue."""
    rng = np.random.default_rng(1)
    mu, sd = fast_avg_sd(series, W)
    pre = mass_pre(series, W)
    for i in rng.integers(0, len(series) - W, size=10):
        q = series[i : i + W]
        dp2, lp2 = mass_v2(pre, q, float(mu[i]), float(sd[i]))
        dp3, lp3 = mass_v3(series, q, W, pre.data_mean, pre.data_sd, float(mu[i]), float(sd[i]))
        np.testing.assert_allclose(dp3, dp2, atol=1e-8)
        np.testing.assert_allclose(lp3, lp2, atol=1e-8)


# ---------- self-join kernels vs brute force ----------


def test_stomp_matches_brute(series):
    mp, pi = brute_mp_self(series, W, EZ_N)
    r = stomp(series, W)
    np.testing.assert_allclose(r.mp, mp, atol=1e-6)
    # pi may differ on exact ties; distances at pi must match
    d_at = np.array([np.inf if p < 0 else mp[i] for i, p in enumerate(r.pi)])
    np.testing.assert_allclose(r.mp, d_at, atol=1e-6)


def test_mpx_matches_brute(series):
    # minlag = ez+1 aligns mpx's diagonal start with stomp's exclusion zone
    r = mpx(series, W, minlag=EZ_N + 1)
    mp, pi = brute_mp_self(series, W, EZ_N)
    np.testing.assert_allclose(r.mp, mp, atol=1e-6)


def test_consistency_matrix(series):
    """stamp == stomp == scrimp == mpx (test-stamps.R:101-199)."""
    r_stomp = stomp(series, W)
    r_stamp = stamp(series, W)
    r_scrimp = scrimp(series, W, pre_scrimp=0)
    r_mpx = mpx(series, W, minlag=EZ_N + 1)
    np.testing.assert_allclose(r_stamp.mp, r_stomp.mp, atol=1e-7)
    np.testing.assert_allclose(r_scrimp.mp, r_stomp.mp, atol=1e-7)
    np.testing.assert_allclose(r_mpx.mp, r_stomp.mp, atol=1e-5)
    # pi may flip on float-level ties between the FFT and recurrence paths;
    # require the distances *at* each pi to agree instead (the reference's
    # own consistency suite tolerates this the same way)
    from brute import brute_distance_matrix

    bd = brute_distance_matrix(series, series, W)
    d_stamp = bd[np.arange(len(r_stamp.pi)), r_stamp.pi]
    d_stomp = bd[np.arange(len(r_stomp.pi)), r_stomp.pi]
    np.testing.assert_allclose(d_stamp, d_stomp, atol=1e-5)
    # left/right profiles agree between stamp and stomp
    np.testing.assert_allclose(r_stamp.lmp, r_stomp.lmp, atol=1e-7)
    np.testing.assert_allclose(r_stamp.rmp, r_stomp.rmp, atol=1e-7)


def test_scrimp_with_prescrimp_full(series):
    r_stomp = stomp(series, W)
    r = scrimp(series, W, pre_scrimp=0.25)
    np.testing.assert_allclose(r.mp, r_stomp.mp, atol=1e-7)


def test_scrimp_anytime_partial(series):
    """A 30% run yields a valid upper-bound profile."""
    r_full = stomp(series, W)
    r = scrimp(series, W, s_size=0.3, pre_scrimp=0, seed=3)
    finite = np.isfinite(r.mp)
    assert finite.sum() > 0
    assert np.all(r.mp[finite] >= r_full.mp[finite] - 1e-9)


def test_planted_motif_is_found():
    x = planted_series()
    r = stomp(x, W)
    # the two planted windows must be each other's nearest neighbor
    assert r.pi[33] == 102
    assert r.pi[102] == 33
    assert r.mp[33] < 1.0


# ---------- AB join ----------


def test_mpx_ab_matches_brute(series, series_b):
    mpa, pia, mpb, pib = brute_mp_ab(series, series_b, W)
    r = mpx_ab(series, series_b, W)
    np.testing.assert_allclose(r.mp, mpa, atol=1e-6)
    np.testing.assert_allclose(r.mpb, mpb, atol=1e-6)


def test_stomp_ab_matches_brute(series, series_b):
    mpa, pia, _, _ = brute_mp_ab(series, series_b, W)
    r = stomp(series, W, query=series_b)
    np.testing.assert_allclose(r.mp, mpa, atol=1e-6)


# ---------- distributed diagonal-chunk partials ----------


def test_diag_chunk_merge_equals_serial(series):
    """Merged diagonal-chunk partials equal serial mpx bit for bit, in
    either chunk order. The 2,048-step walk at w=8 is full of exact
    correlation ties across chunks (and values a few ulp above 1), which
    the merge must break toward the smaller index as the serial sweep
    does."""
    for a, w in ((series, W), (random_walk(2048, seed=0), 8)):
        minlag = exclusion_zone_size(w, 0.5) + 1
        plen = len(a) - w + 1
        chunks = diag_chunks(plen, minlag, 7)
        assert chunks[0][0] == minlag and chunks[-1][1] == plen
        parts = [mpx_partial(a, w, lo, hi, minlag=minlag) for lo, hi in chunks]
        serial = mpx(a, w, minlag=minlag)
        for order in (parts, parts[::-1]):
            merged = partials_to_result(*merge_partials(order), w)
            np.testing.assert_array_equal(merged.mp, serial.mp)
            np.testing.assert_array_equal(merged.pi, serial.pi)


# ---------- incremental ----------


def test_stompi_equals_batch(series):
    """stompi(300)+update(100) == stomp(400) (test-stamps.R:126-133)."""
    r0 = stomp(series[:300], W)
    r1 = stompi_update(r0, series[300:])
    rf = stomp(series, W)
    np.testing.assert_allclose(r1.mp, rf.mp, atol=1e-6)
    np.testing.assert_array_equal(r1.pi, rf.pi)
    np.testing.assert_allclose(r1.rmp, rf.rmp, atol=1e-6)


def test_stompi_history_trim(series):
    r0 = stomp(series[:300], W)
    r1 = stompi_update(r0, series[300:], history_size=350)
    assert r1.data.shape[0] == 350
    assert r1.offset == 50
    assert r1.mp.shape[0] == 350 - W + 1


# ---------- NaN / skip handling ----------


def test_skip_locations_masked():
    x = random_walk(200, seed=5)
    x[90:93] = np.nan
    r = stomp(x, W)
    # windows overlapping the NaN run are Inf
    assert np.all(~np.isfinite(r.mp[90 - W + 1 : 93]))
    # far-away windows still finite
    assert np.isfinite(r.mp[0])
    assert np.isfinite(r.mp[-1])


def test_aamp_matches_bruteforce_with_ties():
    """AAMP diagonal march == scalar brute force, exact integers,
    lexicographic (dist, neighbor) tie rule — small value range forces
    frequent exact ties."""
    import numpy as np

    from tsmp_spark.mpcore.aamp import AAMP_SENT, aamp, aamp_ref

    rng = np.random.default_rng(23)
    for _ in range(25):
        n = int(rng.integers(10, 50))
        w = int(rng.integers(2, 8))
        ez = int(rng.integers(0, 4))
        x = rng.integers(0, 30, n)
        m1, p1 = aamp(x, w, ez)
        m2, p2 = aamp_ref(x, w, ez)
        assert list(m1) == m2 and list(p1) == p2
    # constant series: zero distances everywhere, neighbor = smallest
    # admissible index — no lowvar guard needed (nothing normalized)
    m, p = aamp(np.full(20, 7), 4, 2)
    assert set(m.tolist()) == {0}
    assert p[0] == 3  # first admissible j for i=0 with ez=2
    # neighborless: series exactly MIN length with full-width ez
    m, p = aamp(np.arange(6), 4, 4)
    assert all(v == AAMP_SENT for v in m) and all(v == -1 for v in p)
