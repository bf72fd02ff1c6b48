"""MPX — FFT-free exact matrix profile via diagonal correlation recurrences.

Re-derives tsmp's primary fast kernel (mpx.cpp:10-103 self-join,
mpx.cpp:106-252 AB-join, R wrapper mpx.R:19-109) as vectorized numpy.
The parallel variant (mpx.cpp:256-587, RcppParallel over diagonals with
benign-race max updates) becomes a *deterministic* diagonal-chunk fan-out:
``mpx_partial`` computes max-correlation partials over a diagonal range and
``merge_partials`` folds them with an elementwise max — exactly the
partial+final aggregation pattern Spark tasks want (SURVEY.md §4 row 13).

Conventions (external):
- indexes are 0-based (tsmp serializes 0-based too, serialize.R:43)
- ``pi = -1`` means "no neighbor found"
- correlations are clamped to <= 1 and converted with
  ``ed = sqrt(2 w (1 - corr))`` (mpx.cpp:82-86); positions that never met a
  neighbor keep the init ``corr = -1`` → ``ed = 2 sqrt(w)`` like the
  reference.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .stats import lowvar_threshold, muinvn


@dataclass
class MpxResult:
    mp: np.ndarray  # euclidean (or pearson) profile
    pi: np.ndarray  # int64 neighbor index, -1 = none
    w: int
    ez: float
    partial: bool = False
    # AB-join extras (mpx.cpp:106-252): profile of B against A
    mpb: np.ndarray | None = None
    pib: np.ndarray | None = None
    join: bool = False


def _precompute(a: np.ndarray, w: int):
    """Shared precomputation (mpx.cpp:19-47): rolling mean ``mu``, inverse
    centered norm ``sig``, and the update differentials ``df``/``dg`` with a
    leading 0 so diagonal index math stays simple."""
    a = np.asarray(a, dtype=np.float64)
    n = a.shape[0]
    mu, sig = muinvn(a, w)
    # degenerate windows: poison sig to NaN so any pair involving them
    # never wins a max-corr comparison (NaN > x is False) — the
    # recurrence analogue of the Inf masks in the other kernels. Guarded
    # by the engine-wide scale-aware rule (stats.lowvar_threshold), a
    # deliberate strengthening of mpx.cpp's exact-zero-only guard: sig is
    # the inverse centered norm, so sd = 1/(sig·√w).
    with np.errstate(divide="ignore", invalid="ignore"):
        sd = 1.0 / (sig * np.sqrt(float(w)))
    sig[~np.isfinite(sig) | (sd < lowvar_threshold(mu))] = np.nan
    profile_len = n - w + 1
    df = np.empty(profile_len, dtype=np.float64)
    dg = np.empty(profile_len, dtype=np.float64)
    df[0] = 0.0
    dg[0] = 0.0
    df[1:] = 0.5 * (a[w:n] - a[0 : n - w])
    dg[1:] = (a[w:n] - mu[1:profile_len]) + (a[0 : n - w] - mu[0 : profile_len - 1])
    return a, n, mu, sig, df, dg, profile_len


def _cross_products(y: np.ndarray, ww: np.ndarray) -> np.ndarray:
    """``out[d] = sum_k y[d+k] * ww[k]`` for every valid start ``d``.

    Exact BLAS sliding-window matmul for small windows (the common case —
    matches the reference's exact per-diagonal ``inner_product``,
    mpx.cpp:56); FFT correlation for large windows where O(n·w) would hurt.
    """
    w = ww.shape[0]
    n = y.shape[0]
    if w <= 1024:
        view = np.lib.stride_tricks.sliding_window_view(y, w)
        return view @ ww
    pad = 1 << int(np.ceil(np.log2(n + w)))
    z = np.fft.irfft(np.fft.rfft(y, pad) * np.fft.rfft(ww[::-1], pad), pad)
    return z[w - 1 : n]


def _first_row_products(a: np.ndarray, w: int, mu: np.ndarray, diags: np.ndarray) -> np.ndarray:
    """Centered dot product of window 0 with window ``d`` for each diagonal
    ``d`` (mpx.cpp:56 ``inner_product``), vectorized over all diagonals."""
    ww = a[:w] - mu[0]
    prods = _cross_products(a, ww)  # for d in 0..n-w
    # subtract mu[d] * sum(ww); sum(ww) == 0 analytically but keep the exact
    # correction for numerical parity with the reference's explicit centering
    swin = float(ww.sum())
    return prods[diags] - mu[diags] * swin


def mpx(
    data: np.ndarray,
    window_size: int,
    minlag: int | None = None,
    euclidean: bool = True,
    diag_range: tuple[int, int] | None = None,
) -> MpxResult:
    """Self-join matrix profile (mpx.cpp:10-103).

    ``minlag`` defaults to ``floor(w/2)`` (mpx.R:21): pairs closer than
    ``minlag`` are trivial matches and skipped. ``diag_range`` restricts the
    diagonal sweep to ``[lo, hi)`` *within* ``[minlag, profile_len)`` — the
    distributed chunk mode; results from chunks merge exactly via
    :func:`merge_partials`.

    Implementation: offset-march over all diagonals simultaneously with
    prefix-slice views and reused buffers (~6 ns/pair single-core — a
    2-D blocked variant with gathered index grids measured 4× slower, so
    the march stays).
    """
    w = int(window_size)
    return _finish(*_mpx_march(data, w, minlag, diag_range), w, euclidean)


def _mpx_march(
    data: np.ndarray,
    w: int,
    minlag: int | None,
    diag_range: tuple[int, int] | None,
) -> tuple[np.ndarray, np.ndarray]:
    """The offset march behind :func:`mpx` and :func:`mpx_partial`: raw
    (unclamped) max-correlation and index per position. Ties keep the
    smaller index: left neighbours arrive in ascending index order and
    right neighbours by a first-max argmax, both under a strict ``>``."""
    if minlag is None:
        minlag = w // 2
    a, n, mu, sig, df, dg, profile_len = _precompute(data, w)
    if profile_len < 1:
        raise ValueError("window larger than series")

    mp_corr = np.full(profile_len, -1.0)
    pi = np.full(profile_len, -1, dtype=np.int64)

    lo = minlag if diag_range is None else max(minlag, diag_range[0])
    hi = profile_len if diag_range is None else min(profile_len, diag_range[1])

    if lo < hi:
        diags = np.arange(lo, hi, dtype=np.int64)
        c = _first_row_products(a, w, mu, diags)
        n_diag = hi - lo
        buf = np.empty(n_diag)
        corr_buf = np.empty(n_diag)
        mask_buf = np.empty(n_diag, dtype=bool)
        for offset in range(profile_len - lo):
            k = min(n_diag, profile_len - lo - offset)
            col0 = offset + lo
            c_k = c[:k]
            t = buf[:k]
            if offset > 0:
                np.multiply(dg[col0 : col0 + k], df[offset], out=t)
                c_k += t
                np.multiply(df[col0 : col0 + k], dg[offset], out=t)
                c_k += t
            corr = corr_buf[:k]
            np.multiply(c_k, sig[offset], out=corr)
            corr *= sig[col0 : col0 + k]
            corr[np.isnan(corr)] = -np.inf
            j = int(np.argmax(corr))
            if corr[j] > mp_corr[offset]:
                mp_corr[offset] = corr[j]
                pi[offset] = col0 + j
            mpc = mp_corr[col0 : col0 + k]
            better = mask_buf[:k]
            np.greater(corr, mpc, out=better)
            if better.any():
                np.copyto(mpc, corr, where=better)
                pi[col0 : col0 + k][better] = offset

    return mp_corr, pi


def _finish(mp_corr: np.ndarray, pi: np.ndarray, w: int, euclidean: bool) -> MpxResult:
    mp = np.minimum(mp_corr, 1.0)
    if euclidean:
        mp = np.sqrt(2.0 * w * (1.0 - mp))
    return MpxResult(mp=mp, pi=pi, w=w, ez=0.5)


def mpx_ab(
    data: np.ndarray,
    query: np.ndarray,
    window_size: int,
    euclidean: bool = True,
) -> MpxResult:
    """AB-join (mpx.cpp:106-252): both-direction diagonal sweep producing
    ``mp/pi`` (A's NN in B) and ``mpb/pib`` (B's NN in A). ez = 0
    (mpx.R:81)."""
    w = int(window_size)
    a = np.asarray(data, dtype=np.float64)
    b = np.asarray(query, dtype=np.float64)
    amx = a.shape[0] - w + 1
    bmx = b.shape[0] - w + 1
    if amx < 1 or bmx < 1:
        raise ValueError("window larger than a series")
    mua, siga = muinvn(a, w)
    mub, sigb = muinvn(b, w)
    # degenerate-window poison, engine-wide scale-aware rule (see
    # _precompute): sd = 1/(sig·√w)
    with np.errstate(divide="ignore", invalid="ignore"):
        sda = 1.0 / (siga * np.sqrt(float(w)))
        sdb = 1.0 / (sigb * np.sqrt(float(w)))
    siga[~np.isfinite(siga) | (sda < lowvar_threshold(mua))] = np.nan
    sigb[~np.isfinite(sigb) | (sdb < lowvar_threshold(mub))] = np.nan

    # Cross dot-product matrix row 0 via FFT in both orientations, then
    # diagonal cumulative updates — vectorized across diagonals.
    dfa = np.empty(amx)
    dga = np.empty(amx)
    dfa[0] = dga[0] = 0.0
    dfa[1:] = 0.5 * (a[w:] - a[: a.shape[0] - w])
    dga[1:] = (a[w:] - mua[1:]) + (a[: a.shape[0] - w] - mua[:-1])
    dfb = np.empty(bmx)
    dgb = np.empty(bmx)
    dfb[0] = dgb[0] = 0.0
    dfb[1:] = 0.5 * (b[w:] - b[: b.shape[0] - w])
    dgb[1:] = (b[w:] - mub[1:]) + (b[: b.shape[0] - w] - mub[:-1])

    mp_corr = np.full(amx, -1.0)
    pi = np.full(amx, -1, dtype=np.int64)
    mpb_corr = np.full(bmx, -1.0)
    pib = np.full(bmx, -1, dtype=np.int64)

    def sweep(x, y, mux, muy, sigx, sigy, dfx, dgx, dfy, dgy, mpx_c, pix, mpy_c, piy):
        """Diagonals where y-window starts at x-window start + d, d >= 0."""
        nx = x.shape[0] - w + 1
        ny = y.shape[0] - w + 1
        # c0[d] = dot(x[0:w]-mux0 , y[d:d+w]-muy[d])
        ww = x[:w] - mux[0]
        prods = _cross_products(y, ww)
        swin = float(ww.sum())
        diags = np.arange(0, ny, dtype=np.int64)
        c = prods[diags] - muy[diags] * swin
        lengths = np.minimum(nx, ny - diags)
        for offset in range(int(lengths.max())):
            act = lengths > offset
            d_act = diags[act]
            if offset > 0:
                c[act] = (
                    c[act]
                    + dfx[offset] * dgy[offset + d_act]
                    + dfy[offset + d_act] * dgx[offset]
                )
            corr = c[act] * sigx[offset] * sigy[offset + d_act]
            corr = np.where(np.isnan(corr), -np.inf, corr)
            jj = int(np.argmax(corr))
            if corr[jj] > mpx_c[offset]:
                mpx_c[offset] = corr[jj]
                pix[offset] = offset + int(d_act[jj])
            cols = offset + d_act
            better = corr > mpy_c[cols]
            mpy_c[cols[better]] = corr[better]
            piy[cols[better]] = offset

    # B starts at/after A (d >= 0): A-row profile vs B columns
    sweep(a, b, mua, mub, siga, sigb, dfa, dga, dfb, dgb, mp_corr, pi, mpb_corr, pib)
    # A strictly after B (d >= 1)
    wwb = b[:w] - mub[0]
    prods = _cross_products(a, wwb)
    swin = float(wwb.sum())
    diags = np.arange(1, amx, dtype=np.int64)
    if diags.shape[0]:
        c = prods[diags] - mua[diags] * swin
        lengths = np.minimum(bmx, amx - diags)
        for offset in range(int(lengths.max())):
            act = lengths > offset
            d_act = diags[act]
            if offset > 0:
                c[act] = (
                    c[act]
                    + dfb[offset] * dga[offset + d_act]
                    + dfa[offset + d_act] * dgb[offset]
                )
            corr = c[act] * sigb[offset] * siga[offset + d_act]
            corr = np.where(np.isnan(corr), -np.inf, corr)
            jj = int(np.argmax(corr))
            if corr[jj] > mpb_corr[offset]:
                mpb_corr[offset] = corr[jj]
                pib[offset] = offset + int(d_act[jj])
            cols = offset + d_act
            better = corr > mp_corr[cols]
            mp_corr[cols[better]] = corr[better]
            pi[cols[better]] = offset

    ra = _finish(mp_corr, pi, w, euclidean)
    rb = _finish(mpb_corr, pib, w, euclidean)
    return MpxResult(
        mp=ra.mp, pi=ra.pi, w=w, ez=0.0, mpb=rb.mp, pib=rb.pi, join=True
    )


# ---------------------------------------------------------------------------
# Distributed partials: chunk the diagonal sweep, merge with elementwise max.
# Mirrors stomp-par.R:102-117 chunking + stamp-par.R:195-219 min-merge, but
# in correlation space where the merge is a max (SURVEY.md §4 rows 11-13).
# ---------------------------------------------------------------------------


def mpx_partial(
    data: np.ndarray,
    window_size: int,
    diag_lo: int,
    diag_hi: int,
    minlag: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Max-correlation partial profile over diagonals ``[diag_lo, diag_hi)``.

    Returns ``(corr_partial, pi_partial)`` with the correlation UNclamped
    (values a few ulp above 1 must not tie in the merge) — merge partials
    with :func:`merge_partials`, then clamp and convert via
    :func:`partials_to_result`.
    """
    return _mpx_march(data, int(window_size), minlag, (diag_lo, diag_hi))


def merge_partials(
    parts: list[tuple[np.ndarray, np.ndarray]]
) -> tuple[np.ndarray, np.ndarray]:
    """Elementwise max-corr merge of diagonal-chunk partials, bit-exact
    against serial :func:`mpx`: equal correlations break toward the
    smaller neighbour index, the serial sweep's rule, so the result does
    not depend on the order of ``parts``.
    """
    corr, pi = parts[0][0].copy(), parts[0][1].copy()
    for c2, p2 in parts[1:]:
        better = (c2 > corr) | ((c2 == corr) & (p2 < pi))
        corr[better] = c2[better]
        pi[better] = p2[better]
    return corr, pi


def partials_to_result(
    corr: np.ndarray, pi: np.ndarray, w: int, euclidean: bool = True
) -> MpxResult:
    return _finish(corr, pi, w, euclidean)


def diag_chunks(profile_len: int, minlag: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split diagonals [minlag, profile_len) into ~equal-WORK chunks.

    Diagonal d has length profile_len - d, so equal-count chunks are skewed;
    we balance by cumulative diagonal length (the reference's plateau sizing,
    stomp-par.R:102-117, solves the same problem with fixed chunk minima).
    """
    diags = np.arange(minlag, profile_len, dtype=np.int64)
    if diags.shape[0] == 0:
        return []
    work = (profile_len - diags).astype(np.float64)
    cum = np.cumsum(work)
    total = cum[-1]
    bounds = [minlag]
    for k in range(1, n_chunks):
        target = total * k / n_chunks
        pos = int(np.searchsorted(cum, target))
        b = minlag + pos
        if b > bounds[-1]:
            bounds.append(b)
    bounds.append(profile_len)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
