"""Vectorized BV compression: NumPy flat-CSR cost matrices + emission.

The greedy Boldi-Vigna compressor costs every candidate reference
(``BvComp::push``, reference ``comp/bvcomp.rs:428-540``) before writing
the winner. The key structural fact making this vectorizable: the
window holds the RAW successor lists of the previous ``window_size``
nodes, which do not depend on which references get chosen — only the
chain-depth gate does. So the full (node x delta) cost matrix is
selection-independent and can be computed for a whole range at once
with flat array ops, amortizing Python per-call overhead over the
entire range (measured: the scalar BitCounter cost pass plus the
scalar write pass were ~90% of encode time).

Emission is vectorized the same way: once the sequential chain-gated
selection picks ``refs``, the whole range's token stream (outdegree,
reference, copy blocks, intervals, residuals per node) is built as
flat arrays, each code token expands to <= 3 primitive (unary /
fixed-width) tokens, and one ``np.packbits`` produces the bitstream.

Everything here reproduces ``_emit_list`` EXACTLY, bit for bit,
including the block run-length conventions (leading empty copy run,
dropped trailing run) and the signed first-interval/first-residual
tokens — pinned by the scalar-decoder roundtrip suites in
tests/test_bvgraph_golden.py / test_golden_cnr_style.py and by the
cnr-2000 bit-identical golden (the vectorized encoder's output is
decoded by the independent scalar decoder and compared element-wise).
"""

from __future__ import annotations

import numpy as np

# The batched passes allocate/free tens-of-MB temporaries per call; with
# glibc's default 128 KiB mmap threshold every call mmap/munmaps them,
# and the resulting page-fault + THP-compaction churn showed up as
# 3-7x CPU spikes on identical inputs (measured: 0.42s steady vs 2.5-6.6s
# spiky on the cnr-2000 40k-node range). Raising the malloc thresholds
# keeps the arena warm across calls — one-time, process-global, bounded
# by the largest range working set.
try:  # glibc-only; harmless no-op elsewhere
    import ctypes

    _libc = ctypes.CDLL("libc.so.6")
    _libc.mallopt(-3, 256 * 1024 * 1024)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, 256 * 1024 * 1024)  # M_TRIM_THRESHOLD
except Exception:  # pragma: no cover
    pass

#: matrix sentinel for "no candidate here" (delta > node index, empty
#: parent, empty child) — larger than any real cost, so a `< best` scan
#: never picks it
INVALID = np.int64(1) << 62

_FIELD_ORDER = ("OUTDEGREES", "REFERENCES", "BLOCKS", "INTERVALS", "RESIDUALS")


# ------------------------------------------------------- code lengths


def _bl(x: np.ndarray) -> np.ndarray:
    """Exact bit_length for positive int64 arrays. frexp's exponent IS
    bit_length for exactly-representable values; one integer-domain
    correction fixes values whose float64 rounding crossed a power of
    two (possible above 2^53)."""
    e = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    # where 2^(e-1) > x the float rounded up across a boundary
    over = (np.int64(1) << np.minimum(e - 1, 62)) > x
    return e - over


def _int2nat(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v << 1, ((-v) << 1) - 1)


def _len_gamma(v):
    return 2 * _bl(v + 1) - 1


def _len_unary(v):
    return v + 1


def _len_delta(v):
    b = _bl(v + 1) - 1
    return 2 * _bl(b + 1) - 1 + b


def _len_zeta(v, k):
    x = v + 1
    h = (_bl(x) - 1) // k
    # short codeword h*k+k-1 bits, long h*k+k (x - 2^{hk} >= 2^{hk})
    long_cw = x >= (np.int64(2) << np.minimum(h * k, 61))
    return h + 1 + h * k + k - 1 + long_cw


def _len_pi(v, k):
    h = _bl(v + 1)
    return ((h + (1 << k) - 1) >> k) + k + h - 1


def _len_omega(v):
    x = (v + 1).astype(np.int64)
    c = np.ones(x.shape, dtype=np.int64)
    while True:
        m = x > 1
        if not m.any():
            return c
        b = np.where(m, _bl(x) - 1, 0)
        c += np.where(m, 1 + b, 0)
        x = np.where(m, b, x)


def _len_fn(code: str, zeta_k: int):
    """Vectorized length function for one compressionflags code token —
    mirrors ``BvProperties.writer_for`` / ``BitCounter``."""
    if code == "GAMMA":
        return _len_gamma
    if code == "UNARY":
        return _len_unary
    if code == "DELTA":
        return _len_delta
    if code == "OMEGA":
        return _len_omega
    if code.startswith("ZETA"):
        k = int(code[4:]) if code[4:] else zeta_k
        return lambda v: _len_zeta(v, k)
    if code.startswith("PI"):
        k = int(code[2:])
        return lambda v: _len_pi(v, k)
    raise NotImplementedError(code)  # pragma: no cover


def _field_len_fns(props):
    codes = props.codes or {}
    defaults = {
        "OUTDEGREES": "GAMMA",
        "REFERENCES": "UNARY",
        "BLOCKS": "GAMMA",
        "INTERVALS": "GAMMA",
        "RESIDUALS": "ZETA",
    }
    return {
        f: _len_fn(codes.get(f, defaults[f]), props.zeta_k)
        for f in _FIELD_ORDER
    }


# ----------------------------------------------------- flat-CSR pieces


def _ranges(lens: np.ndarray) -> np.ndarray:
    """Concatenated [0..lens[0]), [0..lens[1]), ... — the classic
    repeat/cumsum idiom for gathering variable-length CSR rows."""
    total = int(lens.sum())
    out = np.arange(total, dtype=np.int64)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    return out - starts


def _seg_first(seg: np.ndarray) -> np.ndarray:
    """Boolean mask: element starts a new segment (seg non-decreasing)."""
    first = np.empty(seg.size, dtype=bool)
    if seg.size:
        first[0] = True
        first[1:] = seg[1:] != seg[:-1]
    return first


def _csr(lo: int, hi: int, groups: dict):
    n = hi - lo
    degs = np.zeros(n, dtype=np.int64)
    for x, s in groups.items():
        if lo <= x < hi:
            degs[x - lo] = len(s)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(degs, out=indptr[1:])
    S = np.empty(int(indptr[-1]), dtype=np.int64)
    for x, s in groups.items():
        if lo <= x < hi and s:
            i = x - lo
            S[indptr[i] : indptr[i + 1]] = s
    return S, indptr, degs


def _iv_res_tokens(
    vals: np.ndarray,
    seg: np.ndarray,
    xv: np.ndarray,
    nseg: int,
    min_len: int,
):
    """Token values for the intervals + residuals tail of ``_emit_list``
    over the leftover lists given as flat (vals, seg). Returns
    (iv_vals, iv_seg, iv_pos, res_vals, res_seg, res_pos): the INTERVALS
    field tokens (count, then per interval the signed-left and len-min
    pair; pos is the within-field position) and the RESIDUALS field
    tokens (signed first, then gaps-1). An empty segment emits NOTHING
    (the ``if left`` guard); min_len == 0 skips the intervals field
    entirely. ``xv[s]`` is the node id whose list segment ``s`` is."""
    zi = np.zeros(0, dtype=np.int64)
    if vals.size == 0:
        return zi, zi, zi, zi, zi, zi
    if min_len:
        cont = np.empty(vals.size, dtype=bool)
        cont[0] = False
        cont[1:] = (vals[1:] == vals[:-1] + 1) & (seg[1:] == seg[:-1])
        run_start = ~cont
        starts_idx = np.flatnonzero(run_start)
        run_len = np.diff(starts_idx, append=run_start.size)
        run_seg = seg[starts_idx]
        run_sval = vals[starts_idx]
        is_iv = run_len >= min_len
        n_iv = np.bincount(run_seg[is_iv], minlength=nseg)
        ne_segs = np.flatnonzero(np.bincount(seg, minlength=nseg) > 0)
        # count token (pos 0) for every nonempty segment
        cnt_vals = n_iv[ne_segs]
        iv_seg_i = run_seg[is_iv]
        iv_st = run_sval[is_iv]
        iv_ln = run_len[is_iv]
        if iv_seg_i.size:
            first_iv = _seg_first(iv_seg_i)
            prev_end = np.empty(iv_seg_i.size, dtype=np.int64)
            prev_end[0] = 0
            prev_end[1:] = iv_st[:-1] + iv_ln[:-1]
            left_tok = np.where(
                first_iv, _int2nat(iv_st - xv[iv_seg_i]), iv_st - prev_end - 1
            )
            # within-segment interval index
            idx_iv = _ranges(np.bincount(iv_seg_i)[np.unique(iv_seg_i)])
            pair_tok = np.empty(iv_seg_i.size * 2, dtype=np.int64)
            pair_tok[0::2] = left_tok
            pair_tok[1::2] = iv_ln - min_len
            pair_seg = np.repeat(iv_seg_i, 2)
            pair_pos = np.empty(iv_seg_i.size * 2, dtype=np.int64)
            pair_pos[0::2] = 1 + 2 * idx_iv
            pair_pos[1::2] = 2 + 2 * idx_iv
        else:
            pair_tok = pair_seg = pair_pos = zi
        iv_vals = np.concatenate([cnt_vals, pair_tok])
        iv_seg_o = np.concatenate([ne_segs, pair_seg])
        iv_pos = np.concatenate([np.zeros(ne_segs.size, np.int64), pair_pos])
        res_pick = np.repeat(~is_iv, run_len)
        rvals = vals[res_pick]
        rseg = seg[res_pick]
    else:
        iv_vals = iv_seg_o = iv_pos = zi
        rvals, rseg = vals, seg
    if rvals.size:
        first_r = _seg_first(rseg)
        prevv = np.empty(rvals.size, dtype=np.int64)
        prevv[0] = 0
        prevv[1:] = rvals[:-1]
        res_vals = np.where(
            first_r, _int2nat(rvals - xv[rseg]), rvals - prevv - 1
        )
        res_seg = rseg
        res_pos = _ranges(np.bincount(rseg)[np.unique(rseg)])
    else:
        res_vals = res_seg = res_pos = zi
    return iv_vals, iv_seg_o, iv_pos, res_vals, res_seg, res_pos


def _pair_blocks(S, indptr, degs, ci, pi, M):
    """Copy-block tokens + leftover lists for the pairs (child ci[j],
    parent pi[j]) — ``diff_comp`` conventions (``comp/bvcomp.rs:
    309-390``): RLE of the copy mask over the parent, a synthetic
    leading empty copy run when the parent starts with a skip, the
    trailing run dropped. Returns (blk_vals, blk_seg, blk_pos, Rv,
    Rseg): BLOCKS field tokens (count nb at pos 0, then the written
    blocks — first verbatim, later minus 1) and the child leftovers."""
    npair = ci.size
    pair = np.arange(npair, dtype=np.int64)
    plen = degs[pi]
    pidx = np.repeat(indptr[pi], plen) + _ranges(plen)
    Pv = S[pidx]
    Pseg = np.repeat(pair, plen)
    clen = degs[ci]
    cidx = np.repeat(indptr[ci], clen) + _ranges(clen)
    Cv = S[cidx]
    Cseg = np.repeat(pair, clen)

    keyC = Cseg * M + Cv
    keyP = Pseg * M + Pv
    pos = np.searchsorted(keyC, keyP)
    safe = np.minimum(pos, max(keyC.size - 1, 0))
    found = keyC[safe] == keyP  # parent element copied?

    pfirst = _seg_first(Pseg)
    newrun = pfirst.copy()
    newrun[1:] |= found[1:] != found[:-1]
    rstart = np.flatnonzero(newrun)
    # run lengths from start positions (one pass, no cumsum/bincount)
    rl = np.diff(rstart, append=newrun.size)
    rseg = Pseg[rstart]
    rfirst = _seg_first(rseg)
    rlast = np.empty(rseg.size, dtype=bool)
    rlast[-1] = True
    rlast[:-1] = rseg[1:] != rseg[:-1]
    lead0 = np.zeros(npair, dtype=bool)
    lead0[Pseg[pfirst]] = ~found[pfirst]  # first parent elem skipped
    rle_cnt = np.bincount(rseg, minlength=npair)
    nb = rle_cnt + lead0 - 1  # +synthetic lead zero, -dropped tail

    # written blocks: the synthetic lead zero (token 0, pos 1) where
    # present, then every RLE run but the pair's last — token is the raw
    # length for the FIRST written run of a lead-zero-free pair, len-1
    # otherwise (later blocks are stored minus 1)
    wmask = ~rlast
    wlen = rl[wmask]
    wseg = rseg[wmask]
    verbatim = rfirst[wmask] & ~lead0[wseg]
    wtok = np.where(verbatim, wlen, wlen - 1)
    wpos = _ranges(np.bincount(wseg)[np.unique(wseg)]) + 1 + lead0[wseg]
    l0seg = np.flatnonzero(lead0)
    blk_vals = np.concatenate(
        [nb, np.zeros(l0seg.size, np.int64), wtok]
    )
    blk_seg = np.concatenate([pair, l0seg, wseg])
    blk_pos = np.concatenate(
        [np.zeros(npair, np.int64), np.ones(l0seg.size, np.int64), wpos]
    )

    rest_mask = np.ones(Cv.size, dtype=bool)
    rest_mask[pos[found]] = False
    return blk_vals, blk_seg, blk_pos, Cv[rest_mask], Cseg[rest_mask]


def _iv_res_cost(vals, seg, xv, nseg, min_len, len_int, len_res):
    """Cost-only twin of :func:`_iv_res_tokens` (skips token-position
    assembly — the cost matrix is the hot path). Same conventions; the
    parity of both against the scalar BitCounter is pinned by tests."""
    cost = np.zeros(nseg, dtype=np.int64)
    if vals.size == 0:
        return cost
    nonempty = np.bincount(seg, minlength=nseg) > 0
    if min_len:
        cont = np.empty(vals.size, dtype=bool)
        cont[0] = False
        cont[1:] = (vals[1:] == vals[:-1] + 1) & (seg[1:] == seg[:-1])
        run_start = ~cont
        starts_idx = np.flatnonzero(run_start)
        run_len = np.diff(starts_idx, append=run_start.size)
        run_seg = seg[starts_idx]
        is_iv = run_len >= min_len
        n_iv = np.bincount(run_seg[is_iv], minlength=nseg)
        cost[nonempty] += len_int(n_iv[nonempty])
        iv_seg = run_seg[is_iv]
        if iv_seg.size:
            iv_st = vals[starts_idx][is_iv]
            iv_ln = run_len[is_iv]
            first_iv = _seg_first(iv_seg)
            prev_end = np.empty(iv_seg.size, dtype=np.int64)
            prev_end[0] = 0
            prev_end[1:] = iv_st[:-1] + iv_ln[:-1]
            left_tok = np.where(
                first_iv, _int2nat(iv_st - xv[iv_seg]), iv_st - prev_end - 1
            )
            tok_cost = len_int(left_tok) + len_int(iv_ln - min_len)
            cost += np.bincount(
                iv_seg, weights=tok_cost.astype(np.float64), minlength=nseg
            ).astype(np.int64)
        res_pick = np.repeat(~is_iv, run_len)
        rvals = vals[res_pick]
        rseg = seg[res_pick]
    else:
        rvals, rseg = vals, seg
    if rvals.size:
        first_r = _seg_first(rseg)
        prevv = np.empty(rvals.size, dtype=np.int64)
        prevv[0] = 0
        prevv[1:] = rvals[:-1]
        tok = np.where(first_r, _int2nat(rvals - xv[rseg]), rvals - prevv - 1)
        cost += np.bincount(
            rseg, weights=len_res(tok).astype(np.float64), minlength=nseg
        ).astype(np.int64)
    return cost


def _pair_block_cost(S, indptr, degs, ci, pi, M, len_blk):
    """Cost-only twin of :func:`_pair_blocks`: per-pair BLOCKS-field bit
    cost plus the child leftovers (Rv, Rseg)."""
    npair = ci.size
    pair = np.arange(npair, dtype=np.int64)
    plen = degs[pi]
    pidx = np.repeat(indptr[pi], plen) + _ranges(plen)
    Pv = S[pidx]
    Pseg = np.repeat(pair, plen)
    clen = degs[ci]
    cidx = np.repeat(indptr[ci], clen) + _ranges(clen)
    Cv = S[cidx]
    Cseg = np.repeat(pair, clen)

    keyC = Cseg * M + Cv
    keyP = Pseg * M + Pv
    pos = np.searchsorted(keyC, keyP)
    safe = np.minimum(pos, max(keyC.size - 1, 0))
    found = keyC[safe] == keyP

    pfirst = _seg_first(Pseg)
    newrun = pfirst.copy()
    newrun[1:] |= found[1:] != found[:-1]
    rstart = np.flatnonzero(newrun)
    rl = np.diff(rstart, append=newrun.size)
    rseg = Pseg[rstart]
    rfirst = _seg_first(rseg)
    rlast = np.empty(rseg.size, dtype=bool)
    rlast[-1] = True
    rlast[:-1] = rseg[1:] != rseg[:-1]
    lead0 = np.zeros(npair, dtype=bool)
    lead0[Pseg[pfirst]] = ~found[pfirst]
    rle_cnt = np.bincount(rseg, minlength=npair)
    nb = rle_cnt + lead0 - 1

    cost = len_blk(nb).astype(np.int64)
    wmask = ~rlast
    if wmask.any():
        wlen = rl[wmask]
        wseg = rseg[wmask]
        verbatim = rfirst[wmask] & ~lead0[wseg]
        tok = np.where(verbatim, wlen, wlen - 1)
        cost += np.bincount(
            wseg, weights=len_blk(tok).astype(np.float64), minlength=npair
        ).astype(np.int64)
    if lead0.any():
        cost += np.where(lead0, int(len_blk(np.zeros(1, np.int64))[0]), 0)

    rest_mask = np.ones(Cv.size, dtype=bool)
    rest_mask[pos[found]] = False
    return cost, Cv[rest_mask], Cseg[rest_mask]


# -------------------------------------------------------- cost matrix


def cost_matrix(lo: int, hi: int, groups: dict, props, csr=None):
    """The full (node, delta) encoding-cost matrix for range [lo, hi):
    ``mat[i, 0]`` = no-reference cost of node lo+i, ``mat[i, d]`` = cost
    referencing node lo+i-d, ``INVALID`` where no candidate exists
    (d > i, empty parent, or — for d >= 1 — empty child). Also returns
    the degree vector. Costs equal the scalar BitCounter pass exactly.
    ``csr`` lets the caller share one ``_csr`` build with ``emit_range``.
    """
    n = hi - lo
    win = props.window_size
    L = _field_len_fns(props)
    lmin = props.min_interval_length

    S, indptr, degs = csr if csr is not None else _csr(lo, hi, groups)
    mat = np.full((n, win + 1), INVALID, dtype=np.int64)

    # ---- delta = 0
    cost0 = L["OUTDEGREES"](degs).astype(np.int64)
    xs = np.arange(lo, hi, dtype=np.int64)
    if win > 0:
        # ref token (value 0) is written only for nonempty lists
        ref0 = int(L["REFERENCES"](np.zeros(1, np.int64))[0])
        cost0 += np.where(degs > 0, ref0, 0)
    seg_all = np.repeat(np.arange(n, dtype=np.int64), degs)
    cost0 += _iv_res_cost(
        S, seg_all, xs, n, lmin, L["INTERVALS"], L["RESIDUALS"]
    )
    mat[:, 0] = cost0

    if win == 0 or n == 0 or S.size == 0:
        return mat, degs

    M = np.int64(int(S.max()) + 2)

    # one batched pair set across ALL deltas — pair ids in (delta, node)
    # order keep every keyed array sorted, and the NumPy fixed overhead
    # is paid once instead of window_size times
    ci_parts, dl_parts = [], []
    for delta in range(1, min(win, n - 1) + 1):
        ci_all = np.arange(delta, n, dtype=np.int64)
        ok = (degs[ci_all] > 0) & (degs[ci_all - delta] > 0)
        ci_d = ci_all[ok]
        if ci_d.size:
            ci_parts.append(ci_d)
            dl_parts.append(np.full(ci_d.size, delta, dtype=np.int64))
    if not ci_parts:
        return mat, degs
    ci = np.concatenate(ci_parts)
    dl = np.concatenate(dl_parts)
    pi = ci - dl
    npair = ci.size
    if npair * int(M) >= (1 << 63):  # keyed membership would overflow
        raise OverflowError("range too large for keyed vectorized costs")

    blk_cost, Rv, Rseg = _pair_block_cost(
        S, indptr, degs, ci, pi, M, L["BLOCKS"]
    )
    cost = L["OUTDEGREES"](degs[ci]).astype(np.int64)
    cost += L["REFERENCES"](dl)
    cost += blk_cost
    cost += _iv_res_cost(
        Rv, Rseg, lo + ci, npair, lmin, L["INTERVALS"], L["RESIDUALS"]
    )
    mat[ci, dl] = cost
    return mat, degs


# ----------------------------------------------------------- emission


def _code_primitives(vals, code: str, zeta_k: int, little: bool):
    """Expand code tokens into <= 3 primitive tokens each. Returns
    (lens, pats, unary) of shape (ntok, 3): primitive bit lengths (0 =
    unused slot), right-aligned bit patterns, and the unary flag (bit
    at position L-1 within the token, zeros elsewhere — same position
    in both bit orders, which sidesteps >63-bit patterns).
    OMEGA has data-dependent primitive counts — callers fall back to
    the scalar writer for it."""
    ntok = vals.size
    lens = np.zeros((ntok, 3), dtype=np.int64)
    pats = np.zeros((ntok, 3), dtype=np.int64)
    unary = np.zeros((ntok, 3), dtype=bool)
    if code == "UNARY":
        lens[:, 0] = vals + 1
        unary[:, 0] = True
        return lens, pats, unary
    if code == "GAMMA":
        w = vals + 1
        b = _bl(w)
        lens[:, 0] = b  # unary(b-1)
        unary[:, 0] = True
        lens[:, 1] = b - 1
        pats[:, 1] = w - (np.int64(1) << np.minimum(b - 1, 62))
        return lens, pats, unary
    if code == "DELTA":
        w = vals + 1
        b = _bl(w) - 1  # mantissa bits; gamma(b) prefix
        gb = _bl(b + 1)
        lens[:, 0] = gb
        unary[:, 0] = True
        lens[:, 1] = gb - 1
        pats[:, 1] = (b + 1) - (np.int64(1) << np.minimum(gb - 1, 62))
        lens[:, 2] = b
        pats[:, 2] = w - (np.int64(1) << np.minimum(b, 62))
        return lens, pats, unary
    if code.startswith("ZETA"):
        k = int(code[4:]) if code[4:] else zeta_k
        x = vals + 1
        h = (_bl(x) - 1) // k
        lens[:, 0] = h + 1
        unary[:, 0] = True
        left = np.int64(1) << np.minimum(h * k, 62)
        short = x - left < left
        if little:
            # LE long codewords: x>>1 over h*k+k-1 bits, then the low bit
            lens[:, 1] = h * k + k - 1
            pats[:, 1] = np.where(short, x - left, x >> 1)
            lens[:, 2] = np.where(short, 0, 1)
            pats[:, 2] = np.where(short, 0, x & 1)
        else:
            lens[:, 1] = np.where(short, h * k + k - 1, h * k + k)
            pats[:, 1] = np.where(short, x - left, x)
        return lens, pats, unary
    if code.startswith("PI"):
        k = int(code[2:])
        x = vals + 1
        h = _bl(x)
        l = (h + (1 << k) - 1) >> k
        lens[:, 0] = l  # unary(l-1)
        unary[:, 0] = True
        lens[:, 1] = k
        pats[:, 1] = (l << k) - h
        lens[:, 2] = h - 1
        pats[:, 2] = x & ((np.int64(1) << np.minimum(h - 1, 62)) - 1)
        return lens, pats, unary
    raise NotImplementedError(code)  # pragma: no cover


def emit_range(
    lo: int, hi: int, groups: dict, props, refs: np.ndarray, csr=None
):
    """Vectorized mirror of the final per-node ``_emit_list`` pass for a
    whole range, given the chosen reference deltas ``refs`` (0 = none).
    Returns (payload bytes, total bits, per-node bit sizes ndarray) —
    byte-for-byte what the scalar ``BitWriter`` path produces, for both
    endiannesses. Raises NotImplementedError for OMEGA fields (data-
    dependent primitive counts); callers fall back to the scalar path.
    ``csr`` lets the caller share one ``_csr`` build with ``cost_matrix``.
    """
    n = hi - lo
    win = props.window_size
    codes = props.codes or {}
    defaults = {
        "OUTDEGREES": "GAMMA",
        "REFERENCES": "UNARY",
        "BLOCKS": "GAMMA",
        "INTERVALS": "GAMMA",
        "RESIDUALS": "ZETA",
    }
    field_code = {f: codes.get(f, defaults[f]) for f in _FIELD_ORDER}
    if any(c == "OMEGA" for c in field_code.values()):
        raise NotImplementedError("OMEGA emission is scalar-only")
    little = props.endianness == "little"
    lmin = props.min_interval_length

    S, indptr, degs = csr if csr is not None else _csr(lo, hi, groups)
    zi = np.zeros(0, dtype=np.int64)

    # token tables per field: (vals, node, pos)
    toks: dict = {}
    nodes_all = np.arange(n, dtype=np.int64)
    toks["OUTDEGREES"] = (degs, nodes_all, np.zeros(n, np.int64))
    if win > 0:
        ne = np.flatnonzero(degs > 0)
        toks["REFERENCES"] = (refs[ne], ne, np.zeros(ne.size, np.int64))
        ri = np.flatnonzero((refs > 0) & (degs > 0))
    else:
        toks["REFERENCES"] = (zi, zi, zi)
        ri = zi
    if ri.size:
        M = np.int64(int(S.max()) + 2)
        if n * int(M) >= (1 << 63):
            raise OverflowError("range too large for keyed vectorized costs")
        ci = ri
        pi = ri - refs[ri]
        bv, bs, bp, Rv, Rseg = _pair_blocks(S, indptr, degs, ci, pi, M)
        toks["BLOCKS"] = (bv, ci[bs], bp)
        # leftovers of ref nodes + full lists of no-ref nodes feed the
        # intervals/residuals fields; map both into node-segment space
        nr = np.flatnonzero((refs == 0) & (degs > 0))
        seg_nr = np.repeat(nr, degs[nr])
        idx_nr = np.repeat(indptr[nr], degs[nr]) + _ranges(degs[nr])
        vals = np.concatenate([S[idx_nr], Rv])
        segs = np.concatenate([seg_nr, ci[Rseg]])
        # segments must be non-decreasing for the token builders; values
        # within a segment are already in list order on both sides
        order = np.argsort(segs, kind="stable")
        vals = vals[order]
        segs = segs[order]
    else:
        toks["BLOCKS"] = (zi, zi, zi)
        nr = np.flatnonzero(degs > 0)
        vals = S
        segs = np.repeat(nr, degs[nr])
    iv, ivs, ivp, rv, rvs, rvp = _iv_res_tokens(
        vals, segs, lo + np.arange(n, dtype=np.int64), n, lmin
    )
    toks["INTERVALS"] = (iv, ivs, ivp)
    toks["RESIDUALS"] = (rv, rvs, rvp)

    # global stream order: (node, field rank, within-field pos), packed
    # into one int64 sort key — node gets bits 35.., rank 32..34, pos
    # 0..31. Guard the packing like the npair*M guard above: a range of
    # >= 2^28 nodes or a within-field pos >= 2^32 would silently wrap the
    # key, scramble the argsort and emit a corrupt bitstream; raising
    # OverflowError instead routes the caller to the scalar fallback.
    if n >= (1 << 28):
        raise OverflowError("range too large for int64 stream-order key")
    all_vals, all_node, all_key = [], [], []
    for rank, f in enumerate(_FIELD_ORDER):
        v, nd, p = toks[f]
        if v.size == 0:
            continue
        if int(np.asarray(p).max(initial=0)) >= (1 << 32):
            raise OverflowError(
                "within-field position too large for int64 stream-order key"
            )
        all_vals.append(np.asarray(v, dtype=np.int64))
        all_node.append(nd)
        all_key.append(nd * (np.int64(8) << 32) + rank * (np.int64(1) << 32) + p)
    if not all_vals:
        return b"", 0, np.zeros(n, dtype=np.int64)
    vals_f = np.concatenate(all_vals)
    node_f = np.concatenate(all_node)
    key_f = np.concatenate(all_key)
    order = np.argsort(key_f, kind="stable")
    vals_f = vals_f[order]
    node_f = node_f[order]
    field_rank = ((key_f[order] >> 32) & 7).astype(np.int64)

    # expand to primitives per field code
    lens = np.zeros((vals_f.size, 3), dtype=np.int64)
    pats = np.zeros((vals_f.size, 3), dtype=np.int64)
    unary = np.zeros((vals_f.size, 3), dtype=bool)
    for rank, f in enumerate(_FIELD_ORDER):
        m = field_rank == rank
        if not m.any():
            continue
        l_, p_, u_ = _code_primitives(
            vals_f[m], field_code[f], props.zeta_k, little
        )
        lens[m] = l_
        pats[m] = p_
        unary[m] = u_

    prim_len = lens.reshape(-1)
    prim_pat = pats.reshape(-1)
    prim_un = unary.reshape(-1)
    prim_node = np.repeat(node_f, 3)
    keep = prim_len > 0
    prim_len = prim_len[keep]
    prim_pat = prim_pat[keep]
    prim_un = prim_un[keep]
    prim_node = prim_node[keep]

    total_bits = int(prim_len.sum())
    sizes = np.bincount(
        prim_node, weights=prim_len.astype(np.float64), minlength=n
    ).astype(np.int64)

    # ---- pack: byte-scatter. A unary primitive is all zeros plus one 1
    # at its last bit (same position in both bit orders), so it reduces
    # to a 1-bit pattern at offset end-1 — leaving every pattern <= 62
    # bits, and (pattern << intra-byte shift) <= 69... so patterns must
    # be <= 56 bits for the single-int64 lane; longer fields (values
    # >= ~2^55, far beyond graph ids) take the scalar path upstream.
    if int(np.max(prim_len[~prim_un], initial=0)) > 56:
        raise NotImplementedError("pattern wider than 56 bits")
    off = np.cumsum(prim_len) - prim_len  # start bit of each primitive
    L = np.where(prim_un, 1, prim_len)
    P = np.where(prim_un, 1, prim_pat)
    O = np.where(prim_un, off + prim_len - 1, off)
    nbytes = (total_bits + 7) >> 3
    buf = np.zeros(nbytes, dtype=np.int64)
    if little:
        sh = O & 7
        shifted = P << sh
        fb = O >> 3
        span = ((L + sh + 7) >> 3).astype(np.int64)
        for j in range(int(span.max())):
            m = span > j
            contrib = (shifted[m] >> (8 * j)) & 0xFF
            buf += np.bincount(
                fb[m] + j, weights=contrib.astype(np.float64), minlength=nbytes
            ).astype(np.int64)
    else:
        E = O + L  # end bit (exclusive)
        pad = (-E) & 7
        shifted = P << pad
        lb = (E - 1) >> 3  # last byte touched
        span = ((L + pad + 7) >> 3).astype(np.int64)
        for j in range(int(span.max())):
            m = span > j
            contrib = (shifted[m] >> (8 * j)) & 0xFF
            buf += np.bincount(
                lb[m] - j, weights=contrib.astype(np.float64), minlength=nbytes
            ).astype(np.int64)
    # disjoint bit ranges: per-byte contributions add without carry
    payload = buf.astype(np.uint8)
    return payload.tobytes(), total_bits, sizes
