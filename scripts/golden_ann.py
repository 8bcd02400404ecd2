"""Independent numpy implementations of the three approximate queries
(lsh_topk, ivf_topk, embdup_cosine_lsh) at their DEFAULT operating
points, for golden-oracle freezing by scripts/make_golden.py.

At a fixed corpus the three are deterministic: the LSH hyperplanes are
md5-derived constants (similarity._plane_weights), the IVF quantizer's
sample and seed are pinned, and every tie-break is total.  That makes
a frozen golden table a legitimate oracle — the driver compares the
Spark pipeline's rows/schema/hash against it exactly as it does for
closed-form SQL.

Shared-leaf boundary (stated for the record, mirroring the kg_* golden
caveat): this module imports from jerex_spark.operators.similarity the
hyperplane DATA (_plane_weights — md5-derived constants, not logic),
the closed-form (bands, bits) schedule, and the k-means quantizer fit
(whose pinned-seed centroids are part of ivf_topk's definition — an
independently-seeded quantizer would legitimately return different
approximate answers).  Everything pipeline-shaped is implemented here
independently of the Spark operators: the IVF sample ordering (own
XXH64 from the public spec, tested against Spark's), banding/packing,
bucket joins, candidate set construction, sequential-fold cosines,
HALF_UP rounding, window top-k, thresholding, and the exact-dup
collapse/expansion.

Numeric contract: Spark computes dot products as a strict
left-to-right fold over IEEE doubles.  Norms, the lsh_topk/ivf_topk
cosines and the embdup self-cosine use Catalyst
``aggregate(zip_with(...))``; embdup_cosine_lsh's bucket pairs use the
numpy kernel ``operators.dedup._bucket_cosines``, which runs the same
fold as dim rank-1 updates (acc = 0.0, then acc += x[k] * y[k] for
k = 0..dim-1).  The kernel imports nothing from this module.  The
replicas here accumulate dimension-by-dimension in the
same order, so values are expected BITWISE identical, and every
reassociation-sensitive decision (hyperplane sign, cell argmin,
rounding boundary) additionally asserts a safety margin at freeze
time: a corpus that could flip a decision under last-ulp drift is
REJECTED at generation time rather than committed as a flaky oracle.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from jerex_spark.operators.similarity import (  # noqa: E402
    KMEANS_SAMPLE_TARGET, N_BANDS, N_CELLS, N_PROBE, N_QUERIES, TOP_K,
    TOPK_DESIGN_COS, _fit_kmeans_np, _plane_weights, lsh_schedule)
from jerex_spark.operators.dedup import (  # noqa: E402
    COS_DUP_THRESHOLD, EMBDUP_N_BANDS)

# --- freeze-time safety margins (corpus REJECTED if violated) -----------
SIGN_MARGIN = 1e-9        # |hyperplane projection| (sign stability)
ARGMIN_MARGIN = 1e-9      # best-vs-second cell distance gap
ROUND_MARGIN = Decimal("1e-6")   # distance (in 1e-6 digit units, i.e.
#   1e-12 in cosine units) of the raw cosine from a .5 rounding
#   boundary — orders of magnitude above worst-case 64-term
#   reassociation drift (~1e-14) yet rare enough (~2e-6/value) that a
#   real corpus is essentially never rejected by chance


# --- XXH64 of one 64-bit little-endian long (public spec; seed 42 =
#     Spark's default).  Independent of Spark's implementation; pinned
#     bit-exact against F.xxhash64 in tests/test_golden_ann.py. -------
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(value: int, seed: int = 42) -> int:
    acc = (seed + _P5 + 8) & _M64
    k1 = _rotl((value & _M64) * _P2 & _M64, 31) * _P1 & _M64
    acc ^= k1
    acc = (_rotl(acc, 27) * _P1 + _P4) & _M64
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc   # signed long


# --- numeric replicas of the Catalyst fold + Spark ROUND ----------------
def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated dimension-by-dimension — the
    exact operation order of ``aggregate(zip_with(a, b, ...))``'s
    left fold, vectorized over rows."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def round_half_up(x: float, nd: int) -> float:
    """Spark's ROUND on doubles: shortest-repr decimal, HALF_UP.
    (java BigDecimal.valueOf(d).setScale(nd, HALF_UP); Python repr and
    Double.toString share the shortest-roundtrip contract.)"""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd),
                                           rounding=ROUND_HALF_UP))


def _assert_round_margin(raw: float, what: str) -> None:
    """Reject a corpus whose raw cosine sits within ~1e-9 of a 6th-
    decimal HALF_UP boundary — the one place last-ulp reassociation
    drift could flip the frozen value."""
    # abs() first: HALF_UP rounds away from zero, so the boundary for a
    # negative cosine sits at -x.5e-6 — symmetric in |value|.  A value
    # exactly ON the boundary is rejected too: it is the single most
    # drift-sensitive input (one ulp down flips the rounded value), and
    # the guard exists precisely for cross-build last-ulp drift.
    rem = (abs(Decimal(repr(raw))) * 10 ** 6) % 1
    if abs(rem - Decimal("0.5")) < ROUND_MARGIN:
        raise ValueError(
            f"{what}: raw cosine {raw!r} is within {ROUND_MARGIN}e-6 of "
            f"a 6-decimal rounding boundary — freezing this corpus "
            f"would make the golden oracle flaky under last-ulp drift")


def _cos6(qv: np.ndarray, qn: float, M: np.ndarray, Mn: np.ndarray,
          what: str) -> list[float]:
    """round(cos, 6) for one query row against a candidate matrix,
    with the freeze-time rounding-boundary check."""
    raw = seq_dot(np.broadcast_to(qv, M.shape), M) / (qn * Mn)
    out = []
    for r in raw:
        _assert_round_margin(float(r), what)
        out.append(round_half_up(float(r), 6))
    return out


def _norms(X: np.ndarray) -> np.ndarray:
    return np.sqrt(seq_dot(X, X))


def _codes(X: np.ndarray, n_bands: int, band_bits: int) -> np.ndarray:
    """(n, n_bands) packed sign codes; rejects a corpus whose smallest
    |projection| could flip a sign bit under reassociation drift."""
    P = np.array([_plane_weights(p) for p in range(n_bands * band_bits)],
                 dtype=np.float64).T
    proj = X @ P
    m = np.abs(proj).min() if proj.size else np.inf
    if m < SIGN_MARGIN:
        raise ValueError(
            f"hyperplane projection margin {m:.3e} < {SIGN_MARGIN} — "
            f"a sign bit could flip under summation-order drift; "
            f"refusing to freeze this corpus")
    signs = proj >= 0
    packer = np.array([1 << (band_bits - 1 - i) for i in range(band_bits)],
                      dtype=np.int64)
    return (signs.reshape(len(X), n_bands, band_bits)
            * packer).sum(axis=2)


def _band_bucket_sets(codes: np.ndarray) -> list[dict]:
    """Per band: code -> set of row indices."""
    out = []
    for b in range(codes.shape[1]):
        d = defaultdict(set)
        for i, c in enumerate(codes[:, b]):
            d[int(c)].add(i)
        out.append(d)
    return out


def _topk_rows(ids: np.ndarray, qrow: int, cand: list[int],
               X: np.ndarray, norms: np.ndarray, top_k: int,
               what: str) -> list[dict]:
    """Exact cosine over a candidate set + window top-k with the
    (-cos6, neighbor_id) tie-break — the independent replica of the
    row_number window."""
    if not cand:
        return []
    cand = sorted(cand)
    M = X[cand]
    c6 = _cos6(X[qrow], float(norms[qrow]), M, norms[cand], what)
    ranked = sorted(zip(c6, (int(ids[i]) for i in cand)),
                    key=lambda t: (-t[0], t[1]))
    return [dict(query_id=int(ids[qrow]), neighbor_id=nid,
                 cos=round_half_up(c, 4), rank=r + 1)
            for r, (c, nid) in enumerate(ranked[:top_k])]


# --- lsh_topk ------------------------------------------------------------
def golden_lsh_topk(ids: np.ndarray, X: np.ndarray) -> list[dict]:
    n = len(ids)
    n_bands, band_bits = lsh_schedule(n, design_cos=TOPK_DESIGN_COS,
                                      min_bands=N_BANDS)
    norms = _norms(X)
    codes = _codes(X, n_bands, band_bits)
    buckets = _band_bucket_sets(codes)
    rows: list[dict] = []
    for qrow in np.flatnonzero(ids < N_QUERIES):
        cand: set[int] = set()
        for b in range(n_bands):
            cand |= buckets[b][int(codes[qrow, b])]
        cand.discard(int(qrow))
        rows += _topk_rows(ids, int(qrow), list(cand), X, norms, TOP_K,
                           "lsh_topk")
    return rows


# --- ivf_topk ------------------------------------------------------------
def golden_ivf_topk(ids: np.ndarray, X: np.ndarray) -> list[dict]:
    # sample selection: first KMEANS_SAMPLE_TARGET rows ordered by
    # (xxh64(vec_id), vec_id) — the deterministic hash-sample the Spark
    # side takes via orderBy(xxhash64(vec_id), vec_id).limit(...)
    order = sorted(range(len(ids)),
                   key=lambda i: (xxh64_long(int(ids[i])), int(ids[i])))
    sample = X[order[:KMEANS_SAMPLE_TARGET]]
    C = _fit_kmeans_np(sample, N_CELLS)

    # cell assignment: argmin squared distance (same op order as the
    # Spark UDF's numpy form; row batching cannot change a per-row
    # last-axis reduction) — with a best-vs-second margin check
    d2 = ((X[:, None, :] - C[None]) ** 2).sum(-1)
    part = np.sort(d2, axis=1)
    gap = (part[:, 1] - part[:, 0]).min()
    if gap < ARGMIN_MARGIN:
        raise ValueError(
            f"ivf cell-assignment margin {gap:.3e} < {ARGMIN_MARGIN} — "
            f"an argmin could flip under summation-order drift; "
            f"refusing to freeze this corpus")
    cell = np.argmin(d2, axis=1)
    by_cell = defaultdict(list)
    for i, c in enumerate(cell):
        by_cell[int(c)].append(i)

    norms = _norms(X)
    rows: list[dict] = []
    for qrow in np.flatnonzero(ids < N_QUERIES):
        # probe selection: sequential-fold distance to each centroid
        # (the Spark side computes this in Catalyst), (dist, cell) order
        q = X[qrow]
        dists = []
        for ci in range(N_CELLS):
            acc = 0.0
            for j in range(X.shape[1]):
                dv = q[j] - C[ci, j]
                acc = acc + dv * dv
            dists.append((acc, ci))
        dists.sort()
        probes = [ci for _, ci in dists[:N_PROBE]]
        cand = [i for ci in probes for i in by_cell[ci] if i != qrow]
        rows += _topk_rows(ids, int(qrow), cand, X, norms, TOP_K,
                           "ivf_topk")
    return rows


# --- embdup_cosine_lsh ---------------------------------------------------
def golden_embdup(ids: np.ndarray, X: np.ndarray,
                  threshold: float = COS_DUP_THRESHOLD) -> list[dict]:
    norms = _norms(X)
    # exact-dup collapse: group identical vectors (+0.0 key so -0.0
    # groups with 0.0, matching Spark's grouping-key normalization)
    groups: dict[bytes, list[int]] = defaultdict(list)
    for i in range(len(ids)):
        groups[(X[i] + 0.0).tobytes()].append(i)
    glist = []           # (rep_id, rep_row, member_ids_sorted)
    for rows_ in groups.values():
        mids = sorted(int(ids[i]) for i in rows_)
        rep_row = min(rows_, key=lambda i: int(ids[i]))
        glist.append((mids[0], rep_row, mids))
    glist.sort()
    n_bands, band_bits = lsh_schedule(len(glist), design_cos=threshold,
                                      min_bands=EMBDUP_N_BANDS)
    R = X[[g[1] for g in glist]]
    codes = _codes(R, n_bands, band_bits)
    buckets = _band_bucket_sets(codes)
    pairs: set[tuple[int, int]] = set()
    for b in range(n_bands):
        for members in buckets[b].values():
            ms = sorted(members)
            for ai in range(len(ms)):
                for bi in range(ai + 1, len(ms)):
                    pairs.add((ms[ai], ms[bi]))

    out: list[dict] = []
    rnorms = _norms(R)
    plist = sorted(pairs)
    if plist:
        ia = np.array([p[0] for p in plist])
        ib = np.array([p[1] for p in plist])
        raw = seq_dot(R[ia], R[ib]) / (rnorms[ia] * rnorms[ib])
        # vectorized pre-filter (the candidate set can be ~10^6 pairs;
        # the per-value Decimal path below runs only on survivors):
        # c6 >= threshold iff raw >= threshold - 5e-7 under HALF_UP.
        # Reject the corpus if any raw sits within 1e-12 of that
        # decision boundary — then pre-filter and exact rounding agree.
        cut = threshold - 5e-7
        m = np.abs(raw - cut).min()
        if m < 1e-12:
            raise ValueError(
                f"embdup_cosine_lsh: candidate cosine within {m:.3e} of "
                f"the threshold rounding boundary — refusing to freeze")
        keep = np.flatnonzero(raw > cut)
    else:
        keep = []
    for k in keep:
        ga, gb = plist[int(k)]
        r = float(raw[int(k)])
        _assert_round_margin(r, "embdup_cosine_lsh")
        c6 = round_half_up(r, 6)
        if c6 >= threshold:
            # cross-group expansion: every member pair inherits the
            # rep cosine (identical vectors => identical cosine)
            for a in glist[ga][2]:
                for b2 in glist[gb][2]:
                    out.append(dict(id_a=min(a, b2), id_b=max(a, b2),
                                    cos=round_half_up(c6, 4)))
    # intra-group pairs: numerically-computed self-cosine
    for rep_id, rep_row, mids in glist:
        if len(mids) < 2:
            continue
        s = float(seq_dot(X[rep_row:rep_row + 1],
                          X[rep_row:rep_row + 1])[0])
        raw = s / (norms[rep_row] * norms[rep_row])
        _assert_round_margin(raw, "embdup_cosine_lsh(self)")
        c6 = round_half_up(raw, 6)
        if c6 >= threshold:
            for ai in range(len(mids)):
                for bi in range(ai + 1, len(mids)):
                    out.append(dict(id_a=mids[ai], id_b=mids[bi],
                                    cos=round_half_up(c6, 4)))
    return out
