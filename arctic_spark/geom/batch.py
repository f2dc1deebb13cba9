"""Vectorized batch geometry predicates — numpy, no per-row Python.

These are the Arrow-batch kernels behind the pairwise pandas UDFs
(functions/udfs.py) — the refine path of the general spatial join, where
the reference runs per-candidate Rust kernels
(geopolars/src/spatial_index.rs:89-137). The scalar twins live in
algos.py; every function here reproduces their exact semantics (same
orientation sign convention, same boundary-inclusive ray cast) over a
whole RaggedGeometry batch at once:

- per-pair ragged cartesian products (segments × segments, points ×
  segments) are materialized as flat index arrays (`_pair_products`);
- orientation / crossing / ray-cast tests run as single numpy
  expressions over the product rows;
- per-pair reductions use np.logical_or.at / np.add.at / np.minimum.at.

Total work is the same Σ |a_i|·|b_i| as the scalar loops, but executes
as a handful of C-level array passes instead of millions of interpreter
iterations. contains() drops pairs whose subject polygon has holes to
the scalar kernel (the hole-coincidence probes are iterative and rare);
everything else is loop-free.
"""

from __future__ import annotations

import numpy as np

from . import algos
from .ragged import (LINEARRING, LINESTRING, MISSING, MULTILINESTRING,
                     MULTIPOINT, MULTIPOLYGON, POINT, POLYGON,
                     RaggedGeometry)

_POINTISH = (POINT, MULTIPOINT)
_POLYISH = (POLYGON, MULTIPOLYGON)
_LINEISH = (LINESTRING, MULTILINESTRING, LINEARRING)


# ---------------------------------------------------------------------------
# flat extraction + ragged products
# ---------------------------------------------------------------------------

def _coord_geom_index(rg: RaggedGeometry) -> np.ndarray:
    """geometry index of every coordinate in the batch."""
    return np.repeat(np.arange(len(rg)), np.diff(rg.coord_offsets))


def _seg_arrays(rg: RaggedGeometry, keep: np.ndarray | None = None):
    """All segments of the batch as flat arrays.

    Returns (ax, ay, bx, by, geom_idx, ring_idx) where ring_idx is the
    global ring index (for the PIP parity bookkeeping). ``keep`` masks
    geometries: masked-out geometries contribute no segments.
    """
    rings = rg.rings.astype(np.int64)
    n_coords = rg.xs.size
    if rings.size == 0 or n_coords == 0:
        e = np.empty(0, np.float64)
        z = np.empty(0, np.int64)
        return e, e, e, e, z, z
    ends = np.cumsum(rings)
    is_last = np.zeros(n_coords, dtype=bool)
    nonempty = rings >= 1
    is_last[ends[nonempty] - 1] = True
    start_idx = np.nonzero(~is_last)[0]
    coord_geom = _coord_geom_index(rg)
    coord_ring = np.repeat(np.arange(rings.size), rings)
    gidx = coord_geom[start_idx]
    if keep is not None:
        m = keep[gidx]
        start_idx, gidx = start_idx[m], gidx[m]
    return (rg.xs[start_idx], rg.ys[start_idx],
            rg.xs[start_idx + 1], rg.ys[start_idx + 1],
            gidx, coord_ring[start_idx])


def _vert_arrays(rg: RaggedGeometry, keep: np.ndarray | None = None):
    """All vertices of the batch as (x, y, geom_idx)."""
    gidx = _coord_geom_index(rg)
    x, y = rg.xs, rg.ys
    if keep is not None:
        m = keep[gidx]
        x, y, gidx = x[m], y[m], gidx[m]
    return x, y, gidx


def _first_vert_arrays(rg: RaggedGeometry, keep: np.ndarray):
    """First vertex of each kept, non-empty geometry as (x, y, geom_idx)."""
    counts = np.diff(rg.coord_offsets)
    m = keep & (counts > 0)
    gidx = np.nonzero(m)[0]
    first = rg.coord_offsets[:-1][m]
    return rg.xs[first], rg.ys[first], gidx


def _pair_products(ga: np.ndarray, gb: np.ndarray, n: int):
    """Flat per-group cartesian product of two grouped item sets.

    ``ga``/``gb`` are sorted group (pair) ids of the A/B items. Returns
    (ia, ib): index arrays into A and B such that every (a, b) pair with
    equal group id appears exactly once.
    """
    cb = np.bincount(gb, minlength=n)
    ob = np.concatenate(([0], np.cumsum(cb)[:-1]))
    reps = cb[ga]
    ia = np.repeat(np.arange(ga.size), reps)
    starts = np.repeat(ob[ga], reps)
    csum = np.concatenate(([0], np.cumsum(reps)[:-1]))
    pos = np.arange(ia.size) - np.repeat(csum, reps)
    ib = starts + pos
    return ia, ib


# ---------------------------------------------------------------------------
# vectorized primitive tests (exact twins of the scalar ones in algos.py)
# ---------------------------------------------------------------------------

def _orient(ox, oy, px, py, qx, qy):
    return np.sign((px - ox) * (qy - oy) - (py - oy) * (qx - ox))


def _on_seg(ax, ay, bx, by, qx, qy):
    """Collinearity assumed checked by caller; bbox containment test."""
    return ((np.minimum(ax, bx) <= qx) & (qx <= np.maximum(ax, bx))
            & (np.minimum(ay, by) <= qy) & (qy <= np.maximum(ay, by)))


def _seg_intersect_mask(ax, ay, bx, by, cx, cy, dx, dy):
    """Vector twin of algos._seg_intersect (touching counts)."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    hit = (o1 != o2) & (o3 != o4)
    hit |= (o1 == 0) & _on_seg(ax, ay, bx, by, cx, cy)
    hit |= (o2 == 0) & _on_seg(ax, ay, bx, by, dx, dy)
    hit |= (o3 == 0) & _on_seg(cx, cy, dx, dy, ax, ay)
    hit |= (o4 == 0) & _on_seg(cx, cy, dx, dy, bx, by)
    return hit


def _proper_cross_mask(ax, ay, bx, by, cx, cy, dx, dy):
    """Vector twin of algos._proper_seg_cross."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    return ((o1 != o2) & (o3 != o4)
            & (o1 != 0) & (o2 != 0) & (o3 != 0) & (o4 != 0))


def _point_on_seg_mask(px, py, ax, ay, bx, by):
    """Point lies on segment (boundary test used by the ray cast)."""
    cross = (px - ax) * (by - ay) - (py - ay) * (bx - ax)
    return (cross == 0) & _on_seg(ax, ay, bx, by, px, py)


def _point_seg_dist2(px, py, x1, y1, x2, y2):
    """Vector twin of algos._point_seg_dist2."""
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    safe = np.where(l2 == 0, 1.0, l2)
    t = ((px - x1) * dx + (py - y1) * dy) / safe
    t = np.clip(np.where(l2 == 0, 0.0, t), 0.0, 1.0)
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


# ---------------------------------------------------------------------------
# batch point-in-polygon (boundary-inclusive, hole-aware)
# ---------------------------------------------------------------------------

def _ring_part_tables(rg: RaggedGeometry):
    """Per-global-ring (part_id, is_outer) lookup tables."""
    parts = rg.parts.astype(np.int64)
    if parts.size == 0:
        z = np.empty(0, np.int64)
        return z, np.empty(0, bool)
    part_of_ring = np.repeat(np.arange(parts.size), parts)
    starts = np.concatenate(([0], np.cumsum(parts)[:-1]))
    pos_in_part = np.arange(part_of_ring.size) - np.repeat(starts, parts)
    return part_of_ring, pos_in_part == 0


def points_in_polygons(qx, qy, qgroup, poly: RaggedGeometry,
                       poly_active: np.ndarray, n: int,
                       return_on_boundary: bool = False):
    """Boundary-inclusive PIP for a batch of query points against the
    polygon of their pair — the vector twin of algos.point_in_polygon.

    qx/qy/qgroup: flat query points with their pair id (sorted by pair).
    poly_active: pairs whose polygon side participates. Returns bool per
    query point (optionally also an on-any-boundary bool per query, the
    ingredient of the strict-interior test).
    """
    res = np.zeros(qx.size, dtype=bool)
    on_any = np.zeros(qx.size, dtype=bool)
    if qx.size == 0:
        return (res, on_any) if return_on_boundary else res
    ax, ay, bx, by, sgeom, sring = _seg_arrays(poly, poly_active)
    if sgeom.size == 0:
        return (res, on_any) if return_on_boundary else res
    iq, isg = _pair_products(qgroup, sgeom, n)
    if iq.size == 0:
        return (res, on_any) if return_on_boundary else res
    px, py = qx[iq], qy[iq]
    sax, say, sbx, sby = ax[isg], ay[isg], bx[isg], by[isg]
    on_b = _point_on_seg_mask(px, py, sax, say, sbx, sby)
    crossing = (say > py) != (sby > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = sax + (py - say) * (sbx - sax) / (sby - say)
    crossing &= px < xint
    # aggregate per (query, ring)
    ring = sring[isg]
    key = iq.astype(np.int64) * (poly.rings.size + 1) + ring
    uk, inv = np.unique(key, return_inverse=True)
    on_b_r = np.zeros(uk.size, dtype=bool)
    np.logical_or.at(on_b_r, inv, on_b)
    parity = np.zeros(uk.size, dtype=np.int64)
    np.add.at(parity, inv, crossing)
    odd = (parity % 2) == 1
    strict = odd & ~on_b_r
    uq = uk // (poly.rings.size + 1)
    uring = uk % (poly.rings.size + 1)
    part_of_ring, is_outer = _ring_part_tables(poly)
    upart = part_of_ring[uring]
    outer = is_outer[uring]
    # aggregate per (query, part)
    key2 = uq * (poly.parts.size + 1) + upart
    uk2, inv2 = np.unique(key2, return_inverse=True)
    on_b_outer = np.zeros(uk2.size, dtype=bool)
    np.logical_or.at(on_b_outer, inv2, on_b_r & outer)
    strict_outer = np.zeros(uk2.size, dtype=bool)
    np.logical_or.at(strict_outer, inv2, strict & outer)
    hole_on_b = np.zeros(uk2.size, dtype=bool)
    np.logical_or.at(hole_on_b, inv2, on_b_r & ~outer)
    hole_strict = np.zeros(uk2.size, dtype=bool)
    np.logical_or.at(hole_strict, inv2, strict & ~outer)
    part_res = on_b_outer | (strict_outer & (hole_on_b | ~hole_strict))
    # OR per query over parts
    np.logical_or.at(res, uk2 // (poly.parts.size + 1), part_res)
    if return_on_boundary:
        np.logical_or.at(on_any, iq, on_b)
        return res, on_any
    return res


def _pip_reduce(qx, qy, qgroup, poly, poly_active, n, *, want_all):
    """Per-pair ANY/ALL reduction of points_in_polygons.

    want_all=True returns True for pairs whose every query point is
    inside (pairs with zero query points vacuously True — matching the
    scalar all()); want_all=False returns ANY (zero points → False).
    """
    pip = points_in_polygons(qx, qy, qgroup, poly, poly_active, n)
    if want_all:
        out = np.ones(n, dtype=bool)
        np.logical_and.at(out, qgroup, pip)
        return out
    out = np.zeros(n, dtype=bool)
    np.logical_or.at(out, qgroup, pip)
    return out


# ---------------------------------------------------------------------------
# batch predicates
# ---------------------------------------------------------------------------

def _bounds_per_geom(rg: RaggedGeometry):
    """(xmin, ymin, xmax, ymax) per geometry; ±inf flipped for empties."""
    n = len(rg)
    counts = np.diff(rg.coord_offsets)
    xmin = np.full(n, np.inf)
    ymin = np.full(n, np.inf)
    xmax = np.full(n, -np.inf)
    ymax = np.full(n, -np.inf)
    ne = counts > 0
    if ne.any():
        starts = rg.coord_offsets[:-1][ne]
        idx = np.nonzero(ne)[0]
        xmin[idx] = np.minimum.reduceat(rg.xs, starts)
        ymin[idx] = np.minimum.reduceat(rg.ys, starts)
        xmax[idx] = np.maximum.reduceat(rg.xs, starts)
        ymax[idx] = np.maximum.reduceat(rg.ys, starts)
        # reduceat spans [starts[i], starts[i+1]) of the FULL array; with
        # empties removed the spans are exactly each geometry's coords
        # only when consecutive kept geometries are adjacent — they are,
        # because empties own zero coordinates.
    return xmin, ymin, xmax, ymax


def _seg_bbox_prefilter(a1x, a1y, b1x, b1y, a2x, a2y, b2x, b2y, i1, i2):
    """Drop segment pairs whose bboxes are disjoint before the 4-orient
    intersect mask — 8 cheap passes typically kill the majority of the
    per-segment cartesian product (only boundary-adjacent segments of a
    candidate geometry pair can actually meet)."""
    ok = ((np.minimum(a1x[i1], b1x[i1]) <= np.maximum(a2x[i2], b2x[i2]))
          & (np.minimum(a2x[i2], b2x[i2]) <= np.maximum(a1x[i1], b1x[i1]))
          & (np.minimum(a1y[i1], b1y[i1]) <= np.maximum(a2y[i2], b2y[i2]))
          & (np.minimum(a2y[i2], b2y[i2]) <= np.maximum(a1y[i1], b1y[i1])))
    return i1[ok], i2[ok]


def _seg_cross_any(r1, r2, active, n):
    """Per-pair: any segment of g1 intersects any segment of g2
    (touching counts) — plus the proper-only variant's shared guts."""
    a1x, a1y, b1x, b1y, g1s, _ = _seg_arrays(r1, active)
    a2x, a2y, b2x, b2y, g2s, _ = _seg_arrays(r2, active)
    out = np.zeros(n, dtype=bool)
    if g1s.size == 0 or g2s.size == 0:
        return out
    i1, i2 = _pair_products(g1s, g2s, n)
    if i1.size == 0:
        return out
    i1, i2 = _seg_bbox_prefilter(a1x, a1y, b1x, b1y,
                                 a2x, a2y, b2x, b2y, i1, i2)
    if i1.size == 0:
        return out
    hit = _seg_intersect_mask(a1x[i1], a1y[i1], b1x[i1], b1y[i1],
                              a2x[i2], a2y[i2], b2x[i2], b2y[i2])
    np.logical_or.at(out, g1s[i1], hit)
    return out


def _proper_cross_any(r1, r2, active, n):
    a1x, a1y, b1x, b1y, g1s, _ = _seg_arrays(r1, active)
    a2x, a2y, b2x, b2y, g2s, _ = _seg_arrays(r2, active)
    out = np.zeros(n, dtype=bool)
    if g1s.size == 0 or g2s.size == 0:
        return out
    i1, i2 = _pair_products(g1s, g2s, n)
    if i1.size == 0:
        return out
    i1, i2 = _seg_bbox_prefilter(a1x, a1y, b1x, b1y,
                                 a2x, a2y, b2x, b2y, i1, i2)
    if i1.size == 0:
        return out
    hit = _proper_cross_mask(a1x[i1], a1y[i1], b1x[i1], b1y[i1],
                             a2x[i2], a2y[i2], b2x[i2], b2y[i2])
    np.logical_or.at(out, g1s[i1], hit)
    return out


def _points_touch_any(r_pts, r_other, active, n):
    """Vector twin of `any(_point_touches(p, g2) for p in g1)`: pointish
    r_pts against arbitrary r_other, dispatched on the other's type."""
    out = np.zeros(n, dtype=bool)
    gt2 = r_other.gt
    # other pointish: coordinate equality
    m_pp = active & np.isin(gt2, _POINTISH)
    if m_pp.any():
        x1, y1, g1 = _vert_arrays(r_pts, m_pp)
        x2, y2, g2 = _vert_arrays(r_other, m_pp)
        if g1.size and g2.size:
            i1, i2 = _pair_products(g1, g2, n)
            eq = (x1[i1] == x2[i2]) & (y1[i1] == y2[i2])
            np.logical_or.at(out, g1[i1], eq)
    # other lineish: point-on-segment
    m_pl = active & np.isin(gt2, _LINEISH)
    if m_pl.any():
        x1, y1, g1 = _vert_arrays(r_pts, m_pl)
        ax, ay, bx, by, gs, _ = _seg_arrays(r_other, m_pl)
        if g1.size and gs.size:
            i1, i2 = _pair_products(g1, gs, n)
            on = _point_on_seg_mask(x1[i1], y1[i1], ax[i2], ay[i2],
                                    bx[i2], by[i2])
            np.logical_or.at(out, g1[i1], on)
    # other polygonal: boundary-inclusive PIP
    m_pg = active & np.isin(gt2, _POLYISH)
    if m_pg.any():
        x1, y1, g1 = _vert_arrays(r_pts, m_pg)
        out |= _pip_reduce(x1, y1, g1, r_other, m_pg, n, want_all=False)
    return out


def intersects(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Vector twin of algos.intersects_pair over aligned batches.

    Returns a float-friendly object: bool array; callers mask MISSING
    rows to None themselves (valid = neither side missing).
    """
    n = len(r1)
    out = np.zeros(n, dtype=bool)
    valid = (r1.gt != MISSING) & (r2.gt != MISSING)
    c1 = np.diff(r1.coord_offsets)
    c2 = np.diff(r2.coord_offsets)
    x1n, y1n, x1x, y1x = _bounds_per_geom(r1)
    x2n, y2n, x2x, y2x = _bounds_per_geom(r2)
    bbox_ok = ~((x1x < x2n) | (x2x < x1n) | (y1x < y2n) | (y2x < y1n))
    active = valid & (c1 > 0) & (c2 > 0) & bbox_ok
    if not active.any():
        return out
    p1 = np.isin(r1.gt, _POINTISH)
    p2 = np.isin(r2.gt, _POINTISH)
    m = active & p1
    if m.any():
        out |= _points_touch_any(r1, r2, m, n)
    m = active & ~p1 & p2
    if m.any():
        out |= _points_touch_any(r2, r1, m, n)
    gen = active & ~p1 & ~p2
    if gen.any():
        out |= gen & _seg_cross_any(r1, r2, gen, n)
        # containment: first vertex of one inside the other polygon
        m1 = gen & np.isin(r1.gt, _POLYISH)
        if m1.any():
            fx, fy, fg = _first_vert_arrays(r2, m1)
            out |= _pip_reduce(fx, fy, fg, r1, m1, n, want_all=False)
        m2 = gen & np.isin(r2.gt, _POLYISH)
        if m2.any():
            fx, fy, fg = _first_vert_arrays(r1, m2)
            out |= _pip_reduce(fx, fy, fg, r2, m2, n, want_all=False)
    return out


def _has_holes(rg: RaggedGeometry) -> np.ndarray:
    """Per-geometry: any part with more than one ring."""
    n = len(rg)
    out = np.zeros(n, dtype=bool)
    parts = rg.parts
    if parts.size == 0:
        return out
    geom_of_part = np.repeat(np.arange(n), np.diff(rg.part_offsets))
    np.logical_or.at(out, geom_of_part, parts > 1)
    return out


def _mid_arrays(rg: RaggedGeometry, keep: np.ndarray):
    """Midpoints of all segments as (x, y, geom_idx)."""
    ax, ay, bx, by, gidx, _ = _seg_arrays(rg, keep)
    return (ax + bx) * 0.5, (ay + by) * 0.5, gidx


def contains(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Vector twin of algos.contains_pair over aligned batches. Pairs
    whose subject polygon has holes fall back to the scalar kernel (the
    hole-coincidence interior probe is iterative; such rows are rare)."""
    n = len(r1)
    out = np.zeros(n, dtype=bool)
    valid = (r1.gt != MISSING) & (r2.gt != MISSING)
    # EMPTY operands: GEOS semantics — nothing contains EMPTY and EMPTY
    # contains nothing (the vacuous-True ALL reduce would otherwise say
    # square.contains(POLYGON EMPTY) == True).
    valid &= (np.diff(r1.coord_offsets) > 0) & (np.diff(r2.coord_offsets) > 0)
    poly1 = np.isin(r1.gt, _POLYISH) & valid
    p2 = np.isin(r2.gt, _POINTISH)
    # polygon contains point(s): ALL vertices inside
    m_pt = poly1 & p2
    if m_pt.any():
        vx, vy, vg = _vert_arrays(r2, m_pt)
        res = _pip_reduce(vx, vy, vg, r1, m_pt, n, want_all=True)
        out |= m_pt & res
    # polygon contains line/polygon
    holes = _has_holes(r1)
    m_gen = poly1 & ~p2 & ~holes
    if m_gen.any():
        vx, vy, vg = _vert_arrays(r2, m_gen)
        all_in = _pip_reduce(vx, vy, vg, r1, m_gen, n, want_all=True)
        no_cross = ~_proper_cross_any(r1, r2, m_gen, n)
        mx, my, mg = _mid_arrays(r2, m_gen)
        mids_in = _pip_reduce(mx, my, mg, r1, m_gen, n, want_all=True)
        out |= m_gen & all_in & no_cross & mids_in
    # holed subjects: exact scalar path (hole-swallow + coincidence probe)
    m_holed = poly1 & ~p2 & holes
    for i in np.nonzero(m_holed)[0]:
        out[i] = algos.contains_pair(r1.geom(i), r2.geom(i))
    # point contains point
    m_pp = valid & (r1.gt == POINT) & (r2.gt == POINT)
    if m_pp.any():
        idx = np.nonzero(m_pp & (np.diff(r1.coord_offsets) > 0)
                         & (np.diff(r2.coord_offsets) > 0))[0]
        f1 = r1.coord_offsets[:-1][idx]
        f2 = r2.coord_offsets[:-1][idx]
        out[idx] = (r1.xs[f1] == r2.xs[f2]) & (r1.ys[f1] == r2.ys[f2])
    return out


def distance(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Vector twin of algos.distance_pair: 0 when intersecting, else the
    min vertex↔segment distance both ways (vertex↔vertex when both sides
    are pure point sets); NaN for empty/missing."""
    n = len(r1)
    best = np.full(n, np.inf)
    valid = (r1.gt != MISSING) & (r2.gt != MISSING)
    c1 = np.diff(r1.coord_offsets)
    c2 = np.diff(r2.coord_offsets)
    nonempty = valid & (c1 > 0) & (c2 > 0)
    inter = intersects(r1, r2) & nonempty
    work = nonempty & ~inter
    if work.any():
        s1cnt = np.zeros(n, dtype=np.int64)
        _, _, _, _, g1s_all, _ = _seg_arrays(r1, work)
        if g1s_all.size:
            np.add.at(s1cnt, g1s_all, 1)
        s2cnt = np.zeros(n, dtype=np.int64)
        _, _, _, _, g2s_all, _ = _seg_arrays(r2, work)
        if g2s_all.size:
            np.add.at(s2cnt, g2s_all, 1)

        def vert_vs_segs(rv, rs, mask):
            vx, vy, vg = _vert_arrays(rv, mask)
            ax, ay, bx, by, gs, _ = _seg_arrays(rs, mask)
            if vg.size == 0 or gs.size == 0:
                return
            iv, isg = _pair_products(vg, gs, n)
            if iv.size == 0:
                return
            d2 = _point_seg_dist2(vx[iv], vy[iv], ax[isg], ay[isg],
                                  bx[isg], by[isg])
            np.minimum.at(best, vg[iv], d2)

        m12 = work & (s2cnt > 0)
        vert_vs_segs(r1, r2, m12)
        m21 = work & (s1cnt > 0)
        vert_vs_segs(r2, r1, m21)
        m_pp = work & (s1cnt == 0) & (s2cnt == 0)
        if m_pp.any():
            x1, y1, g1 = _vert_arrays(r1, m_pp)
            x2, y2, g2 = _vert_arrays(r2, m_pp)
            if g1.size and g2.size:
                i1, i2 = _pair_products(g1, g2, n)
                d2 = (x1[i1] - x2[i2]) ** 2 + (y1[i1] - y2[i2]) ** 2
                np.minimum.at(best, g1[i1], d2)
    out = np.sqrt(np.where(np.isinf(best), np.nan, best))
    out = np.where(inter, 0.0, out)
    out = np.where(nonempty | inter, out, np.nan)
    return out


# ---------------------------------------------------------------------------
# touches / crosses / overlaps — EXACT DE-9IM since round 6: the
# vectorized intersects above prefilters candidates, then the exact
# scalar relate kernel (geom/relate.py) decides each intersecting pair.
# These predicates are not on any join hot path; the prefilter keeps the
# common all-disjoint batches fully vectorized.
# ---------------------------------------------------------------------------

def touches(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Exact DE-9IM touches (GEOS semantics, geom/relate.py)."""
    from . import relate
    return relate.touches(r1, r2)


def crosses(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Exact DE-9IM crosses (GEOS semantics, geom/relate.py)."""
    from . import relate
    return relate.crosses(r1, r2)


def overlaps(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Exact DE-9IM overlaps (GEOS semantics, geom/relate.py)."""
    from . import relate
    return relate.overlaps(r1, r2)


# ---------------------------------------------------------------------------
# spatial-join refine: the per-pair type dispatch of the grid join, with
# numpy twins of the Catalyst shape flags and ray cast it used to run
# (functions/native.py: is_axis_rect, contains_point)
# ---------------------------------------------------------------------------

# Catalyst orders doubles with NaN above every number and NaN = NaN
# (SQLOrderingUtil.compareDoubles); array_min/least skip NaN unless
# every value is NaN, array_max/greatest return NaN if any value is
# (np.fmin / np.maximum). The twins below compare the same way.

def _le(a, b):
    return (a <= b) | np.isnan(b)


def _ge(a, b):
    return (a >= b) | np.isnan(a)


def _lt(a, b):
    return ~_ge(a, b)


def _gt(a, b):
    return ~_le(a, b)


def _eq(a, b):
    return (a == b) | (np.isnan(a) & np.isnan(b))


def _catalyst_bounds(rg: RaggedGeometry):
    """native.bounds per geometry — array_min / array_max with
    Catalyst's NaN ordering. Rows without coordinates read NaN, which
    compares unlike native.bounds' null: callers mask them."""
    n = len(rg)
    out = [np.full(n, np.nan) for _ in range(4)]
    ne = np.diff(rg.coord_offsets) > 0
    if ne.any():
        starts = rg.coord_offsets[:-1][ne]
        out[0][ne] = np.fmin.reduceat(rg.xs, starts)
        out[1][ne] = np.fmin.reduceat(rg.ys, starts)
        out[2][ne] = np.maximum.reduceat(rg.xs, starts)
        out[3][ne] = np.maximum.reduceat(rg.ys, starts)
    return out


def _rect_shape(rg: RaggedGeometry) -> np.ndarray:
    """Per-geometry: one ring of 5 vertices, every vertex a bbox corner,
    each of the first four edges changing exactly one axis — the shape
    test of native.is_axis_rect (and of contains_point's rectangle fast
    path, which skips the type check)."""
    out = np.zeros(len(rg), dtype=bool)
    idx = np.flatnonzero((np.diff(rg.ring_offsets) == 1)
                         & (np.diff(rg.coord_offsets) == 5))
    if idx.size:
        c = rg.coord_offsets[:-1][idx, None] + np.arange(5)
        x, y = rg.xs[c], rg.ys[c]
        # the edge test first: it rejects most other shapes cheaply
        keep = (_eq(x[:, :4], x[:, 1:]) != _eq(y[:, :4], y[:, 1:])).all(1)
        x, y = x[keep], y[keep]
        out[idx[keep]] = (
            (_eq(x, np.fmin.reduce(x, 1, keepdims=True))
             | _eq(x, x.max(1, keepdims=True))).all(1)
            & (_eq(y, np.fmin.reduce(y, 1, keepdims=True))
               | _eq(y, y.max(1, keepdims=True))).all(1))
    return out


def is_axis_rect(rg: RaggedGeometry) -> np.ndarray:
    """Vector twin of native.is_axis_rect (False for missing rows)."""
    return (rg.gt == POLYGON) & _rect_shape(rg)


def contains_point_strict(poly: RaggedGeometry, px: np.ndarray,
                          py: np.ndarray, active: np.ndarray) -> np.ndarray:
    """Vector twin of native.contains_point for pair i = (polygon i,
    point (px[i], py[i])), on ``active`` pairs: boundary-EXCLUSIVE
    even-odd ray cast with the parity taken over every ring of the
    geometry, and the interval test for axis rectangles. Crossing and
    on-segment tests use the native expression's float formulas term
    for term, compared with Catalyst's NaN ordering, so boundary ties
    and NaN coordinates decide identically."""
    n = len(poly)
    out = np.zeros(n, dtype=bool)
    rect = active & _rect_shape(poly)
    if rect.any():
        x0, y0, x1, y1 = _catalyst_bounds(poly)
        out |= (rect & _gt(px, x0) & _lt(px, x1)
                & _gt(py, y0) & _lt(py, y1))
    ray = active & ~rect
    if not ray.any():
        return out
    ax, ay, bx, by, g, _ = _seg_arrays(poly, ray)
    qx, qy = px[g], py[g]
    with np.errstate(divide="ignore", invalid="ignore"):
        cross = ((_gt(ay, qy) != _gt(by, qy))
                 & _lt(qx, ax + (qy - ay) * (bx - ax) / (by - ay)))
    on = (_eq((qx - ax) * (by - ay), (qy - ay) * (bx - ax))
          & _ge(qx, np.fmin(ax, bx)) & _le(qx, np.maximum(ax, bx))
          & _ge(qy, np.fmin(ay, by)) & _le(qy, np.maximum(ay, by)))
    odd = np.bincount(g, weights=cross, minlength=n) % 2 == 1
    on_bdy = np.bincount(g, weights=on, minlength=n) > 0
    return out | (ray & odd & ~on_bdy)


def _point_xy(rg: RaggedGeometry):
    """First coordinate of every row (NaN where there is none) and the
    has-a-coordinate mask."""
    has = np.diff(rg.coord_offsets) > 0
    px, py = np.full(len(rg), np.nan), np.full(len(rg), np.nan)
    first = rg.coord_offsets[:-1][has]
    px[has], py[has] = rg.xs[first], rg.ys[first]
    return px, py, has


def join_refine(r1: RaggedGeometry, r2: RaggedGeometry,
                predicate: str) -> np.ndarray:
    """The grid spatial join's exact refine for candidate pairs
    (r1[i], r2[i]), ``predicate`` in {'intersects', 'contains'}. Per
    pair, first match wins:

    - axis rectangle × axis rectangle: closed-interval overlap
      (intersects) or interval containment (contains, boundary-
      inclusive);
    - point × polygon, either order: polygon contains point,
      boundary-exclusive (the reference's refine table,
      spatial_index.rs:89-137, delegates both orders and both
      predicates to it);
    - point × point: coordinate equality;
    - any other pair: the exact :func:`intersects` / :func:`contains`
      kernel.

    Pairs with a missing side come back False; callers mask them."""
    if predicate not in ("intersects", "contains"):
        raise ValueError(f"join_refine predicate {predicate!r}; use "
                         "'intersects' or 'contains'")
    n = len(r1)
    out = np.zeros(n, dtype=bool)
    todo = (r1.gt != MISSING) & (r2.gt != MISSING)
    rect = todo & is_axis_rect(r1) & is_axis_rect(r2)
    if rect.any():
        x1n, y1n, x1x, y1x = _catalyst_bounds(r1)
        x2n, y2n, x2x, y2x = _catalyst_bounds(r2)
        if predicate == "intersects":
            ans = (_le(x1n, x2x) & _le(x2n, x1x)
                   & _le(y1n, y2x) & _le(y2n, y1x))
        else:
            ans = (_le(x1n, x2n) & _le(x2x, x1x)
                   & _le(y1n, y2n) & _le(y2x, y1x))
        out |= rect & ans
        todo &= ~rect
    pt1, pt2 = r1.gt == POINT, r2.gt == POINT
    pg1, pg2 = np.isin(r1.gt, _POLYISH), np.isin(r2.gt, _POLYISH)
    if (todo & (pt1 | pt2)).any():
        px1, py1, has1 = _point_xy(r1)
        px2, py2, has2 = _point_xy(r2)
        m = todo & pt1 & pg2
        if m.any():
            out |= contains_point_strict(r2, px1, py1, m & has1)
        m = todo & pt2 & pg1
        if m.any():
            out |= contains_point_strict(r1, px2, py2, m & has2)
        m = todo & pt1 & pt2 & has1 & has2
        out |= m & _eq(px1, px2) & _eq(py1, py2)
        todo &= ~((pt1 & pg2) | (pt2 & pg1) | (pt1 & pt2))
    if todo.any():
        kern = intersects if predicate == "intersects" else contains
        out |= todo & kern(r1, r2)
    return out


# ---------------------------------------------------------------------------
# hausdorff / shortest_line (round 6) — vectorized nearest/farthest pair
# machinery shared with the distance kernel.
# ---------------------------------------------------------------------------

def _oriented_hausdorff(best: np.ndarray, ra, rb, mask, n):
    """max over vertices of ra of (min distance to rb), accumulated into
    ``best`` per geometry. rb's target set is its segments when it has
    any (line/polygon), else its vertices."""
    vx, vy, vg = _vert_arrays(ra, mask)
    if vg.size == 0:
        return
    # classify which rb geometries have segments
    sbx_a, sby_a, sbx_b, sby_b, gsb, _ = _seg_arrays(rb, mask)
    segful = np.zeros(n, dtype=bool)
    if gsb.size:
        segful[gsb] = True
    # per-vertex minimum distance
    vert_min = np.full(vx.size, np.inf)
    seg_side = segful[vg]
    if gsb.size and seg_side.any():
        iv, isg = _pair_products(vg, gsb, n)
        if iv.size:
            d2 = _point_seg_dist2(vx[iv], vy[iv], sbx_a[isg], sby_a[isg],
                                  sbx_b[isg], sby_b[isg])
            np.minimum.at(vert_min, iv, d2)
    if (~seg_side).any():
        wx, wy, wg = _vert_arrays(rb, mask & ~segful)
        if wg.size:
            iv, iw = _pair_products(vg, wg, n)
            if iv.size:
                d2 = (vx[iv] - wx[iw]) ** 2 + (vy[iv] - wy[iw]) ** 2
                np.minimum.at(vert_min, iv, d2)
    done = np.isfinite(vert_min)
    if done.any():
        np.maximum.at(best, vg[done], vert_min[done])


def hausdorff(r1: RaggedGeometry, r2: RaggedGeometry) -> np.ndarray:
    """Row-aligned discrete Hausdorff distance (JTS
    DiscreteHausdorffDistance semantics: vertices of each side against
    the full other geometry, symmetrized max). NaN for empty/missing.
    Exact for point/line inputs whose extreme is attained at a vertex —
    like JTS, an approximation (lower bound) for smooth polygon-polygon
    configurations."""
    n = len(r1)
    valid = (r1.gt != MISSING) & (r2.gt != MISSING) \
        & (np.diff(r1.coord_offsets) > 0) & (np.diff(r2.coord_offsets) > 0)
    best = np.full(n, -np.inf)
    if valid.any():
        _oriented_hausdorff(best, r1, r2, valid, n)
        _oriented_hausdorff(best, r2, r1, valid, n)
    out = np.sqrt(np.where(np.isfinite(best), np.maximum(best, 0.0), np.nan))
    return np.where(valid, out, np.nan)


def _nearest_candidates(ra, rb, mask, n, swap):
    """Candidate nearest pairs: every vertex of ra against every segment
    of rb (projection point) and, for segment-less rb, its vertices.
    Returns flat arrays (geom_idx, d2, ax, ay, bx, by) where (ax,ay) is
    the point on ra and (bx,by) on rb (swapped when ``swap``)."""
    outs = []
    vx, vy, vg = _vert_arrays(ra, mask)
    if vg.size:
        sax, say, sbx, sby, gs, _ = _seg_arrays(rb, mask)
        if gs.size:
            iv, isg = _pair_products(vg, gs, n)
            if iv.size:
                px, py = vx[iv], vy[iv]
                x1, y1 = sax[isg], say[isg]
                x2, y2 = sbx[isg], sby[isg]
                dx, dy = x2 - x1, y2 - y1
                ln2 = dx * dx + dy * dy
                t = np.where(ln2 > 0,
                             ((px - x1) * dx + (py - y1) * dy)
                             / np.where(ln2 > 0, ln2, 1.0), 0.0)
                t = np.clip(t, 0.0, 1.0)
                qx, qy = x1 + t * dx, y1 + t * dy
                d2 = (px - qx) ** 2 + (py - qy) ** 2
                outs.append((vg[iv], d2, px, py, qx, qy))
        # vertex-vertex for rb geoms without segments
        segful = np.zeros(n, dtype=bool)
        if gs.size:
            segful[gs] = True
        wx, wy, wg = _vert_arrays(rb, mask & ~segful)
        if wg.size:
            iv, iw = _pair_products(vg, wg, n)
            if iv.size:
                d2 = (vx[iv] - wx[iw]) ** 2 + (vy[iv] - wy[iw]) ** 2
                outs.append((vg[iv], d2, vx[iv], vy[iv], wx[iw], wy[iw]))
    if not outs:
        z = np.empty(0)
        return z.astype(np.int64), z, z, z, z, z
    g = np.concatenate([o[0] for o in outs])
    d2 = np.concatenate([o[1] for o in outs])
    ax = np.concatenate([o[2] for o in outs])
    ay = np.concatenate([o[3] for o in outs])
    bx = np.concatenate([o[4] for o in outs])
    by = np.concatenate([o[5] for o in outs])
    if swap:
        ax, ay, bx, by = bx, by, ax, ay
    return g, d2, ax, ay, bx, by


def shortest_line(r1: RaggedGeometry, r2: RaggedGeometry):
    """Row-aligned shortest connecting line (GEOS/GeoPandas
    ``shortest_line``): the 2-point LineString from the nearest point of
    g1 to the nearest point of g2. Intersecting pairs return a
    zero-length line at a shared point (a crossing-segment intersection
    point or a vertex of one geometry on/inside the other).

    Returns (ax, ay, bx, by, ok) float64/bool arrays — the UDF layer
    assembles the LineStrings (ok=False → null).
    """
    from .algos import distance_pair
    n = len(r1)
    valid = (r1.gt != MISSING) & (r2.gt != MISSING) \
        & (np.diff(r1.coord_offsets) > 0) & (np.diff(r2.coord_offsets) > 0)
    inter = intersects(r1, r2) & valid
    work = valid & ~inter
    ax = np.full(n, np.nan); ay = np.full(n, np.nan)
    bx = np.full(n, np.nan); by = np.full(n, np.nan)
    if work.any():
        g_a, d2_a, x1a, y1a, x2a, y2a = _nearest_candidates(
            r1, r2, work, n, swap=False)
        g_b, d2_b, x1b, y1b, x2b, y2b = _nearest_candidates(
            r2, r1, work, n, swap=True)
        g = np.concatenate([g_a, g_b]).astype(np.int64)
        if g.size:
            d2 = np.concatenate([d2_a, d2_b])
            cx1 = np.concatenate([x1a, x1b]); cy1 = np.concatenate([y1a, y1b])
            cx2 = np.concatenate([x2a, x2b]); cy2 = np.concatenate([y2a, y2b])
            order = np.lexsort((d2, g))
            gs = g[order]
            first = np.ones(gs.size, dtype=bool)
            first[1:] = gs[1:] != gs[:-1]
            pick = order[first]
            ax[g[pick]] = cx1[pick]; ay[g[pick]] = cy1[pick]
            bx[g[pick]] = cx2[pick]; by[g[pick]] = cy2[pick]
    # intersecting rows: find a shared point (rare, scalar path)
    for i in np.nonzero(inter)[0]:
        p = _shared_point(r1.geom(i), r2.geom(i))
        if p is not None:
            ax[i] = bx[i] = p[0]
            ay[i] = by[i] = p[1]
    ok = valid & np.isfinite(ax)
    return ax, ay, bx, by, ok


def _shared_point(g1, g2):
    """Some point shared by two intersecting geometries: a proper
    crossing of boundary segments, else a vertex of one on/inside the
    other (boundary-inclusive) — together these cover every intersecting
    configuration (overlap implies a boundary crossing or containment;
    containment/touch implies a vertex of one on/in the other)."""
    from .algos import _point_touches
    from .relate import _segments
    s1 = list(_segments(g1))
    s2 = list(_segments(g2))
    for a in s1:
        for b in s2:
            p = _seg_seg_point(*a, *b)
            if p is not None:
                return p
    _, x1, y1, _, _ = g1
    for px, py in zip(x1, y1):
        if _point_touches(px, py, g2):
            return (px, py)
    _, x2, y2, _, _ = g2
    for px, py in zip(x2, y2):
        if _point_touches(px, py, g1):
            return (px, py)
    return None


def _seg_seg_point(ax, ay, bx, by, cx, cy, dx, dy):
    """An intersection point of two segments, or None."""
    r1x, r1y = bx - ax, by - ay
    r2x, r2y = dx - cx, dy - cy
    den = r1x * r2y - r1y * r2x
    if den != 0:
        t = ((cx - ax) * r2y - (cy - ay) * r2x) / den
        u = ((cx - ax) * r1y - (cy - ay) * r1x) / den
        if -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
            return (ax + t * r1x, ay + t * r1y)
        return None
    # collinear/parallel: check endpoint containment
    for px, py in ((ax, ay), (bx, by)):
        if _pt_on_seg(px, py, cx, cy, dx, dy):
            return (px, py)
    for px, py in ((cx, cy), (dx, dy)):
        if _pt_on_seg(px, py, ax, ay, bx, by):
            return (px, py)
    return None


def _pt_on_seg(px, py, ax, ay, bx, by):
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    if abs(cross) > 1e-9 * max(1.0, abs(bx - ax) + abs(by - ay)):
        return False
    return (min(ax, bx) - 1e-12 <= px <= max(ax, bx) + 1e-12
            and min(ay, by) - 1e-12 <= py <= max(ay, by) + 1e-12)
