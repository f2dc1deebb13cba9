"""Catalyst-native geometry expressions over the GEOM struct.

Every function here returns a ``pyspark.sql.Column`` built purely from
Spark SQL higher-order functions (transform/aggregate/zip_with/slice) —
JVM-side, Catalyst-optimized, no Python workers. This is the engine's
answer to the reference's per-row Rust kernels (geopolars-geo/src/
geoseries.rs): same declared semantics, but expressed as vectorized
columnar expressions the Spark optimizer can fuse with the rest of the
plan.

Conventions:
- ``g`` arguments accept a column name or Column of GEOM_TYPE.
- NULL struct in → NULL out (missing geometry, reference MISSING=-1).
- Polygon rings are closed (first == last vertex), as in WKB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geom.ragged import (GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING,
                           MULTIPOINT, MULTIPOLYGON, POINT, POLYGON)

_EARTH_RADIUS_M = 6_371_008.8  # mean earth radius, as georust geo uses


def _g(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _lit(v):
    return v if isinstance(v, Column) else F.lit(v)


def _valid(g) -> Column:
    """Missing geometry = NULL struct OR null gt field (a pandas UDF cannot
    emit a null struct row through Arrow, so null-gt is the convention)."""
    return g.isNotNull() & g["gt"].isNotNull()



_EXPR_MEMO: dict = {}
_MEMO_CTX = None      # strong ref to the SparkContext the memo belongs to


def memo_col(key, builder) -> Column:
    """Memoize a constructed Column on (live SparkContext, key).

    Building a big expression tree is py4j gateway chatter — hundreds
    to thousands of round-trips (a contains_point tree ~700, an 8×64
    literal-centroid argmin ~3000). pyspark Columns are immutable
    unresolved expressions, freely reusable across DataFrames, so any
    builder parameterized only by hashable inputs (column NAMES,
    literal tuples) can pay construction once per session. The memo is
    scoped to the active SparkContext OBJECT: the module holds a strong
    reference to the context it cached for, so CPython cannot recycle
    that object's identity while entries exist, and any different
    context (a stop/restart) clears the whole memo — a restarted JVM
    never sees Columns bound to defunct py4j objects (ADVICE r7: the
    old ``id(sc)`` key could alias a recycled address)."""
    global _MEMO_CTX
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not _MEMO_CTX:
        _EXPR_MEMO.clear()
        _MEMO_CTX = sc
    col = _EXPR_MEMO.get(key)
    if col is None:
        col = builder()
        if len(_EXPR_MEMO) > 256:
            _EXPR_MEMO.clear()
        _EXPR_MEMO[key] = col
    return col


def _let(col: Column, fn) -> Column:
    """Bind an expression once as a higher-order-function lambda variable
    (Catalyst has no construction-time common-subexpression sharing, so a
    computed input referenced N times would otherwise be inlined N times —
    for a computed geometry like make_polygon(...) that multiplies the
    whole input tree into every reference and makes analysis quadratic)."""
    return F.element_at(F.transform(F.array(col), fn), 1)



def freeze(col) -> Column:
    """Optimizer-opaque identity: evaluate an EXPRESSION-BUILT geometry
    (st.make_polygon / st.geom_struct over numeric columns) ONCE per row
    even when many downstream expressions reference it. Catalyst has no
    construction-time common-subexpression sharing — a computed column
    referenced by N metrics is inlined N times, multiplying the whole
    construction tree (measured 6-16x on metric fan-outs and join
    distribute phases). shuffle() of a 1-element array is value-identity
    but non-deterministic, which blocks CollapseProject and predicate
    pushdown; a when(rand()>=-1,·) guard does NOT survive (the optimizer
    folds range-trivial rand comparisons). Use after building geometry
    that more than ~2 expressions will consume:

        df = df.withColumn("g", st.freeze(st.make_polygon(xs, ys)))
    """
    return F.element_at(F.shuffle(F.array(_g(col))), 1)


def _geom_fn(fn):
    """Decorator: bind the geometry argument once (see _let) before the
    body references it — keeps composed expressions like
    st.area(st.envelope(g)) linear in input size."""
    import functools

    @functools.wraps(fn)
    def wrapper(g, *args, **kwargs):
        return _let(_g(g), lambda gg: fn(gg, *args, **kwargs))
    return wrapper


def geom_struct(gt, xs, ys, rings, parts) -> Column:
    return F.struct(
        _lit(gt).cast("int").alias("gt"),
        xs.cast("array<double>").alias("xs"),
        ys.cast("array<double>").alias("ys"),
        rings.cast("array<int>").alias("rings"),
        parts.cast("array<int>").alias("parts"),
    )


def _seq0(n) -> Column:
    """[0, 1, ..., n-1] as array<int>; empty array when n <= 0."""
    return F.when(n > 0, F.sequence(F.lit(0), (n - F.lit(1)).cast("int"))) \
            .otherwise(F.array().cast("array<int>"))


def _offsets(arr) -> Column:
    """Running-sum offsets of an int array: [0, a0, a0+a1, ...]."""
    return F.aggregate(
        arr, F.array(F.lit(0)),
        lambda acc, v: F.concat(acc, F.array(F.element_at(acc, -1) + v)))


def _fsum(arr) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)


def _isum(arr) -> Column:
    return F.aggregate(arr, F.lit(0), lambda a, v: a + v)


# ---------------------------------------------------------------------------
# per-ring machinery
# ---------------------------------------------------------------------------

def _ring_x(g, co, i):
    """xs slice of ring i (0-based) given coord offsets array co."""
    return F.slice(g["xs"], F.element_at(co, i + 1) + 1,
                   F.element_at(g["rings"], i + 1))


def _ring_y(g, co, i):
    return F.slice(g["ys"], F.element_at(co, i + 1) + 1,
                   F.element_at(g["rings"], i + 1))


def _ring_signed_area(g, co, i):
    """0.5 * shoelace sum of closed ring i."""
    o = F.element_at(co, i + 1)
    n = F.element_at(g["rings"], i + 1)
    return _signed_area_span(g, o, n)


def _ring_length(g, co, i):
    o = F.element_at(co, i + 1)
    n = F.element_at(g["rings"], i + 1)
    return _length_span(g, o, n)


def _ring_ids(g):
    return _seq0(F.size(g["rings"]))


def _exterior_ring_ids(g):
    """Ring indexes that are the first (exterior) ring of their part."""
    return F.slice(_offsets(g["parts"]), 1, F.size(g["parts"]))


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def _signed_area_span(g, o, n):
    """0.5 * shoelace over coords [o, o+n) (o 0-based Column/int) —
    ONE aggregate carrying both shoelace partial sums (the prior
    shape materialized four slice arrays + two zip_withs per
    evaluation; HOFs are CodegenFallback, r8). Each sum accumulates
    in the same left-to-right order as before — bit-identical."""
    idx = F.when(n >= 2, F.sequence((o + 1).cast("int"),
                                    (o + n - 1).cast("int"))) \
           .otherwise(F.array().cast("array<int>"))
    acc = F.aggregate(
        idx,
        F.struct(F.lit(0.0).alias("a"), F.lit(0.0).alias("b")),
        lambda s, i: F.struct(
            (s["a"] + F.element_at(g["xs"], i)
             * F.element_at(g["ys"], i + 1)).alias("a"),
            (s["b"] + F.element_at(g["xs"], i + 1)
             * F.element_at(g["ys"], i)).alias("b")),
        lambda s: F.lit(0.5) * (s["a"] - s["b"]))
    return acc


def _area_core(g) -> Column:
    """Polygon-family area machinery (no GC branch — see ``area``)."""
    co = _offsets(g["rings"])
    ext = _exterior_ring_ids(g)
    terms = F.transform(
        _ring_ids(g),
        lambda i: _let(
            F.abs(_ring_signed_area(g, co, i)),
            lambda ar: F.when(F.array_contains(ext, i), ar)
                        .otherwise(-ar)))
    single = F.abs(_signed_area_span(g, F.lit(0), F.size(g["xs"])))
    return F.when(
        g["gt"].isin(POLYGON, MULTIPOLYGON),
        F.when(F.size(g["rings"]) == 1, single).otherwise(_fsum(terms))) \
        .otherwise(F.lit(0.0))


@_geom_fn
def area(g) -> Column:
    """Planar area (exterior rings +, holes −, orientation-insensitive).

    Reference semantics: geoseries.rs:16-19 (unsigned area, CRS units).
    Single-ring polygons (the dominant case) skip the ring-offsets
    machinery — the whole coordinate arrays are the ring.
    GeometryCollections (gt=7, round 6) sum their polygon parts' areas
    (GEOS semantics). ONE unified per-part walk serves plain Multi* and
    GC rows — the typed-parts decode (sub·GC_SHIFT + nrings) is the
    identity on plain parts arrays, so no duplicated branch tree (a
    separate dump_parts-based GC branch cost +30% on NON-GC rows from
    generated-code bloat alone)."""
    from ..geom.ragged import GC_SHIFT
    co = _offsets(g["rings"])
    nr = F.transform(g["parts"], lambda e: e % GC_SHIFT)
    ext = F.slice(_offsets(nr), 1, F.size(g["parts"]))
    ring_sub = F.flatten(F.transform(
        g["parts"],
        lambda e: F.array_repeat((e / GC_SHIFT).cast("int"),
                                 (e % GC_SHIFT).cast("int"))))
    terms = F.transform(
        _ring_ids(g),
        lambda i: F.when((g["gt"] == 7)
                         & (F.element_at(ring_sub, i + 1) != POLYGON),
                         F.lit(0.0))
                   .otherwise(_let(
                       F.abs(_ring_signed_area(g, co, i)),
                       lambda ar: F.when(F.array_contains(ext, i), ar)
                                   .otherwise(-ar))))
    multi = _fsum(terms)
    single = F.abs(_signed_area_span(g, F.lit(0), F.size(g["xs"])))
    val = (F.when(g["gt"].isin(POLYGON, MULTIPOLYGON)
                  & (F.size(g["rings"]) == 1), single)
            .when(g["gt"].isin(POLYGON, MULTIPOLYGON, 7), multi)
            .otherwise(F.lit(0.0)))
    return F.when(_valid(g), val)


def _length_span(g, o, n):
    """Sum of segment lengths over vertices [o+1, o+n] (1-based) — ONE
    aggregate scan over the segment indices, zero intermediate arrays
    (the prior 3×zip_with+fold shape materialized three; HOFs are
    CodegenFallback, so each array was real per-row time, r8).
    Summation order is segment order — bit-identical to the old
    form."""
    idx = F.when(n >= 2, F.sequence((o + 1).cast("int"),
                                    (o + n - 1).cast("int"))) \
           .otherwise(F.array().cast("array<int>"))
    return F.aggregate(
        idx, F.lit(0.0),
        lambda acc, i: acc + _let(
            F.struct((F.element_at(g["xs"], i + 1)
                      - F.element_at(g["xs"], i)).alias("dx"),
                     (F.element_at(g["ys"], i + 1)
                      - F.element_at(g["ys"], i)).alias("dy")),
            lambda d: F.sqrt(d["dx"] * d["dx"] + d["dy"] * d["dy"])))


def _length_core(g) -> Column:
    """Line/polygon length machinery (no GC branch — see ``length``)."""
    co = _offsets(g["rings"])
    ext = _exterior_ring_ids(g)
    all_rings = _fsum(F.transform(_ring_ids(g),
                                  lambda i: _ring_length(g, co, i)))
    ext_rings = _fsum(F.transform(
        _ring_ids(g),
        lambda i: F.when(F.array_contains(ext, i), _ring_length(g, co, i))
                   .otherwise(F.lit(0.0))))
    single = _length_span(g, F.lit(0), F.size(g["xs"]))
    one_ring = F.size(g["rings"]) == 1
    return (F.when(g["gt"].isin(LINESTRING, MULTILINESTRING),
                   F.when(one_ring, single).otherwise(all_rings))
             .when(g["gt"].isin(POLYGON, MULTIPOLYGON),
                   F.when(one_ring, single).otherwise(ext_rings))
             .otherwise(F.lit(0.0)))


@_geom_fn
def length(g) -> Column:
    """Planar length: lines → total; polygons → exterior rings only
    (reference doc geoseries.rs:41-46); points → 0. Single-ring
    fast path skips the offsets machinery. GeometryCollections sum
    their parts (round 6, GEOS semantics). Same unified per-part walk
    as ``area`` — one tree for plain Multi* and GC rows."""
    from ..geom.ragged import GC_SHIFT
    co = _offsets(g["rings"])
    nr = F.transform(g["parts"], lambda e: e % GC_SHIFT)
    ext = F.slice(_offsets(nr), 1, F.size(g["parts"]))
    ring_sub = F.flatten(F.transform(
        g["parts"],
        lambda e: F.array_repeat((e / GC_SHIFT).cast("int"),
                                 (e % GC_SHIFT).cast("int"))))

    def want_ring(i):
        line = F.when(g["gt"] == 7,
                      F.element_at(ring_sub, i + 1) == LINESTRING) \
                .otherwise(g["gt"].isin(LINESTRING, MULTILINESTRING))
        poly = F.when(g["gt"] == 7,
                      F.element_at(ring_sub, i + 1) == POLYGON) \
                .otherwise(g["gt"].isin(POLYGON, MULTIPOLYGON))
        return line | (poly & F.array_contains(ext, i))

    terms = F.transform(
        _ring_ids(g),
        lambda i: F.when(want_ring(i), _ring_length(g, co, i))
                   .otherwise(F.lit(0.0)))
    multi = _fsum(terms)
    single = _length_span(g, F.lit(0), F.size(g["xs"]))
    val = (F.when(g["gt"].isin(LINESTRING, MULTILINESTRING, POLYGON,
                               MULTIPOLYGON)
                  & (F.size(g["rings"]) == 1), single)
            .when(g["gt"].isin(LINESTRING, MULTILINESTRING, POLYGON,
                               MULTIPOLYGON, 7), multi)
            .otherwise(F.lit(0.0)))
    return F.when(_valid(g), val)


@_geom_fn
def geodesic_length_haversine(g) -> Column:
    """Great-circle length (meters) of lon/lat geometries via per-segment
    haversine on the mean-radius sphere — fully native (reference:
    HaversineLength, geoseries.rs:58-71 / geo.rs:64-72).

    Single-ring geometries (every LineString — the dominant case) skip
    the ring-offsets machinery entirely: the whole coordinate arrays ARE
    the ring."""
    def hav_over(o, n):
        lon1 = F.transform(F.slice(g["xs"], o + 1, n - 1), F.radians)
        lon2 = F.transform(F.slice(g["xs"], o + 2, n - 1), F.radians)
        lat1 = F.transform(F.slice(g["ys"], o + 1, n - 1), F.radians)
        lat2 = F.transform(F.slice(g["ys"], o + 2, n - 1), F.radians)
        sdlat = F.zip_with(lat2, lat1, lambda a, b: F.sin((a - b) / 2))
        sdlon = F.zip_with(lon2, lon1, lambda a, b: F.sin((a - b) / 2))
        coscos = F.zip_with(lat1, lat2, lambda a, b: F.cos(a) * F.cos(b))
        h = F.zip_with(F.zip_with(sdlat, sdlon,
                                  lambda sa, sb: F.struct(sa.alias("sa"),
                                                          sb.alias("sb"))),
                       coscos,
                       lambda s, cc: s["sa"] * s["sa"] + cc * s["sb"] * s["sb"])
        return _fsum(F.transform(
            h, lambda x: F.lit(2.0 * _EARTH_RADIUS_M)
            * F.asin(F.least(F.lit(1.0), F.sqrt(x)))))

    co = _offsets(g["rings"])

    def ring_hav(i):
        return hav_over(F.element_at(co, i + 1),
                        F.element_at(g["rings"], i + 1))

    single = hav_over(F.lit(0), F.size(g["xs"]))
    general = _fsum(F.transform(_ring_ids(g), ring_hav))
    return F.when(_valid(g),
                  F.when(F.size(g["rings"]) == 1, single)
                   .otherwise(general))


def bounds(g):
    """4 columns xmin/ymin/xmax/ymax (null for missing/empty)."""
    g = _g(g)
    ne = F.size(g["xs"]) > 0
    return (F.when(ne, F.array_min(g["xs"])),
            F.when(ne, F.array_min(g["ys"])),
            F.when(ne, F.array_max(g["xs"])),
            F.when(ne, F.array_max(g["ys"])))


@_geom_fn
def envelope(g) -> Column:
    """Axis-aligned bounding geometry: polygon; degenerates to line/point
    (reference doc geoseries.rs:33-39; shapely-compatible collapse)."""
    xmin, ymin, xmax, ymax = bounds(g)
    pt = point(xmin, ymin)
    line = geom_struct(F.lit(LINESTRING), F.array(xmin, xmax),
                       F.array(ymin, ymax), F.array(F.lit(2)),
                       F.array(F.lit(1)))
    poly = make_envelope(xmin, ymin, xmax, ymax)
    return F.when(
        _valid(g) & (F.size(g["xs"]) > 0),
        F.when((xmin == xmax) & (ymin == ymax), pt)
         .when((xmin == xmax) | (ymin == ymax), line)
         .otherwise(poly))


def total_bounds_agg(g):
    """Aggregate expressions [min x, min y, max x, max y] over a frame
    (GeoPandas total_bounds; reference roadmap geoseries.rst:22)."""
    g = _g(g)
    xmin, ymin, xmax, ymax = bounds(g)
    return (F.min(xmin).alias("xmin"), F.min(ymin).alias("ymin"),
            F.max(xmax).alias("xmax"), F.max(ymax).alias("ymax"))


def _centroid_single_poly(g) -> Column:
    """(cx, cy) struct for a single-ring polygon — no offsets machinery,
    every intermediate shared: the generic path re-embedded the full
    line+polygon aggregate trees in BOTH output coordinates, which at
    interpreted-HOF cost measured ~0.5 ms/row; this form is ~18x
    faster (r7). Degenerate zero-area rings fall back to the vertex
    mean, matching the generic path's `otherwise(mean)`."""
    def build(gg):
        n1 = F.size(gg["xs"]) - 1
        xc = F.slice(gg["xs"], 1, n1)
        xn = F.slice(gg["xs"], 2, n1)
        yc = F.slice(gg["ys"], 1, n1)
        yn = F.slice(gg["ys"], 2, n1)
        cr = F.zip_with(F.zip_with(xc, yn, lambda x, y: x * y),
                        F.zip_with(xn, yc, lambda x, y: x * y),
                        lambda a, b: a - b)
        s = F.lit(0.5) * _fsum(cr)
        gx = _fsum(F.zip_with(F.zip_with(xc, xn, lambda a, b: a + b),
                              cr, lambda a, c: a * c))
        gy = _fsum(F.zip_with(F.zip_with(yc, yn, lambda a, b: a + b),
                              cr, lambda a, c: a * c))
        mean_x = _fsum(gg["xs"]) / F.size(gg["xs"])
        mean_y = _fsum(gg["ys"]) / F.size(gg["ys"])
        return F.struct(
            F.when(s != 0, gx / (F.lit(6.0) * s)).otherwise(mean_x)
             .alias("cx"),
            F.when(s != 0, gy / (F.lit(6.0) * s)).otherwise(mean_y)
             .alias("cy"))
    return _let(g, build)


def _centroid_single_line(g) -> Column:
    """(cx, cy) struct for a single-part linestring — length-weighted
    segment midpoints without the ring-offsets machinery (r7)."""
    def build(gg):
        n1 = F.size(gg["xs"]) - 1
        xc = F.slice(gg["xs"], 1, n1)
        xn = F.slice(gg["xs"], 2, n1)
        yc = F.slice(gg["ys"], 1, n1)
        yn = F.slice(gg["ys"], 2, n1)
        seg = F.zip_with(
            F.zip_with(xn, xc, lambda a, b: (a - b) * (a - b)),
            F.zip_with(yn, yc, lambda a, b: (a - b) * (a - b)),
            lambda a, b: F.sqrt(a + b))
        w = _fsum(seg)
        wx = _fsum(F.zip_with(seg, F.zip_with(xc, xn,
                                              lambda a, b: (a + b) / 2),
                              lambda s, m: s * m))
        wy = _fsum(F.zip_with(seg, F.zip_with(yc, yn,
                                              lambda a, b: (a + b) / 2),
                              lambda s, m: s * m))
        mean_x = _fsum(gg["xs"]) / F.size(gg["xs"])
        mean_y = _fsum(gg["ys"]) / F.size(gg["ys"])
        return F.struct(
            F.when(w > 0, wx / w).otherwise(mean_x).alias("cx"),
            F.when(w > 0, wy / w).otherwise(mean_y).alias("cy"))
    return _let(g, build)


@_geom_fn
def centroid(g) -> Column:
    """Centroid point, GEOS semantics per dimension class (reference
    geoseries.rs:21-24). Single-ring polygons and single-part lines
    (the dominant cases) take dedicated shared-subtree fast paths; the
    generic multi-ring machinery binds its aggregate struct once for
    both coordinates instead of re-embedding it per coordinate (r7 —
    the old per-coordinate inlining measured ~0.5 ms/row interpreted)."""
    co = _offsets(g["rings"])
    ext = _exterior_ring_ids(g)
    npts = F.size(g["xs"])

    mean_x = _fsum(g["xs"]) / npts
    mean_y = _fsum(g["ys"]) / npts

    # --- line: length-weighted segment midpoints --------------------------
    def ring_wsum(i):
        o = F.element_at(co, i + 1)
        n = F.element_at(g["rings"], i + 1)
        dx2 = F.zip_with(F.slice(g["xs"], o + 2, n - 1),
                         F.slice(g["xs"], o + 1, n - 1),
                         lambda a, b: (a - b) * (a - b))
        dy2 = F.zip_with(F.slice(g["ys"], o + 2, n - 1),
                         F.slice(g["ys"], o + 1, n - 1),
                         lambda a, b: (a - b) * (a - b))
        seg = F.zip_with(dx2, dy2, lambda a, b: F.sqrt(a + b))
        midx = F.zip_with(F.slice(g["xs"], o + 1, n - 1),
                          F.slice(g["xs"], o + 2, n - 1),
                          lambda a, b: (a + b) / 2)
        midy = F.zip_with(F.slice(g["ys"], o + 1, n - 1),
                          F.slice(g["ys"], o + 2, n - 1),
                          lambda a, b: (a + b) / 2)
        return F.struct(
            _fsum(F.zip_with(seg, midx, lambda s, m: s * m)).alias("wx"),
            _fsum(F.zip_with(seg, midy, lambda s, m: s * m)).alias("wy"),
            _fsum(seg).alias("w"))

    lsum = F.aggregate(
        F.transform(_ring_ids(g), ring_wsum),
        F.struct(F.lit(0.0).alias("wx"), F.lit(0.0).alias("wy"),
                 F.lit(0.0).alias("w")),
        lambda a, v: F.struct((a["wx"] + v["wx"]).alias("wx"),
                              (a["wy"] + v["wy"]).alias("wy"),
                              (a["w"] + v["w"]).alias("w")))

    # --- polygon: area-weighted ring centroids (holes negative) ----------
    def ring_poly(i):
        o = F.element_at(co, i + 1)
        n = F.element_at(g["rings"], i + 1)
        xc = F.slice(g["xs"], o + 1, n - 1)
        xn = F.slice(g["xs"], o + 2, n - 1)
        yc = F.slice(g["ys"], o + 1, n - 1)
        yn = F.slice(g["ys"], o + 2, n - 1)
        axy = F.zip_with(xc, yn, lambda x, y: x * y)
        bxy = F.zip_with(xn, yc, lambda x, y: x * y)
        cr = F.zip_with(axy, bxy, lambda a, b: a - b)
        s = F.lit(0.5) * _fsum(cr)
        sumx = F.zip_with(xc, xn, lambda a, b: a + b)
        sumy = F.zip_with(yc, yn, lambda a, b: a + b)
        # zero-area ring (degenerate/self-cancelling, e.g. a symmetric
        # bowtie): its weight aeff is 0, so its gx/gy never contribute —
        # but the division must still be guarded (ANSI div-by-zero)
        gx = F.when(s != 0, _fsum(F.zip_with(sumx, cr, lambda a, c: a * c))
                    / (F.lit(6.0) * s)).otherwise(F.lit(0.0))
        gy = F.when(s != 0, _fsum(F.zip_with(sumy, cr, lambda a, c: a * c))
                    / (F.lit(6.0) * s)).otherwise(F.lit(0.0))
        aeff = F.when(F.array_contains(ext, i), F.abs(s)).otherwise(-F.abs(s))
        return F.struct((gx * aeff).alias("wx"), (gy * aeff).alias("wy"),
                        aeff.alias("a"))

    psum = F.aggregate(
        F.transform(_ring_ids(g), ring_poly),
        F.struct(F.lit(0.0).alias("wx"), F.lit(0.0).alias("wy"),
                 F.lit(0.0).alias("a")),
        lambda a, v: F.struct((a["wx"] + v["wx"]).alias("wx"),
                              (a["wy"] + v["wy"]).alias("wy"),
                              (a["a"] + v["a"]).alias("a")))

    one_ring = F.size(g["rings"]) == 1
    pair = (F.when(g["gt"].isin(POINT, MULTIPOINT),
                   F.struct(mean_x.alias("cx"), mean_y.alias("cy")))
            .when(g["gt"].isin(LINESTRING, MULTILINESTRING) & one_ring,
                  _centroid_single_line(g))
            .when(g["gt"].isin(LINESTRING, MULTILINESTRING),
                  _let(lsum, lambda lz: F.struct(
                      F.when(lz["w"] > 0, lz["wx"] / lz["w"])
                       .otherwise(mean_x).alias("cx"),
                      F.when(lz["w"] > 0, lz["wy"] / lz["w"])
                       .otherwise(mean_y).alias("cy"))))
            .when(g["gt"].isin(POLYGON, MULTIPOLYGON) & one_ring,
                  _centroid_single_poly(g))
            .otherwise(_let(psum, lambda pz: F.struct(
                F.when(pz["a"] != 0, pz["wx"] / pz["a"])
                 .otherwise(mean_x).alias("cx"),
                F.when(pz["a"] != 0, pz["wy"] / pz["a"])
                 .otherwise(mean_y).alias("cy")))))
    return F.when(_valid(g) & (npts > 0),
                  _let(pair, lambda c: point(c["cx"], c["cy"])))


# ---------------------------------------------------------------------------
# accessors / predicates
# ---------------------------------------------------------------------------

@_geom_fn
def x(g) -> Column:
    """x of Point geometries, null otherwise — POINT EMPTY included
    (reference geoseries.rs:177)."""
    return F.when(g["gt"] == POINT, F.try_element_at(g["xs"], F.lit(1)))


@_geom_fn
def y(g) -> Column:
    return F.when(g["gt"] == POINT, F.try_element_at(g["ys"], F.lit(1)))


def geom_type_id(g) -> Column:
    """pygeos-compatible id; -1 for null (reference enums.py:4-15 /
    geoseries.rs:60-73)."""
    g = _g(g)
    return F.coalesce(g["gt"], F.lit(-1))


@_geom_fn
def geom_type_name(g) -> Column:
    m = F.create_map(
        *[F.lit(v) for kv in
          [(POINT, "Point"), (LINESTRING, "LineString"), (2, "LinearRing"),
           (POLYGON, "Polygon"), (MULTIPOINT, "MultiPoint"),
           (MULTILINESTRING, "MultiLineString"),
           (MULTIPOLYGON, "MultiPolygon"),
           (7, "GeometryCollection")] for v in kv])
    return m[g["gt"]]


@_geom_fn
def is_empty(g) -> Column:
    return F.when(_valid(g), F.size(g["xs"]) == 0)


@_geom_fn
def is_ring(g) -> Column:
    """Closed linestring (reference geoseries.rs:76-83: 'true for closed
    features'; simplicity is not checked — documented deviation)."""
    n = F.size(g["xs"])
    closed = ((F.element_at(g["xs"], 1) == F.element_at(g["xs"], -1))
              & (F.element_at(g["ys"], 1) == F.element_at(g["ys"], -1))
              & (n >= 4))
    return F.when(_valid(g),
                  F.when(g["gt"] == LINESTRING, closed)
                   .when(g["gt"] == 2, F.lit(True))
                   .otherwise(F.lit(False)))


@_geom_fn
def exterior(g) -> Column:
    """Outer LinearRing of polygons as a LineString; null for other types
    (reference geoseries.rs:47)."""
    n0 = F.element_at(g["rings"], 1)
    return F.when(
        (g["gt"] == POLYGON) & (F.size(g["rings"]) >= 1),
        geom_struct(F.lit(LINESTRING), F.slice(g["xs"], 1, n0),
                    F.slice(g["ys"], 1, n0), F.array(n0),
                    F.array(F.lit(1))))


def _ring_segments(g, co, i):
    """array<struct<x1,y1,x2,y2>> of the closed ring i's segments."""
    o = F.element_at(co, i + 1)
    n = F.element_at(g["rings"], i + 1)
    x1 = F.slice(g["xs"], o + 1, n - 1)
    x2 = F.slice(g["xs"], o + 2, n - 1)
    y1 = F.slice(g["ys"], o + 1, n - 1)
    y2 = F.slice(g["ys"], o + 2, n - 1)
    return F.zip_with(
        F.zip_with(x1, y1, lambda a, b: F.struct(a.alias("x1"),
                                                 b.alias("y1"))),
        F.zip_with(x2, y2, lambda a, b: F.struct(a.alias("x2"),
                                                 b.alias("y2"))),
        lambda s1, s2: F.struct(s1["x1"].alias("x1"), s1["y1"].alias("y1"),
                                s2["x2"].alias("x2"), s2["y2"].alias("y2")))


@_geom_fn
def contains_point(g, px, py) -> Column:
    """Ray-cast even-odd point-in-polygon, all rings (holes handled by
    parity), boundary-EXCLUSIVE: matches the reference's refine step,
    which delegates both point/polygon predicate orders to geo's
    polygon.contains(point) — interior only (spatial_index.rs:91-96);
    the F5 fixture's on-edge point (0,10) must NOT match."""
    px, py = _lit(px), _lit(py)
    co = _offsets(g["rings"])

    def ring_crossings(i):
        seg = _ring_segments(g, co, i)
        return _isum(F.transform(
            seg,
            lambda s: F.when(
                ((s["y1"] > py) != (s["y2"] > py))
                & (px < s["x1"] + (py - s["y1"]) * (s["x2"] - s["x1"])
                   / (s["y2"] - s["y1"])),
                F.lit(1)).otherwise(F.lit(0))))

    def ring_on_boundary(i):
        seg = _ring_segments(g, co, i)
        return F.exists(
            seg,
            lambda s: ((px - s["x1"]) * (s["y2"] - s["y1"])
                       == (py - s["y1"]) * (s["x2"] - s["x1"]))
            & (px >= F.least(s["x1"], s["x2"]))
            & (px <= F.greatest(s["x1"], s["x2"]))
            & (py >= F.least(s["y1"], s["y2"]))
            & (py <= F.greatest(s["y1"], s["y2"])))

    def span_segments(o, n):
        x1 = F.slice(g["xs"], o + 1, n - 1)
        x2 = F.slice(g["xs"], o + 2, n - 1)
        y1 = F.slice(g["ys"], o + 1, n - 1)
        y2 = F.slice(g["ys"], o + 2, n - 1)
        return F.zip_with(
            F.zip_with(x1, y1, lambda a, b: F.struct(a.alias("x1"),
                                                     b.alias("y1"))),
            F.zip_with(x2, y2, lambda a, b: F.struct(a.alias("x2"),
                                                     b.alias("y2"))),
            lambda s1, s2: F.struct(s1["x1"].alias("x1"),
                                    s1["y1"].alias("y1"),
                                    s2["x2"].alias("x2"),
                                    s2["y2"].alias("y2")))

    def crossings_of(seg):
        return _isum(F.transform(
            seg,
            lambda s: F.when(
                ((s["y1"] > py) != (s["y2"] > py))
                & (px < s["x1"] + (py - s["y1"]) * (s["x2"] - s["x1"])
                   / (s["y2"] - s["y1"])),
                F.lit(1)).otherwise(F.lit(0))))

    def boundary_of(seg):
        return F.exists(
            seg,
            lambda s: ((px - s["x1"]) * (s["y2"] - s["y1"])
                       == (py - s["y1"]) * (s["x2"] - s["x1"]))
            & (px >= F.least(s["x1"], s["x2"]))
            & (px <= F.greatest(s["x1"], s["x2"]))
            & (py >= F.least(s["y1"], s["y2"]))
            & (py <= F.greatest(s["y1"], s["y2"])))

    total = _isum(F.transform(_ring_ids(g), ring_crossings))
    on_bdy = F.exists(_ring_ids(g), ring_on_boundary)
    multi_ring = ((total % 2) == 1) & ~on_bdy
    # single-ring fast path (most polygons): segments built once from
    # the whole arrays, no offsets machinery
    single_seg = span_segments(F.lit(0), F.size(g["xs"]))
    single_ring = _let(
        single_seg,
        lambda seg: ((crossings_of(seg) % 2) == 1) & ~boundary_of(seg))
    general = F.when(F.size(g["rings"]) == 1, single_ring) \
               .otherwise(multi_ring)

    # Fast path 1: axis-aligned rectangle (5-vertex single closed ring
    # whose bbox corners are exactly its vertex set — envelopes,
    # make_envelope output, tiles). Interior test is two interval
    # comparisons instead of the segment machinery: ~50x cheaper in
    # interpreted evaluation, which dominates large point-in-polygon
    # joins.
    xs, ys = g["xs"], g["ys"]
    x0, y0 = F.array_min(xs), F.array_min(ys)
    x1, y1 = F.array_max(xs), F.array_max(ys)
    # each edge must change exactly one axis (rules out bbox-cornered
    # bowties like (0,0)-(1,1)-(0,1)-(1,0), which pass the corner check
    # but are not rectangles)
    rectilinear = F.forall(
        F.zip_with(
            F.zip_with(F.slice(xs, 1, 4), F.slice(xs, 2, 4),
                       lambda a, b: a == b),
            F.zip_with(F.slice(ys, 1, 4), F.slice(ys, 2, 4),
                       lambda a, b: a == b),
            lambda ex, ey: ex != ey),
        lambda v: v)
    is_rect = (
        (F.size(g["rings"]) == 1) & (F.size(xs) == 5)
        & F.forall(xs, lambda v: (v == x0) | (v == x1))
        & F.forall(ys, lambda v: (v == y0) | (v == y1))
        & rectilinear)
    rect_inside = (px > x0) & (px < x1) & (py > y0) & (py < y1)

    return F.when(_valid(g) & px.isNotNull() & py.isNotNull(),
                  F.when(is_rect, rect_inside).otherwise(general))


def bbox_intersects(g1, g2) -> Column:
    ax0, ay0, ax1, ay1 = bounds(_g(g1))
    bx0, by0, bx1, by1 = bounds(_g(g2))
    return (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)


def dwithin_points(g1, g2, d) -> Column:
    """distance(point, point) <= d, fully native."""
    g1, g2 = _g(g1), _g(g2)
    dx = x(g1) - x(g2)
    dy = y(g1) - y(g2)
    return (dx * dx + dy * dy) <= _lit(d) * _lit(d)


def distance_points(g1, g2) -> Column:
    g1, g2 = _g(g1), _g(g2)
    dx = x(g1) - x(g2)
    dy = y(g1) - y(g2)
    return F.sqrt(dx * dx + dy * dy)


@_geom_fn
def boundary(g) -> Column:
    """Topological boundary (reference roadmap geoseries.rst:20):
    polygon → its rings as (Multi)LineString; line → endpoint MultiPoint
    (empty if closed); point → empty GeometryCollection is approximated
    as empty MultiPoint (2D engine, no GC in the ragged encoding)."""
    co = _offsets(g["rings"])
    nrings = F.size(g["rings"])
    poly_b = geom_struct(
        F.when(nrings == 1, F.lit(LINESTRING)).otherwise(F.lit(MULTILINESTRING)),
        g["xs"], g["ys"], g["rings"],
        F.transform(g["rings"], lambda _: F.lit(1)))
    n = F.size(g["xs"])
    closed = ((F.element_at(g["xs"], 1) == F.element_at(g["xs"], -1))
              & (F.element_at(g["ys"], 1) == F.element_at(g["ys"], -1)))
    line_b = F.when(
        closed,
        geom_struct(F.lit(MULTIPOINT), F.array().cast("array<double>"),
                    F.array().cast("array<double>"),
                    F.array().cast("array<int>"),
                    F.array().cast("array<int>"))) \
        .otherwise(geom_struct(
            F.lit(MULTIPOINT),
            F.array(F.element_at(g["xs"], 1), F.element_at(g["xs"], -1)),
            F.array(F.element_at(g["ys"], 1), F.element_at(g["ys"], -1)),
            F.array(F.lit(1), F.lit(1)), F.array(F.lit(1), F.lit(1))))
    empty_b = geom_struct(F.lit(MULTIPOINT), F.array().cast("array<double>"),
                          F.array().cast("array<double>"),
                          F.array().cast("array<int>"),
                          F.array().cast("array<int>"))
    return F.when(
        _valid(g),
        F.when(g["gt"].isin(POLYGON, MULTIPOLYGON), poly_b)
         .when(g["gt"].isin(LINESTRING, MULTILINESTRING), line_b)
         .otherwise(empty_b))


@_geom_fn
def interiors(g) -> Column:
    """array<GEOM> of interior rings (holes) of a Polygon as LineStrings
    (reference roadmap geoseries.rst:27); empty for other types."""
    co = _offsets(g["rings"])
    ring_ids = _ring_ids(g)
    ext = _exterior_ring_ids(g)
    holes = F.filter(ring_ids, lambda i: ~F.array_contains(ext, i))
    return F.when(_valid(g), F.transform(
        holes,
        lambda i: geom_struct(
            F.lit(LINESTRING), _ring_x(g, co, i), _ring_y(g, co, i),
            F.array(F.element_at(g["rings"], i + 1)),
            F.array(F.lit(1)))))


def z(g, carries_z: bool = False) -> Column:
    """Z ordinate of POINT geometries (reference roadmap
    geoseries.rst:32). The compute kernels are 2D; Z rides the
    optional Z geometry struct produced by
    ``st.from_wkb(keep_z=True)`` / ``st.point_z`` (r12, VERDICT r11
    #4). Pass ``carries_z=True`` when the column IS the 6-field Z
    struct — Spark columns are schema-less at expression-build time,
    so the 2D default cannot reference the ``zs`` field without
    failing analysis on plain 2D geometry columns (null there, as
    before)."""
    g = _g(g)
    if not carries_z:
        return F.when(_valid(g), F.lit(None).cast("double"))
    from ..geom.ragged import POINT as _PT
    return F.when(
        _valid(g) & g["zs"].isNotNull() & (g["gt"] == _PT),
        F.element_at(g["zs"], 1)).cast("double")


def has_z(g, carries_z: bool = False) -> Column:
    """True where the cell carries a Z ordinate (geoseries.rst:44) —
    always False on plain 2D geometry columns; pass ``carries_z=True``
    for the 6-field Z struct (see :func:`z`)."""
    g = _g(g)
    if not carries_z:
        return F.when(_valid(g), F.lit(False))
    return F.when(_valid(g), g["zs"].isNotNull())


def force_2d(g) -> Column:
    """Project any geometry struct to the plain 2D shape (drops the
    ``zs`` field if present — the explicit opt-in the reference's
    ``force_2d`` read arg performs, io/file.py:22). Analyzes against
    BOTH struct shapes (field access by name)."""
    g = _g(g)
    return F.when(_valid(g), geom_struct(
        g["gt"], g["xs"], g["ys"], g["rings"], g["parts"]))


def point_z(px, py, pz) -> Column:
    """3D point constructor → the Z geometry struct (r12). The 2D
    kernels read its first five fields; ``st.to_wkb`` emits ISO WKB Z
    from it and ``st.z``/``st.has_z`` (carries_z=True) read it."""
    px, py, pz = _lit(px), _lit(py), _lit(pz)
    return F.when(
        px.isNotNull() & py.isNotNull() & pz.isNotNull(),
        F.struct(
            F.lit(POINT).cast("int").alias("gt"),
            F.array(px).cast("array<double>").alias("xs"),
            F.array(py).cast("array<double>").alias("ys"),
            F.array(F.lit(1)).cast("array<int>").alias("rings"),
            F.array(F.lit(1)).cast("array<int>").alias("parts"),
            F.array(pz).cast("array<double>").alias("zs")))


def geom_equals_exact(g1, g2) -> Column:
    """Exact coordinate-sequence equality (type + coords + structure) —
    GeoPandas ``geom_equals_exact``-style strict compare. The
    rotation/orientation/part-order-invariant compare is
    ``st.geom_equals`` (udfs.geom_equals → algos.equals_pair)."""
    g1, g2 = _g(g1), _g(g2)
    return F.when(
        _valid(g1) & _valid(g2),
        (g1["gt"] == g2["gt"]) & (g1["xs"] == g2["xs"])
        & (g1["ys"] == g2["ys"]) & (g1["rings"] == g2["rings"])
        & (g1["parts"] == g2["parts"]))


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------

def point(px, py) -> Column:
    px, py = _lit(px), _lit(py)
    return F.when(
        px.isNotNull() & py.isNotNull(),
        geom_struct(F.lit(POINT), F.array(px), F.array(py),
                    F.array(F.lit(1)), F.array(F.lit(1))))


def make_line(xs_arr, ys_arr) -> Column:
    """LineString from two aligned array<double> columns."""
    xs_arr, ys_arr = _lit(xs_arr), _lit(ys_arr)
    return F.when(
        xs_arr.isNotNull() & ys_arr.isNotNull(),
        geom_struct(F.lit(LINESTRING), xs_arr, ys_arr,
                    F.array(F.size(xs_arr)), F.array(F.lit(1))))


def make_polygon(xs_arr, ys_arr) -> Column:
    """Single-ring polygon from aligned coordinate arrays; the ring is
    closed automatically if open.

    NB: the coordinate arrays are bound ONCE via _let before the closed
    test / slice reference them — with computed arrays the duplicated
    subtrees otherwise trip whole-stage codegen's subexpression
    elimination into a forward reference ("isNull_n is not an rvalue",
    janino compile error) and the stage silently drops to interpreted
    mode."""
    xs_arr, ys_arr = _lit(xs_arr), _lit(ys_arr)

    def build(p):
        axs, ays = p["x"], p["y"]
        closed = ((F.element_at(axs, 1) == F.element_at(axs, -1))
                  & (F.element_at(ays, 1) == F.element_at(ays, -1)))
        n = F.size(axs) + F.when(closed, F.lit(0)).otherwise(F.lit(1))
        cxs = F.slice(F.concat(axs, F.array(F.element_at(axs, 1))), 1, n)
        cys = F.slice(F.concat(ays, F.array(F.element_at(ays, 1))), 1, n)
        return geom_struct(F.lit(POLYGON), cxs, cys, F.array(n),
                           F.array(F.lit(1)))

    return F.when(
        xs_arr.isNotNull() & ys_arr.isNotNull(),
        _let(F.struct(xs_arr.alias("x"), ys_arr.alias("y")), build))


def geom_lit(wkt_text: str) -> Column:
    """Constant geometry column from a WKT string (parsed driver-side,
    materialized as literal arrays — no UDF, usable inside native
    expressions; the mask argument of ``GeoDataFrame.clip``)."""
    from ..geom import wkt as _wkt
    gt, xs, ys, rings, parts = _wkt.parse_one(wkt_text)
    return geom_struct(
        F.lit(int(gt)),
        F.array(*[F.lit(float(v)) for v in xs]),
        F.array(*[F.lit(float(v)) for v in ys]),
        F.array(*[F.lit(int(v)) for v in rings]),
        F.array(*[F.lit(int(v)) for v in parts]))


def make_envelope(xmin, ymin, xmax, ymax) -> Column:
    xmin, ymin, xmax, ymax = (_lit(v) for v in (xmin, ymin, xmax, ymax))
    return geom_struct(
        F.lit(POLYGON),
        F.array(xmin, xmax, xmax, xmin, xmin),
        F.array(ymin, ymin, ymax, ymax, ymin),
        F.array(F.lit(5)), F.array(F.lit(1)))


@_geom_fn
def dump_parts(g) -> Column:
    """array<GEOM> of single-part geometries — the native kernel behind
    ``st.explode`` (reference trait `explode`, geoseries.rs:50-56, benched
    geopolars/benches/explode.rs). Single geometries yield themselves.
    GeometryCollection rows (gt=7, round 6) decode their typed part
    entries (parts[i] = sub_type·2²⁴ + nrings, see geom/ragged.py) — for
    every other type the decode is the identity, so one shared path."""
    gc_shift = F.lit(1 << 24)
    pdec = F.transform(g["parts"], lambda v: v % gc_shift)
    pro = _offsets(pdec)         # ring-index offset per part
    co = _offsets(g["rings"])    # coord offset per ring
    sub_gt = (F.when(g["gt"] == MULTIPOINT, F.lit(POINT))
               .when(g["gt"] == MULTILINESTRING, F.lit(LINESTRING))
               .when(g["gt"] == MULTIPOLYGON, F.lit(POLYGON))
               .otherwise(g["gt"]))

    def one_part(p):
        rp0 = F.element_at(pro, p + 1)
        raw = F.element_at(g["parts"], p + 1)
        nr = raw % gc_shift
        psub = F.when(g["gt"] == 7, (raw / gc_shift).cast("int")) \
                .otherwise(sub_gt)
        cstart = F.element_at(co, rp0 + 1)
        cend = F.element_at(co, rp0 + nr + 1)
        sub_rings = F.slice(g["rings"], rp0 + 1, nr)
        sub_parts = F.when(psub == POLYGON, F.array(nr)) \
                     .otherwise(F.array(F.lit(1)))
        return geom_struct(psub,
                           F.slice(g["xs"], cstart + 1, cend - cstart),
                           F.slice(g["ys"], cstart + 1, cend - cstart),
                           sub_rings, sub_parts)

    # fast path: every part is one single-vertex ring (MultiPoint — the
    # reference's explode bench shape, benches/explode.rs:10-20): part i
    # owns exactly coordinate i, no offset arrays needed. The offsets
    # machinery is the dominant interpreted cost at scale (~3x).
    one = F.array(F.lit(1))
    # a GC whose parts are all single-vertex (encoded 0·2²⁴+1 == 1) is a
    # collection of points — the fast path's sub type must be POINT
    point_sub = F.when(g["gt"] == 7, F.lit(POINT)).otherwise(sub_gt)
    point_fast = F.zip_with(
        g["xs"], g["ys"],
        lambda px, py: geom_struct(point_sub, F.array(px), F.array(py),
                                   one, one))
    all_single = (F.size(pdec) == F.size(g["rings"])) \
        & F.forall(g["rings"], lambda r: r == 1)

    return F.when(
        _valid(g),
        F.when(all_single, point_fast)
         .otherwise(F.transform(_seq0(F.size(g["parts"])), one_part)))


@_geom_fn
def num_parts(g) -> Column:
    return F.when(_valid(g), F.size(g["parts"]))


_EXTRACT_SUB = {"point": POINT, "line": LINESTRING, "polygon": POLYGON,
                0: POINT, 1: LINESTRING, 2: POLYGON}
_EXTRACT_MULTI = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING,
                  POLYGON: MULTIPOLYGON}


def collection_extract(g, geom_type) -> Column:
    """Extract the parts of one type from a GeometryCollection
    (shapely/GEOS ``collection_extract``): ``geom_type`` is
    'point'/'line'/'polygon' or the dimension 0/1/2. GC rows return the
    matching parts as a Multi* (empty if none); non-GC rows pass
    through when their family matches, else empty. Fully native —
    coordinate/ring surgery is flatten-of-slices over the typed-parts
    decode (see dump_parts), zero Python."""
    sub = _EXTRACT_SUB[geom_type if not isinstance(geom_type, str)
                       else geom_type.lower()]
    multi = _EXTRACT_MULTI[sub]

    def build(gg):
        gc_shift = F.lit(1 << 24)
        pdec = F.transform(gg["parts"], lambda v: v % gc_shift)
        pro = _offsets(pdec)
        co = _offsets(gg["rings"])
        kept = F.filter(
            _seq0(F.size(gg["parts"])),
            lambda p: (F.element_at(gg["parts"], p + 1) / gc_shift)
            .cast("int") == sub)

        def part_slice(arr_field, p):
            rp0 = F.element_at(pro, p + 1)
            nr = F.element_at(pdec, p + 1)
            cstart = F.element_at(co, rp0 + 1)
            cend = F.element_at(co, rp0 + nr + 1)
            return F.slice(gg[arr_field], cstart + 1, cend - cstart)

        xs = F.flatten(F.transform(kept, lambda p: part_slice("xs", p)))
        ys = F.flatten(F.transform(kept, lambda p: part_slice("ys", p)))
        rings = F.flatten(F.transform(kept, lambda p: F.slice(
            gg["rings"], F.element_at(pro, p + 1) + 1,
            F.element_at(pdec, p + 1))))
        parts = F.transform(kept, lambda p: F.element_at(pdec, p + 1)) \
            if sub == POLYGON else \
            F.transform(kept, lambda p: F.lit(1))
        gc_out = geom_struct(F.lit(multi), xs, ys, rings, parts)
        empty = geom_struct(
            F.lit(multi), F.array().cast("array<double>"),
            F.array().cast("array<double>"),
            F.array().cast("array<int>"), F.array().cast("array<int>"))
        fam_match = gg["gt"].isin(sub, multi)
        return F.when(_valid(gg),
                      F.when(gg["gt"] == 7, gc_out)
                       .when(fam_match, gg)
                       .otherwise(empty))

    return _let(_g(g), build)


# ---------------------------------------------------------------------------
# affine family (reference geoseries.rs:12, :93-145, :174; shapely 6-param
# order [a, b, d, e, xoff, yoff])
# ---------------------------------------------------------------------------

@_geom_fn
def affine_transform(g, matrix) -> Column:
    """matrix = [a, b, d, e, xoff, yoff] (python floats or Columns):
    x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff."""
    a, b, d, e, xoff, yoff = (_lit(v) for v in matrix)
    nxs = F.zip_with(g["xs"], g["ys"], lambda px, py: a * px + b * py + xoff)
    nys = F.zip_with(g["xs"], g["ys"], lambda px, py: d * px + e * py + yoff)
    return F.when(_valid(g),
                  geom_struct(g["gt"], nxs, nys, g["rings"], g["parts"]))


def _origin_xy(g, origin):
    """Resolve a TransformOrigin (reference py-geopolars/src/utils.rs:5-27:
    'center' = bbox center, 'centroid', or (x, y) tuple) to column pair."""
    if isinstance(origin, str):
        if origin == "center":
            xmin, ymin, xmax, ymax = bounds(g)
            return (xmin + xmax) / 2, (ymin + ymax) / 2
        if origin == "centroid":
            c = centroid(g)
            return F.element_at(c["xs"], 1), F.element_at(c["ys"], 1)
        raise ValueError(f"unknown origin {origin!r}")
    ox, oy = origin
    return _lit(float(ox)), _lit(float(oy))


def _affine_about(g, a, b, d, e, ox, oy):
    xoff = ox - a * ox - b * oy
    yoff = oy - d * ox - e * oy
    return affine_transform(g, [a, b, d, e, xoff, yoff])


def translate(g, xoff=0.0, yoff=0.0) -> Column:
    return affine_transform(_g(g), [F.lit(1.0), F.lit(0.0), F.lit(0.0),
                                    F.lit(1.0), _lit(xoff), _lit(yoff)])


@_geom_fn
def rotate(g, angle_deg, origin="center") -> Column:
    """CCW-positive rotation in degrees about origin (reference
    geoseries.rs:85-105)."""
    th = _lit(angle_deg) * F.lit(math.pi / 180.0)
    ox, oy = _origin_xy(g, origin)
    return _affine_about(g, F.cos(th), -F.sin(th), F.sin(th), F.cos(th),
                         ox, oy)


@_geom_fn
def scale(g, xfact=1.0, yfact=1.0, origin="center") -> Column:
    ox, oy = _origin_xy(g, origin)
    return _affine_about(g, _lit(xfact), F.lit(0.0), F.lit(0.0), _lit(yfact),
                         ox, oy)


@_geom_fn
def skew(g, xs_deg=0.0, ys_deg=0.0, origin="center") -> Column:
    """Shear by angles in degrees (reference matrix doc
    geoseries.rs:129-138)."""
    ox, oy = _origin_xy(g, origin)
    tx = F.tan(_lit(xs_deg) * F.lit(math.pi / 180.0))
    ty = F.tan(_lit(ys_deg) * F.lit(math.pi / 180.0))
    return _affine_about(g, F.lit(1.0), tx, ty, F.lit(1.0), ox, oy)


def collect_agg(g) -> Column:
    """Aggregate: collect a group's geometries into one Multi* geometry
    (GeoPandas `collect`; the reference's planned unary_union aggregation
    surface, geoseries.rst:104-111, WITHOUT dissolve — overlapping areas
    are not merged; documented partial).

    Requires a homogeneous single-type group (point→multipoint,
    line→multilinestring, polygon→multipolygon; multi* merge); mixed
    groups yield null (the ragged encoding has no GeometryCollection)."""
    g = _g(g)
    base_gt = (F.when(g["gt"] == POINT, F.lit(MULTIPOINT))
                .when(g["gt"] == LINESTRING, F.lit(MULTILINESTRING))
                .when(g["gt"] == POLYGON, F.lit(MULTIPOLYGON))
                .otherwise(g["gt"]))
    gts = F.collect_set(base_gt)
    out_gt = F.element_at(gts, 1)
    homogeneous = F.size(gts) == 1
    return F.when(
        homogeneous & out_gt.isin(MULTIPOINT, MULTILINESTRING, MULTIPOLYGON),
        geom_struct(out_gt,
                    F.flatten(F.collect_list(g["xs"])),
                    F.flatten(F.collect_list(g["ys"])),
                    F.flatten(F.collect_list(g["rings"])),
                    F.flatten(F.collect_list(g["parts"]))))


@_geom_fn
def is_axis_rect(g) -> Column:
    """Single closed 5-vertex axis-aligned rectangle ring (the shape of
    envelopes/tiles). Used to hoist the spatial join's rectangle fast
    path into a once-per-geometry column instead of re-deriving it per
    candidate pair."""
    xs, ys = g["xs"], g["ys"]
    x0, y0 = F.array_min(xs), F.array_min(ys)
    x1, y1 = F.array_max(xs), F.array_max(ys)
    rectilinear = F.forall(
        F.zip_with(
            F.zip_with(F.slice(xs, 1, 4), F.slice(xs, 2, 4),
                       lambda a, b: a == b),
            F.zip_with(F.slice(ys, 1, 4), F.slice(ys, 2, 4),
                       lambda a, b: a == b),
            lambda ex, ey: ex != ey),
        lambda v: v)
    return F.when(
        _valid(g),
        g["gt"].isin(POLYGON) & (F.size(g["rings"]) == 1)
        & (F.size(xs) == 5)
        & F.forall(xs, lambda v: (v == x0) | (v == x1))
        & F.forall(ys, lambda v: (v == y0) | (v == y1))
        & rectilinear)


# ---------------------------------------------------------------------------
# linear referencing (round 6) — interpolate / locate / segmentize / reverse
#
# The reference's GeoPandas-parity direction implies shapely's linear-
# referencing surface (interpolate/project, segmentize, reverse). All four
# are pure Catalyst higher-order expressions here: per-segment arrays via
# shifted slices, cumulative lengths via an array-building aggregate —
# zero Python in the plan, so a 100 TB linear-referencing pass is one
# codegen'd scan.
# ---------------------------------------------------------------------------

def _seg_len_arr(g) -> Column:
    """array<double> of per-segment lengths of a single-ring line —
    one transform over segment indices (the 3×zip_with-over-slices
    shape materialized two extra arrays per row, r8)."""
    n = F.size(g["xs"])
    idx = F.when(n >= 2, F.sequence(F.lit(1), (n - 1).cast("int"))) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: _let(
        F.struct((F.element_at(g["xs"], i + 1)
                  - F.element_at(g["xs"], i)).alias("dx"),
                 (F.element_at(g["ys"], i + 1)
                  - F.element_at(g["ys"], i)).alias("dy")),
        lambda d: F.sqrt(d["dx"] * d["dx"] + d["dy"] * d["dy"])))


def _cum_arr(lens) -> Column:
    """[0, l0, l0+l1, ...] — cumulative distance at each vertex."""
    return F.aggregate(
        lens, F.array(F.lit(0.0)),
        lambda acc, v: F.concat(acc, F.array(F.element_at(acc, -1) + v)))


@_geom_fn
def line_interpolate_point(g, distance, normalized: bool = False) -> Column:
    """Point at the given distance along a LineString (clamped to the
    line's ends; ``normalized=True`` reads ``distance`` as a fraction of
    total length). Shapely/GEOS ``line_interpolate_point`` semantics;
    non-LineString input → NULL. Two ``aggregate`` scans over the
    segment indices (total length, then locate-the-segment) — the r7
    shape materialized the lens array, an O(n²)-alloc cumulative
    array, and a filter+slice scan per call (r8)."""
    d = _lit(distance)

    def _seg_len_at(i):
        return _let(
            F.struct((F.element_at(g["xs"], i + 1)
                      - F.element_at(g["xs"], i)).alias("dx"),
                     (F.element_at(g["ys"], i + 1)
                      - F.element_at(g["ys"], i)).alias("dy")),
            lambda dd: F.sqrt(dd["dx"] * dd["dx"] + dd["dy"] * dd["dy"]))

    def build(s):
        n, total = s["n"], s["total"]
        nseg = (n - 1).cast("int")
        idx = F.when(n >= 2, F.sequence(F.lit(1), nseg)) \
               .otherwise(F.array().cast("array<int>"))
        tgt = d * total if normalized else d
        target = F.greatest(F.lit(0.0), F.least(tgt.cast("double"), total))
        # walk: first segment whose END passes STRICTLY beyond the
        # target wins (a target exactly on an interior vertex takes the
        # NEXT segment at t=0, so the emitted coordinate is the stored
        # vertex bit-for-bit — same rule as the r7 cum<=target count);
        # target == total falls through to the last segment at t=1
        init = F.struct(F.lit(0.0).alias("cum"),
                        F.lit(0).alias("seg"),
                        F.lit(0.0).alias("start"))

        # while unmatched, `start` tracks the cum at the CURRENT
        # segment's begin — so the target==total fallthrough reads the
        # exact left-to-right prefix sum (never total − len_last, which
        # differs in the last float bits)
        def step(acc, i):
            return _let(_seg_len_at(i), lambda ln: _let(
                (acc["cum"] + ln), lambda nc: F.when(
                    (acc["seg"] == 0) & (nc > target),
                    F.struct(nc.alias("cum"), i.alias("seg"),
                             acc["cum"].alias("start")))
                .when(acc["seg"] == 0,
                      F.struct(nc.alias("cum"), F.lit(0).alias("seg"),
                               acc["cum"].alias("start")))
                .otherwise(F.struct(nc.alias("cum"), acc["seg"]
                                    .alias("seg"),
                                    acc["start"].alias("start")))))

        def finish(acc):
            seg = F.when(acc["seg"] > 0, acc["seg"]) \
                   .otherwise(F.greatest(nseg, F.lit(1)))
            start = acc["start"]

            def at_seg(sg):
                ln = _seg_len_at(sg)
                t0 = F.when(ln > 0, (target - start) / ln).otherwise(0.0)

                def at_t(t):
                    ax = F.element_at(g["xs"], sg)
                    ay = F.element_at(g["ys"], sg)
                    px = F.when(nseg > 0,
                                ax + (F.element_at(g["xs"], sg + 1) - ax)
                                * t).otherwise(F.element_at(g["xs"], 1))
                    py = F.when(nseg > 0,
                                ay + (F.element_at(g["ys"], sg + 1) - ay)
                                * t).otherwise(F.element_at(g["ys"], 1))
                    return point(px, py)

                return _let(t0, at_t)

            return _let(seg, at_seg)

        return F.aggregate(idx, init, step, finish)

    n0 = F.size(g["xs"])
    out = _let(F.struct(n0.alias("n"),
                        _length_span(g, F.lit(0), n0).alias("total")),
               build)
    return F.when(_valid(g) & (g["gt"] == LINESTRING)
                  & (F.size(g["xs"]) > 0), out)


def line_substring(g, start, end, normalized: bool = False) -> Column:
    """Portion of a LineString between two distances along it (shapely
    ``substring`` / GeoPandas ``line_substring``): endpoints are
    interpolated, interior vertices strictly between the cut distances
    are kept, distances clamp to [0, length]. ``start > end`` returns
    the REVERSED substring and ``start == end`` degenerates to a POINT
    (shapely semantics). ``normalized=True`` reads fractions of total
    length. Non-LineString input → NULL. Fully native."""
    g = _g(g)
    s0, s1 = _lit(start), _lit(end)

    def build(s):
        lens, cum = s["lens"], s["cum"]
        total = F.element_at(cum, -1)
        a = (s0 * total if normalized else s0).cast("double")
        b = (s1 * total if normalized else s1).cast("double")
        a = F.greatest(F.lit(0.0), F.least(a, total))
        b = F.greatest(F.lit(0.0), F.least(b, total))
        lo, hi = F.least(a, b), F.greatest(a, b)

        def interp(target):
            nseg = F.size(lens)
            k = F.size(F.filter(F.slice(cum, 2, nseg - 1),
                                lambda c: c <= target))
            seg = k + 1
            ln = F.element_at(lens, seg)
            t = F.when(ln > 0, (target - F.element_at(cum, seg)) / ln) \
                 .otherwise(F.lit(0.0))
            ax = F.element_at(g["xs"], seg)
            ay = F.element_at(g["ys"], seg)
            return (ax + (F.element_at(g["xs"], seg + 1) - ax) * t,
                    ay + (F.element_at(g["ys"], seg + 1) - ay) * t)

        x0, y0 = interp(lo)
        x1, y1 = interp(hi)
        n = F.size(g["xs"])
        mid = F.filter(F.sequence(F.lit(1), n),
                       lambda i: (F.element_at(cum, i) > lo)
                       & (F.element_at(cum, i) < hi))
        xs = F.concat(F.array(x0),
                      F.transform(mid, lambda i: F.element_at(g["xs"], i)),
                      F.array(x1))
        ys = F.concat(F.array(y0),
                      F.transform(mid, lambda i: F.element_at(g["ys"], i)),
                      F.array(y1))
        xs = F.when(a > b, F.reverse(xs)).otherwise(xs)
        ys = F.when(a > b, F.reverse(ys)).otherwise(ys)
        line_out = geom_struct(F.lit(LINESTRING), xs, ys,
                               F.array(F.size(xs)),
                               F.array(F.lit(1)))
        return F.when(lo == hi, point(x0, y0)).otherwise(line_out)

    lens = _seg_len_arr(g)
    out = _let(F.struct(lens.alias("lens"), _cum_arr(lens).alias("cum")),
               build)
    return F.when(_valid(g) & (g["gt"] == LINESTRING)
                  & (F.size(g["xs"]) > 1), out)


def azimuth(p1, p2) -> Column:
    """Azimuth of the segment p1→p2 in radians clockwise from north,
    in [0, 2π) — PostGIS ``ST_Azimuth`` semantics (atan2(Δx, Δy)).
    NULL when the points coincide or either operand is not a POINT.
    Every intermediate is ``_let``-bound: composed uses (project,
    angle) stay linear in the operand trees instead of re-inlining
    them per reference."""
    two_pi = 2.0 * math.pi

    def body(a, b):
        dx0 = F.element_at(b["xs"], 1) - F.element_at(a["xs"], 1)
        dy0 = F.element_at(b["ys"], 1) - F.element_at(a["ys"], 1)
        return _let(dx0, lambda dx: _let(dy0, lambda dy: _let(
            F.atan2(dx, dy), lambda raw:
            F.when(_valid(a) & _valid(b) & (a["gt"] == POINT)
                   & (b["gt"] == POINT) & ((dx != 0) | (dy != 0)),
                   F.when(raw < 0, raw + two_pi).otherwise(raw)))))

    return _let(_g(p1), lambda a: _let(_g(p2), lambda b: body(a, b)))


def project(pt, distance, az) -> Column:
    """Point at ``distance`` from ``pt`` along azimuth ``az`` (radians
    clockwise from north — the :func:`azimuth` convention), planar:
    PostGIS ``ST_Project(geometry, ...)``. Inverse of ``azimuth`` +
    ``distance``: project(a, distance(a,b), azimuth(a,b)) == b up to
    float rounding. NULL for non-points. Pure codegen expressions."""
    def body(a, dd, zz):
        px = F.element_at(a["xs"], 1) + dd * F.sin(zz)
        py = F.element_at(a["ys"], 1) + dd * F.cos(zz)
        return F.when(_valid(a) & (a["gt"] == POINT)
                      & dd.isNotNull() & zz.isNotNull(),
                      point(px, py))

    return _let(_g(pt), lambda a: _let(_lit(distance), lambda dd: _let(
        _lit(az), lambda zz: body(a, dd, zz))))


def project_spherical(pt, distance, az,
                      radius: float = 6371008.8) -> Column:
    """Great-circle forward problem: destination of travelling
    ``distance`` metres from lon/lat point ``pt`` on initial bearing
    ``az`` (radians clockwise from north) over the mean-radius sphere —
    PostGIS ``ST_Project(geography, ...)`` up to its ellipsoidal
    refinement (spherical model doc'd, consistent with
    ``geodesic_length(method='haversine')``). Standard closed form:

      φ2 = asin(sin φ1 cos δ + cos φ1 sin δ cos θ)
      λ2 = λ1 + atan2(sin θ sin δ cos φ1, cos δ − sin φ1 sin φ2)

    with δ = distance/R; longitude normalized to [−180°, 180°). Pure
    codegen expressions."""
    def body(a, dd, zz):
        lon1 = F.radians(F.element_at(a["xs"], 1))
        return _let(F.radians(F.element_at(a["ys"], 1)), lambda lat1:
                    _let(dd / F.lit(float(radius)), lambda delta: _let(
                        F.sin(lat1) * F.cos(delta)
                        + F.cos(lat1) * F.sin(delta) * F.cos(zz),
                        lambda sin_lat2: _let(
                            F.degrees(lon1 + F.atan2(
                                F.sin(zz) * F.sin(delta) * F.cos(lat1),
                                F.cos(delta) - F.sin(lat1) * sin_lat2)),
                            lambda lon_deg:
                            F.when(_valid(a) & (a["gt"] == POINT)
                                   & dd.isNotNull() & zz.isNotNull(),
                                   point(lon_deg - 360.0 * F.floor(
                                       (lon_deg + 180.0) / 360.0),
                                       F.degrees(F.asin(sin_lat2))))))))

    return _let(_g(pt), lambda a: _let(_lit(distance), lambda dd: _let(
        _lit(az), lambda zz: body(a, dd, zz))))


def line_locate_point(line, pt, normalized: bool = False) -> Column:
    """Distance along ``line`` of the point on it nearest to ``pt``
    (shapely ``line_locate_point`` / GEOS Project). First-nearest segment
    wins ties, matching GEOS (strict-< update). Pure Catalyst — ONE
    ``aggregate`` scan over the segment indices carrying (cum length,
    best d², located distance); the r7 shape materialized five
    intermediate arrays (edge structs, t, d², lens, cum) per call,
    ~2.5× this form's interpreted-HOF work (HOFs are CodegenFallback,
    so every avoided array materialization is real per-row time)."""
    g, p = _g(line), _g(pt)

    def build(s):
        g_, p_ = s["g"], s["p"]
        px = F.element_at(p_["xs"], 1)
        py = F.element_at(p_["ys"], 1)
        n = F.size(g_["xs"])
        idx = F.sequence(F.lit(1), (n - 1).cast("int"))
        init = F.struct(F.lit(0.0).alias("cum"),
                        F.lit(float("inf")).alias("best"),
                        F.lit(0.0).alias("res"))

        def step(acc, i):
            def with_e(e):
                def with_q(q):
                    t0 = F.when(
                        q["l2"] > 0,
                        F.greatest(F.lit(0.0),
                                   F.least(F.lit(1.0),
                                           q["dot"] / q["l2"]))) \
                        .otherwise(0.0)

                    def with_t(t):
                        def with_m(m):
                            better = m["d2"] < acc["best"]
                            return F.struct(
                                (acc["cum"] + m["len"]).alias("cum"),
                                F.when(better, m["d2"])
                                 .otherwise(acc["best"]).alias("best"),
                                F.when(better,
                                       acc["cum"] + t * m["len"])
                                 .otherwise(acc["res"]).alias("res"))
                        ddx = e["x1"] + e["dx"] * t - px
                        ddy = e["y1"] + e["dy"] * t - py
                        return _let(
                            F.struct((ddx * ddx + ddy * ddy).alias("d2"),
                                     F.sqrt(q["l2"]).alias("len")),
                            with_m)
                    return _let(t0, with_t)
                l2 = e["dx"] * e["dx"] + e["dy"] * e["dy"]
                dot = ((px - e["x1"]) * e["dx"]
                       + (py - e["y1"]) * e["dy"])
                return _let(F.struct(l2.alias("l2"), dot.alias("dot")),
                            with_q)
            x1 = F.element_at(g_["xs"], i)
            y1 = F.element_at(g_["ys"], i)
            return _let(
                F.struct(x1.alias("x1"), y1.alias("y1"),
                         (F.element_at(g_["xs"], i + 1) - x1).alias("dx"),
                         (F.element_at(g_["ys"], i + 1) - y1).alias("dy")),
                with_e)

        def finish(acc):
            if normalized:
                return F.when(acc["cum"] > 0,
                              acc["res"] / acc["cum"]).otherwise(0.0)
            return acc["res"]

        return F.aggregate(idx, init, step, finish)

    out = _let(F.struct(g.alias("g"), p.alias("p")), build)
    return F.when(_valid(g) & _valid(p) & (g["gt"] == LINESTRING)
                  & (p["gt"] == POINT) & (F.size(g["xs"]) >= 2), out)


@_geom_fn
def segmentize(g, max_segment_length) -> Column:
    """Insert vertices so no segment exceeds ``max_segment_length``
    (shapely/GEOS segmentize: each segment splits into
    ceil(len/max) equal pieces; original vertices are preserved).
    Lines and polygons (any ring/part structure); point types pass
    through unchanged; GeometryCollections pass through point parts
    unchanged by the same per-ring walk (a 1-vertex ring has no
    segments)."""
    ml = _lit(max_segment_length).cast("double")

    def ring_pts(o, n):
        """Densified ring as ONE array<struct<x,y>> (last vertex
        excluded): one transform per segment instead of the r7 shape's
        two coordinate pipelines (which also materialized _seq0(k)
        twice per segment) — HOFs are CodegenFallback, every avoided
        array is per-row time (r8)."""
        def seg_pts(j):
            # bind endpoints AND the piece count once per segment — the
            # inner transform otherwise recomputes the element_at
            # lookups and the sqrt/ceil k for EVERY emitted vertex
            # (measured 20.7 s -> 1.5 s on a 150k-row segmentize, r7)
            bound = F.struct(
                F.element_at(g["xs"], o + j + 1).alias("ax"),
                F.element_at(g["xs"], o + j + 2).alias("bx"),
                F.element_at(g["ys"], o + j + 1).alias("ay"),
                F.element_at(g["ys"], o + j + 2).alias("by"))

            def mk(s):
                kk = F.greatest(
                    F.ceil(F.sqrt((s["bx"] - s["ax"]) * (s["bx"] - s["ax"])
                                  + (s["by"] - s["ay"])
                                  * (s["by"] - s["ay"])) / ml).cast("int"),
                    F.lit(1))
                return _let(kk, lambda k: F.transform(
                    _seq0(k), lambda t: F.struct(
                        (s["ax"] + (s["bx"] - s["ax"])
                         * t.cast("double") / k).alias("x"),
                        (s["ay"] + (s["by"] - s["ay"])
                         * t.cast("double") / k).alias("y"))))

            return _let(bound, mk)

        return F.flatten(F.transform(_seq0(n - 1), seg_pts))

    def ring_struct(o, n):
        return _let(ring_pts(o, n), lambda pts: _let(
            F.concat(F.transform(pts, lambda p: p["x"]),
                     F.slice(g["xs"], o + n, 1)),
            lambda xs_: F.struct(
                xs_.alias("xs"),
                F.concat(F.transform(pts, lambda p: p["y"]),
                         F.slice(g["ys"], o + n, 1)).alias("ys"),
                F.size(xs_).cast("int").alias("cnt"))))

    # single-ring fast path (every LINESTRING and simple POLYGON):
    # skips the offsets machinery and the per-ring stitch entirely
    fast = _let(ring_struct(F.lit(0), F.size(g["xs"])),
                lambda s: geom_struct(g["gt"], s["xs"], s["ys"],
                                      F.array(s["cnt"]), g["parts"]))

    co = _offsets(g["rings"])

    def new_ring(i):
        return ring_struct(F.element_at(co, i + 1),
                           F.element_at(g["rings"], i + 1))

    def build(rr):
        return geom_struct(
            g["gt"],
            F.flatten(F.transform(rr, lambda r: r["xs"])),
            F.flatten(F.transform(rr, lambda r: r["ys"])),
            F.transform(rr, lambda r: r["cnt"]),
            g["parts"])

    out = F.when(F.size(g["rings"]) == 1, fast) \
           .otherwise(_let(F.transform(_ring_ids(g), new_ring), build))
    return F.when(_valid(g),
                  F.when(g["gt"].isin(POINT, MULTIPOINT), g).otherwise(out))


@_geom_fn
def reverse(g) -> Column:
    """Reverse coordinate order within every ring / line part (GEOS
    ``reverse``: lines flip direction, polygon rings flip orientation,
    points unchanged — a 1-vertex ring reverses to itself, so the same
    per-ring walk covers every type including GC parts)."""
    co = _offsets(g["rings"])
    nx = F.flatten(F.transform(_ring_ids(g),
                               lambda i: F.reverse(_ring_x(g, co, i))))
    ny = F.flatten(F.transform(_ring_ids(g),
                               lambda i: F.reverse(_ring_y(g, co, i))))
    return F.when(_valid(g),
                  F.when(g["gt"].isin(POINT, MULTIPOINT), g)
                  .otherwise(geom_struct(g["gt"], nx, ny, g["rings"],
                                         g["parts"])))


@_geom_fn
def count_coordinates(g) -> Column:
    """Number of stored coordinates, closing ring vertices included
    (shapely ``count_coordinates`` / GeoPandas ``count_coordinates``).
    The ragged layout makes this a plain array size."""
    return F.when(_valid(g), F.size(g["xs"]))


@_geom_fn
def count_geometries(g) -> Column:
    """Number of member geometries: parts for Multi*/GeometryCollection,
    1 for single non-empty geometries, 0 for empty (shapely
    ``get_num_geometries``)."""
    n = F.when(g["gt"].isin(MULTIPOINT, MULTILINESTRING, MULTIPOLYGON,
                            GEOMETRYCOLLECTION),
               F.when(g["gt"] == MULTIPOINT, F.size(g["xs"]))
                .otherwise(F.size(g["parts"]))) \
         .otherwise(F.when(F.size(g["xs"]) > 0, F.lit(1)).otherwise(0))
    return F.when(_valid(g), n)


@_geom_fn
def is_closed(g) -> Column:
    """True when every line part starts and ends on the same point
    (GEOS ``isClosed``: LineString first==last; MultiLineString all
    parts closed). Non-lineal types return false like GeoPandas."""
    co = _offsets(g["rings"])
    all_closed = F.forall(
        _ring_ids(g),
        lambda i: (F.element_at(g["xs"], F.element_at(co, i + 1) + 1)
                   == F.element_at(g["xs"], F.element_at(co, i + 2)))
        & (F.element_at(g["ys"], F.element_at(co, i + 1) + 1)
           == F.element_at(g["ys"], F.element_at(co, i + 2))))
    return F.when(_valid(g),
                  F.when(g["gt"].isin(LINESTRING, MULTILINESTRING)
                         & (F.size(g["xs"]) > 0), all_closed)
                  .otherwise(F.lit(False)))


@_geom_fn
def is_ccw(g) -> Column:
    """True for a closed LineString / LinearRing wound counter-clockwise
    (signed shoelace area > 0) — shapely/GeoPandas ``is_ccw`` semantics:
    open lines, points, polygons and multi-types return false."""
    closed = ((F.element_at(g["xs"], 1) == F.element_at(g["xs"], -1))
              & (F.element_at(g["ys"], 1) == F.element_at(g["ys"], -1))
              & (F.size(g["xs"]) >= 4))
    signed = _signed_area_span(g, F.lit(0), F.size(g["xs"]))
    return F.when(_valid(g),
                  F.when((g["gt"] == LINESTRING) & closed, signed > 0)
                   .otherwise(F.lit(False)))


@_geom_fn
def orient_polygons(g, exterior_cw: bool = False) -> Column:
    """Canonical ring winding for polygonal geometry (shapely
    ``orient_polygons`` / ``polygon.orient(sign=1)``): exterior rings
    counter-clockwise and holes clockwise (flipped wholesale when
    ``exterior_cw``). Each ring is conditionally reversed on the sign of
    its own shoelace area — a per-ring native walk like ``reverse``, so
    zero Python. Non-polygonal types (and GC rows, whose polygon parts
    would need the typed-part decode — documented) pass through
    unchanged; zero-area degenerate rings count as clockwise."""
    co = _offsets(g["rings"])
    ext = _exterior_ring_ids(g)

    def fix(get_ring):
        def one(i):
            want_ccw = F.array_contains(ext, i)
            if exterior_cw:
                want_ccw = ~want_ccw
            cur_ccw = _ring_signed_area(g, co, i) > 0
            r = get_ring(g, co, i)
            return F.when(want_ccw == cur_ccw, r).otherwise(F.reverse(r))
        return F.flatten(F.transform(_ring_ids(g), one))

    return F.when(_valid(g),
                  F.when(g["gt"].isin(POLYGON, MULTIPOLYGON),
                         geom_struct(g["gt"], fix(_ring_x), fix(_ring_y),
                                     g["rings"], g["parts"]))
                  .otherwise(g))


@_geom_fn
def sample_points(g, size: int, key, seed: str = "",
                  oversample: int = 8) -> Column:
    """Uniform random points inside a polygonal geometry as a MultiPoint
    (GeoPandas ``GeoSeries.sample_points``) — FULLY NATIVE and
    deterministic: candidate k draws its coordinates from 48-bit
    md5 uniforms of ``(key, seed, axis, k)`` (the same portable-hash
    randomness as the deterministic samplers in ``llm.pipeline``),
    scaled into the bbox, then filtered by the native ray-cast
    even-odd point-in-polygon — rejection sampling with zero Python
    and no RNG state, reproducible under any partitioning.

    ``key`` is a per-row column (e.g. the primary key) seeding the draw —
    Spark expressions cannot see a stable row identity, so determinism
    must come from data.  ``size * oversample`` candidates are examined;
    with acceptance ratio area(g)/area(bbox) = r the expected yield is
    size·oversample·r, so the default 8 comfortably covers r ≳ ¼ —
    raise it for thin/sliver polygons (short rows return however many
    candidates landed inside, like a GeoPandas size shortfall never
    does — documented deviation in exchange for a bounded plan).
    Non-polygonal rows return MULTIPOINT EMPTY."""
    n_cand = int(size) * int(oversample)
    xmin, ymin, xmax, ymax = bounds(g)
    co = _offsets(g["rings"])
    # Evaluate the per-row invariants ONCE (bbox + every ring's segment
    # list + the md5 seed prefix): each of the size·oversample candidates
    # references them, and Catalyst has no construction-time CSE — the
    # un-bound form re-built the segment machinery per candidate
    # (measured 26.7 s → 1.3 s at sf0.1 for the oracle query).
    segs = F.flatten(F.transform(_ring_ids(g),
                                 lambda i: _ring_segments(g, co, i)))
    meta = F.struct(
        F.when(g["gt"].isin(POLYGON, MULTIPOLYGON), True)
         .otherwise(False).alias("ok"),
        xmin.alias("x0"), ymin.alias("y0"),
        (xmax - xmin).alias("w"), (ymax - ymin).alias("h"),
        segs.alias("segs"),
        _lit(key).cast("string").alias("key"))

    def build(m):
        def u(i, ax: str):
            h = F.md5(F.concat(m["key"], F.lit(f":{seed}:{ax}:"),
                               i.cast("string")))
            return (F.conv(F.substring(h, 1, 12), 16, 10).cast("double")
                    / F.lit(281474976710656.0))

        cand = F.transform(
            F.sequence(F.lit(0), F.lit(n_cand - 1)),
            lambda i: F.struct((m["x0"] + u(i, "x") * m["w"]).alias("x"),
                               (m["y0"] + u(i, "y") * m["h"]).alias("y")))

        def pip(p):
            crossings = _isum(F.transform(
                m["segs"],
                lambda s: F.when(
                    ((s["y1"] > p["y"]) != (s["y2"] > p["y"]))
                    & (p["x"] < s["x1"] + (p["y"] - s["y1"])
                       * (s["x2"] - s["x1"]) / (s["y2"] - s["y1"])),
                    F.lit(1)).otherwise(F.lit(0))))
            return crossings % 2 == 1

        empty = F.array().cast("array<struct<x:double,y:double>>")
        return F.when(m["ok"],
                      F.slice(F.filter(cand, pip), 1, int(size))) \
                .otherwise(empty)

    pts_col = _let(meta, build)

    def pack(pts):
        n = F.size(pts)
        return geom_struct(F.lit(MULTIPOINT),
                           F.transform(pts, lambda p: p["x"]),
                           F.transform(pts, lambda p: p["y"]),
                           F.array_repeat(F.lit(1), n),
                           F.array_repeat(F.lit(1), n))

    return F.when(_valid(g), _let(pts_col, pack))


# ---------------------------------------------------------------------------
# space-filling-curve keys (round 6) — spatial file clustering
# ---------------------------------------------------------------------------

def _spread_bits16(v: Column) -> Column:
    """Interleave-ready bit spread: 16-bit int → 32-bit with a zero
    between every bit (classic magic-number Morton spreading, 4 shift/
    mask steps — pure JVM integer ops inside codegen)."""
    def m(k):
        return F.lit(k).cast("long")
    v = v.cast("long")
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(m(0x00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(m(0x0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(m(0x33333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(m(0x55555555))
    return v


def zorder_key(x, y, extent, bits: int = 16) -> Column:
    """Morton/Z-order key of a point within ``extent`` =
    (xmin, ymin, xmax, ymax): both coordinates quantized to ``bits``
    levels and bit-interleaved into one long. Rows sorted by this key
    are spatially clustered, so range-partitioned parquet files get
    tight bbox min/max stats — the scan-time pruning analogue of a
    clustered spatial index, with no index structure to build or ship.
    Out-of-bounds coordinates clamp to the edge cells."""
    if bits < 1 or bits > 16:
        raise ValueError("bits must be in [1, 16]")
    xmin, ymin, xmax, ymax = (float(b) for b in extent)
    n = (1 << bits) - 1
    sx = (xmax - xmin) or 1.0
    sy = (ymax - ymin) or 1.0
    qx = F.least(F.greatest(((_c_num(x) - xmin) / sx * n)
                            .cast("long"), F.lit(0)), F.lit(n))
    qy = F.least(F.greatest(((_c_num(y) - ymin) / sy * n)
                            .cast("long"), F.lit(0)), F.lit(n))
    return F.shiftleft(_spread_bits16(qx), 1) \
            .bitwiseOR(_spread_bits16(qy)).cast("long")


def _c_num(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


_SQRT3 = 1.7320508075688772


def hex_key(x, y, size) -> Column:
    """Axial (q, r) coordinates of the pointy-top hexagon of side
    ``size`` containing point (x, y) — the H3-style hex-binning key as a
    struct<q:long, r:long>, computed with the standard fractional-axial
    + cube-rounding construction (Amit Patel's hex-grid formulation),
    entirely as codegen arithmetic (zero Python, zero HOFs). Hex bins
    beat square cells for density/aggregation work because every
    neighbor shares an edge and distances to all 6 neighbors are equal.
    ``groupBy(hex_key(...))`` is the one-shuffle density plan at any
    scale."""
    xx = _c_num(x).cast("double") / _lit(size).cast("double")
    yy = _c_num(y).cast("double") / _lit(size).cast("double")
    q = xx * F.lit(_SQRT3 / 3.0) - yy * F.lit(1.0 / 3.0)
    r = yy * F.lit(2.0 / 3.0)

    def build(fr):
        q_, r_ = fr["q"], fr["r"]
        rq = F.round(q_, 0)
        rr = F.round(r_, 0)
        rs = F.round(-q_ - r_, 0)
        dq = F.abs(rq - q_)
        dr = F.abs(rr - r_)
        ds = F.abs(rs - (-q_ - r_))
        first = (dq > dr) & (dq > ds)
        fq = F.when(first, -rs - rr).otherwise(rq)
        fr_ = F.when(~first & (dr > ds), -rq - rs).otherwise(rr)
        return F.struct(fq.cast("long").alias("q"),
                        fr_.cast("long").alias("r"))

    return _let(F.struct(q.alias("q"), r.alias("r")), build)


def hex_center(q, r, size):
    """(x, y) center of the pointy-top axial hex cell (q, r) — the
    inverse of :func:`hex_key` up to in-cell position."""
    s = _lit(size).cast("double")
    qq = _c_num(q).cast("double")
    rr = _c_num(r).cast("double")
    return (s * F.lit(_SQRT3) * (qq + rr / 2.0),
            s * F.lit(1.5) * rr)


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon, lat, precision: int = 12) -> Column:
    """Geohash string of a lon/lat point (PostGIS ``ST_GeoHash``):
    ``precision`` base-32 characters, 5 bits each, lon/lat bits
    interleaved MSB-first starting with longitude. Statically unrolled
    per precision into pure long shift/mask arithmetic — one Catalyst
    expression, zero higher-order functions, zero Python — so a
    100 TB geohash-bucketing pass is plain whole-stage codegen (and the
    key doubles as a spatial-clustering sort key like zorder_key).
    Coordinates clamp to the valid lon/lat ranges."""
    p = int(precision)
    if p < 1 or p > 12:
        raise ValueError("precision must be in [1, 12]")
    nbits = 5 * p
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    fx = (F.least(F.greatest(_c_num(lon).cast("double"), F.lit(-180.0)),
                  F.lit(180.0)) + 180.0) / 360.0
    fy = (F.least(F.greatest(_c_num(lat).cast("double"), F.lit(-90.0)),
                  F.lit(90.0)) + 90.0) / 180.0
    bx = F.least(F.floor(fx * F.lit(float(1 << nlon))).cast("long"),
                 F.lit((1 << nlon) - 1))
    by = F.least(F.floor(fy * F.lit(float(1 << nlat))).cast("long"),
                 F.lit((1 << nlat) - 1))

    def gbit(j):
        # global bit j (0 = MSB): even → lon bit j//2, odd → lat bit j//2
        k = j // 2
        src, n = (bx, nlon) if j % 2 == 0 else (by, nlat)
        return F.shiftrightunsigned(src, n - 1 - k).bitwiseAND(F.lit(1))

    chars = []
    for i in range(p):
        val = F.lit(0)
        for b in range(5):
            val = val + F.shiftleft(gbit(5 * i + b), 4 - b)
        chars.append(F.lit(_GEOHASH_B32).substr(
            (val + 1).cast("int"), F.lit(1)))
    return F.concat(*chars)


def geohash_decode(gh, precision: int = 12):
    """(lon, lat) center of a geohash cell (PostGIS
    ``ST_PointFromGeoHash`` semantics at ``maxchars=precision``) — the
    exact inverse bit walk of :func:`geohash`, statically unrolled, zero
    Python. Shorter strings than ``precision`` decode what they have
    (missing low bits read as 0 via the clamped char lookup)."""
    p = int(precision)
    if p < 1 or p > 12:
        raise ValueError("precision must be in [1, 12]")
    g = F.lower(_c_num(gh) if not isinstance(gh, str) else F.col(gh))
    nbits = 5 * p
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    vals = [F.greatest(
        F.instr(F.lit(_GEOHASH_B32), F.substring(g, i + 1, 1)) - 1,
        F.lit(0)).cast("long") for i in range(p)]
    lon_i = F.lit(0).cast("long")
    lat_i = F.lit(0).cast("long")
    for j in range(nbits):
        bit = F.shiftrightunsigned(vals[j // 5],
                                   4 - (j % 5)).bitwiseAND(F.lit(1))
        if j % 2 == 0:
            lon_i = lon_i.bitwiseOR(F.shiftleft(bit, nlon - 1 - j // 2))
        else:
            lat_i = lat_i.bitwiseOR(F.shiftleft(bit, nlat - 1 - j // 2))
    lon = (lon_i.cast("double") + 0.5) / float(1 << nlon) * 360.0 - 180.0
    lat = (lat_i.cast("double") + 0.5) / float(1 << nlat) * 180.0 - 90.0
    return lon, lat


def geom_geohash(g, precision: int = 12) -> Column:
    """Geohash of a geometry's bbox center (the clustering/bucketing key
    for non-point geometries, like geom_zorder_key)."""
    g = _g(g)
    xmin, ymin, xmax, ymax = bounds(g)
    return geohash((xmin + xmax) / 2.0, (ymin + ymax) / 2.0, precision)


def geom_zorder_key(g, extent, bits: int = 16) -> Column:
    """Z-order key of a geometry's bbox center (the standard clustering
    key for non-point geometries)."""
    g = _g(g)
    xmin, ymin, xmax, ymax = bounds(g)
    return zorder_key((xmin + xmax) / 2.0, (ymin + ymax) / 2.0,
                      extent, bits)


@_geom_fn
def extract_unique_points(g) -> Column:
    """MultiPoint of the distinct vertices in input order (GeoPandas /
    GEOS ``extract_unique_points``). Fully native: order-preserving
    dedup via a positional filter over zipped coordinates."""
    from pyspark.sql.types import ArrayType, DoubleType
    xs, ys = g["xs"], g["ys"]
    idx = F.sequence(F.lit(1), F.size(xs))
    # keep position i iff no earlier position has the same (x, y).
    # NB sequence(1, 0) DESCENDS in Spark — the i==1 case must short-
    # circuit before building the earlier-positions range.
    keep = F.filter(idx, lambda i: F.when(i == 1, F.lit(True)).otherwise(
        ~F.exists(
            F.sequence(F.lit(1), i - 1),
            lambda j: (F.element_at(xs, j) == F.element_at(xs, i))
            & (F.element_at(ys, j) == F.element_at(ys, i)))))
    nx = F.transform(keep, lambda i: F.element_at(xs, i))
    ny = F.transform(keep, lambda i: F.element_at(ys, i))
    n = F.size(keep)
    return F.when(
        _valid(g) & (F.size(xs) > 0),
        geom_struct(F.lit(MULTIPOINT), nx, ny,
                    F.transform(keep, lambda _: F.lit(1)),
                    F.transform(keep, lambda _: F.lit(1)))) \
        .otherwise(F.when(_valid(g),
                          geom_struct(F.lit(MULTIPOINT),
                                      F.array().cast("array<double>"),
                                      F.array().cast("array<double>"),
                                      F.array().cast("array<int>"),
                                      F.array().cast("array<int>"))))


@_geom_fn
def flip_coordinates(g) -> Column:
    """Swap X and Y of every coordinate (PostGIS
    ``ST_FlipCoordinates``): lat/lon axis-order repair. Pure struct
    rebuild — zero arithmetic."""
    return F.when(_valid(g), geom_struct(g["gt"], g["ys"], g["xs"],
                                         g["rings"], g["parts"]))


def angle(p1, p2, p3, p4=None) -> Column:
    """PostGIS ``ST_Angle``. 3-point form: the clockwise angle at P2
    from ray P2→P1 to ray P2→P3, i.e.
    ``azimuth(P2,P3) − azimuth(P2,P1)`` normalized to [0, 2π).
    4-point form: the clockwise angle from line P1→P2 to line P3→P4.
    NULL when any ray is degenerate (coincident defining points)."""
    if p4 is None:
        a1 = azimuth(p2, p1)
        a2 = azimuth(p2, p3)
    else:
        a1 = azimuth(p1, p2)
        a2 = azimuth(p3, p4)
    d = a2 - a1
    two_pi = 2.0 * math.pi
    return F.when(a1.isNotNull() & a2.isNotNull(),
                  F.when(d < 0, d + two_pi).otherwise(d))


@_geom_fn
def dump_segments(g) -> Column:
    """array<geometry> of every 2-point segment of a line or polygon
    boundary, ring by ring (PostGIS ``ST_DumpSegments``) — compose with
    ``F.explode`` for the row-expanding form, like ``dump_parts``.
    Points yield an empty array. All whole-stage codegen: ring walks
    are array slices, no Python."""
    co = _offsets(g["rings"])
    per_ring = F.transform(_ring_ids(g), lambda i: F.zip_with(
        F.zip_with(F.slice(_ring_x(g, co, i), 1,
                           F.element_at(g["rings"], i + 1) - 1),
                   F.slice(_ring_y(g, co, i), 1,
                           F.element_at(g["rings"], i + 1) - 1),
                   lambda a, b: F.struct(a.alias("x1"), b.alias("y1"))),
        F.zip_with(F.slice(_ring_x(g, co, i), 2,
                           F.element_at(g["rings"], i + 1) - 1),
                   F.slice(_ring_y(g, co, i), 2,
                           F.element_at(g["rings"], i + 1) - 1),
                   lambda a, b: F.struct(a.alias("x2"), b.alias("y2"))),
        lambda s, e: geom_struct(
            F.lit(LINESTRING),
            F.array(s["x1"], e["x2"]), F.array(s["y1"], e["y2"]),
            F.array(F.lit(2)), F.array(F.lit(1)))))
    return F.when(_valid(g) & ~g["gt"].isin(POINT, MULTIPOINT),
                  F.flatten(per_ring)) \
        .when(_valid(g),
              F.array().cast(
                  "array<struct<gt:int,xs:array<double>,ys:array<double>,"
                  "rings:array<int>,parts:array<int>>>"))
