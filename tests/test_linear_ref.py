"""Linear referencing: line_interpolate_point / line_locate_point /
segmentize / reverse (native.py, round 6) — shapely/GEOS semantics
with hand-computed oracles."""

import pytest
from pyspark.sql import functions as F

from arctic_spark import st


def _one(spark, cols):
    return spark.range(1).select(*cols).collect()[0]


def _line(xs, ys):
    return st.make_line(F.array(*[F.lit(float(v)) for v in xs]),
                        F.array(*[F.lit(float(v)) for v in ys]))


def test_interpolate_basic_and_clamped(spark):
    ln = st.freeze(_line([0, 3, 3], [0, 0, 4]))
    r = _one(spark, [
        st.x(st.line_interpolate_point(ln, F.lit(4.0))).alias("x1"),
        st.y(st.line_interpolate_point(ln, F.lit(4.0))).alias("y1"),
        st.x(st.line_interpolate_point(ln, F.lit(-5.0))).alias("xc"),
        st.x(st.line_interpolate_point(ln, F.lit(99.0))).alias("xh"),
        st.y(st.line_interpolate_point(ln, F.lit(99.0))).alias("yh"),
        st.y(st.line_interpolate_point(ln, F.lit(0.5), normalized=True))
          .alias("yn"),
    ])
    assert (r.x1, r.y1) == (3.0, 1.0)     # 1 unit up the second segment
    assert r.xc == 0.0                    # clamped to start
    assert (r.xh, r.yh) == (3.0, 4.0)     # clamped to end
    assert r.yn == 0.5                    # half of total length 7

    # exact-vertex target returns the vertex
    r2 = _one(spark, [
        st.x(st.line_interpolate_point(ln, F.lit(3.0))).alias("x"),
        st.y(st.line_interpolate_point(ln, F.lit(3.0))).alias("y")])
    assert (r2.x, r2.y) == (3.0, 0.0)


def test_interpolate_non_line_is_null(spark):
    r = _one(spark, [
        st.line_interpolate_point(st.point(F.lit(1.0), F.lit(2.0)),
                                  F.lit(0.5)).alias("g")])
    assert r.g is None


def test_interpolate_zero_length_line(spark):
    ln = _line([2, 2], [3, 3])
    r = _one(spark, [
        st.x(st.line_interpolate_point(ln, F.lit(1.0))).alias("x"),
        st.y(st.line_interpolate_point(ln, F.lit(1.0))).alias("y")])
    assert (r.x, r.y) == (2.0, 3.0)


def test_locate_point(spark):
    ln = st.freeze(_line([0, 3, 3], [0, 0, 4]))
    r = _one(spark, [
        st.line_locate_point(ln, st.point(F.lit(3.0), F.lit(1.0)))
          .alias("a"),
        st.line_locate_point(ln, st.point(F.lit(1.0), F.lit(-2.0)))
          .alias("b"),
        st.line_locate_point(ln, st.point(F.lit(-9.0), F.lit(-9.0)))
          .alias("c"),
        st.line_locate_point(ln, st.point(F.lit(99.0), F.lit(99.0)))
          .alias("d"),
        st.line_locate_point(ln, st.point(F.lit(3.0), F.lit(1.0)),
                             normalized=True).alias("n"),
    ])
    assert r.a == 4.0                     # on second segment
    assert r.b == 1.0                     # projects onto first segment
    assert r.c == 0.0                     # before start -> clamps to 0
    assert r.d == 7.0                     # beyond end -> full length
    assert r.n == pytest.approx(4.0 / 7.0)


def test_segmentize_line_and_polygon(spark):
    ln = _line([0, 3, 3], [0, 0, 4])
    sq = st.make_polygon(
        F.array(*[F.lit(v) for v in [0.0, 4.0, 4.0, 0.0, 0.0]]),
        F.array(*[F.lit(v) for v in [0.0, 0.0, 4.0, 4.0, 0.0]]))
    r = _one(spark, [
        F.size(st.segmentize(ln, 0.5)["xs"]).alias("n"),
        st.length(st.segmentize(ln, 0.5)).alias("len"),
        F.size(st.segmentize(sq, 1.0)["xs"]).alias("pn"),
        st.area(st.segmentize(sq, 1.0)).alias("pa"),
        F.size(st.segmentize(st.point(F.lit(1.0), F.lit(1.0)),
                             1.0)["xs"]).alias("pt_n"),
    ])
    assert r.n == 15                      # 6 + 8 pieces + final vertex
    assert r.len == pytest.approx(7.0)
    assert r.pn == 17                     # 4 edges x 4 pieces + closing
    assert r.pa == pytest.approx(16.0)
    assert r.pt_n == 1                    # points unchanged


def test_segmentize_preserves_vertices(spark):
    ln = _line([0, 1, 5], [0, 0, 0])
    rows = _one(spark, [st.segmentize(ln, 2.0)["xs"].alias("xs")])
    assert rows.xs == [0.0, 1.0, 3.0, 5.0]


def test_reverse(spark):
    ln = _line([0, 3, 3], [0, 0, 4])
    r = _one(spark, [
        st.reverse(ln)["xs"].alias("xs"),
        st.reverse(ln)["ys"].alias("ys"),
        st.x(st.reverse(st.point(F.lit(7.0), F.lit(8.0)))).alias("px"),
    ])
    assert r.xs == [3.0, 3.0, 0.0]
    assert r.ys == [4.0, 0.0, 0.0]
    assert r.px == 7.0


def test_reverse_polygon_flips_orientation(spark):
    sq = st.make_polygon(
        F.array(*[F.lit(v) for v in [0.0, 4.0, 4.0, 0.0, 0.0]]),
        F.array(*[F.lit(v) for v in [0.0, 0.0, 4.0, 4.0, 0.0]]))
    # area is orientation-independent in the engine (abs), but the
    # signed shoelace of the reversed exterior flips sign
    from arctic_spark.functions.native import _signed_area_span
    r = _one(spark, [
        _signed_area_span(st.freeze(sq), F.lit(0), F.lit(5)).alias("s0"),
        _signed_area_span(st.freeze(st.reverse(sq)), F.lit(0), F.lit(5))
        .alias("s1")])
    assert r.s0 == -r.s1 != 0


def test_line_substring(spark):
    df = (spark.createDataFrame(
        [(1, "LINESTRING (0 0, 4 0, 4 3)")], "id long, w string")
        .withColumn("g", st.from_wkt("w")))
    r = df.select(
        st.length(st.line_substring("g", 1.0, 6.0)).alias("l1"),
        st.length(st.line_substring("g", 0.0, 7.0)).alias("l2"),
        # normalized quarter..three-quarter
        st.length(st.line_substring("g", 0.25, 0.75, normalized=True))
          .alias("l3"),
        # reversed: start > end
        st.x(st.line_interpolate_point(
            st.line_substring("g", 6.0, 1.0), 0.0)).alias("rx0"),
        # degenerate start == end -> POINT
        st.geom_type_name(st.line_substring("g", 2.0, 2.0)).alias("tp"),
        st.x(st.line_substring("g", 2.0, 2.0)).alias("px"),
        # clamped beyond the ends
        st.length(st.line_substring("g", -5.0, 99.0)).alias("lc"),
        # vertex at the cut is not duplicated
        F.size(st.line_substring("g", 0.0, 4.0)["xs"]).alias("nv")).first()
    assert r.l1 == pytest.approx(5.0)
    assert r.l2 == pytest.approx(7.0)
    assert r.l3 == pytest.approx(3.5)
    assert r.rx0 == pytest.approx(4.0)   # reversed starts at distance 6
    assert r.tp == "Point" and r.px == pytest.approx(2.0)
    assert r.lc == pytest.approx(7.0)
    assert r.nv == 2                     # (0 0) -> (4 0), no dup vertex


def test_azimuth(spark):
    import math as m
    df = spark.createDataFrame([(1,)], "id long") \
        .withColumn("o", st.point(F.lit(0.0), F.lit(0.0)))
    r = df.select(
        st.azimuth("o", st.point(F.lit(0.0), F.lit(5.0))).alias("n"),
        st.azimuth("o", st.point(F.lit(3.0), F.lit(0.0))).alias("e"),
        st.azimuth("o", st.point(F.lit(0.0), F.lit(-2.0))).alias("s"),
        st.azimuth("o", st.point(F.lit(-1.0), F.lit(0.0))).alias("w"),
        st.azimuth("o", st.point(F.lit(1.0), F.lit(1.0))).alias("ne"),
        st.azimuth("o", F.col("o")).alias("self")).first()
    assert r.n == pytest.approx(0.0)
    assert r.e == pytest.approx(m.pi / 2)
    assert r.s == pytest.approx(m.pi)
    assert r.w == pytest.approx(3 * m.pi / 2)
    assert r.ne == pytest.approx(m.pi / 4)
    assert r.self is None


def test_line_ref_stats_matches_native(spark):
    """r13 fused battery == the eight native linear-ref expressions,
    BIT-exactly (no rounding): randomized polylines with 2..7 vertices
    (ragged vertex counts exercise the per-group vectorization),
    degenerate zero-length segments, and non-LINESTRING rows (both
    sides null)."""
    import random
    rng = random.Random(1313)
    rows = []
    for i in range(120):
        nv = rng.choice([2, 3, 3, 4, 5, 7])
        xs = [round(rng.uniform(-40, 40), 3) for _ in range(nv)]
        ys = [round(rng.uniform(-40, 40), 3) for _ in range(nv)]
        if i % 11 == 0 and nv >= 3:
            xs[1], ys[1] = xs[0], ys[0]      # zero-length segment
        qx, qy = round(rng.uniform(-45, 45), 3), round(rng.uniform(-45, 45), 3)
        rows.append((i, xs, ys, qx, qy))
    df = spark.createDataFrame(
        rows, "id long, xs array<double>, ys array<double>, "
              "qx double, qy double")
    one = F.transform(F.col("xs"), lambda _: F.lit(1))
    d = df.select(
        "id",
        st.geom_struct(F.when(F.col("id") % 17 == 0, F.lit(0))
                       .otherwise(F.lit(1)),
                       F.col("xs"), F.col("ys"),
                       F.array(F.size("xs").cast("int")),
                       F.array(F.lit(1))).alias("ln"),
        st.geom_struct(F.lit(0), F.array(F.col("qx")),
                       F.array(F.col("qy")), F.array(F.lit(1)),
                       F.array(F.lit(1))).alias("q"))
    d = d.select("id", st.freeze(F.col("ln")).alias("ln"),
                 st.freeze(F.col("q")).alias("q"))
    interp = st.freeze(st.line_interpolate_point("ln", F.lit(0.6),
                                                 normalized=True))
    rev0 = st.freeze(st.line_interpolate_point(st.reverse("ln"),
                                               F.lit(0.0)))
    seg_c = st.freeze(st.segmentize("ln", 2.5))
    nat = (d.withColumn("__interp", interp)
           .withColumn("__rev0", rev0)
           .withColumn("__seg", seg_c)
           .select(
               "id",
               st.x(F.col("__interp")).alias("ix"),
               st.y(F.col("__interp")).alias("iy"),
               st.line_locate_point("ln", "q").alias("loc"),
               st.line_locate_point("ln", "q", normalized=True)
                 .alias("loc_frac"),
               F.size(F.col("__seg")["xs"]).cast("long")
                 .alias("seg_npts"),
               st.length(F.col("__seg")).alias("seg_len"),
               st.x(F.col("__rev0")).alias("rev_x"),
               st.y(F.col("__rev0")).alias("rev_y")))
    fus = d.select("id", st.line_ref_stats("ln", "q", 0.6, 2.5)
                   .alias("m")).select("id", "m.*")
    nat_r = {r.id: r for r in nat.collect()}
    fus_r = {r.id: r for r in fus.collect()}
    assert set(nat_r) == set(fus_r)
    for i in nat_r:
        if i % 17 == 0:
            # non-LINESTRING row: outside the battery's documented
            # domain — every battery field is null (the native chain
            # differs only on segmentize, which passes points through)
            for f in ("ix", "iy", "loc", "loc_frac", "seg_npts",
                      "seg_len", "rev_x", "rev_y"):
                assert getattr(fus_r[i], f) is None, (i, f)
            continue
        for f in ("ix", "iy", "loc", "loc_frac", "seg_npts",
                  "seg_len", "rev_x", "rev_y"):
            a, b = getattr(nat_r[i], f), getattr(fus_r[i], f)
            assert a == b or (a is None and b is None), (i, f, a, b)


def test_sequential_row_sums_skewed():
    """The line_ref_stats length fold on a skewed batch (one 100k-value
    row among 1k short rows, plus an empty row): bit-equal to a Python
    left-to-right sum, with memory near the input size, not rows x the
    longest row (a single padded matrix would need ~800 MB here)."""
    import tracemalloc

    import numpy as np

    from arctic_spark.functions.udfs import sequential_row_sums
    rng = np.random.default_rng(5)
    counts = rng.integers(1, 9, 1001)
    counts[500] = 100_000
    counts[7] = 0
    vals = rng.uniform(0.0, 3.0, int(counts.sum())) ** 3
    want, i = [], 0
    for c in counts:
        s = 0.0
        for v in vals[i:i + c]:
            s += float(v)
        want.append(s)
        i += c
    tracemalloc.start()
    try:
        got = sequential_row_sums(vals, counts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got.tolist() == want
    assert peak < 16 * vals.nbytes
