"""Spatial join tests replicating the reference's Rust test fixtures
exactly (geopolars/src/spatial_index.rs:432-556): 9 points × 1 polygon,
inner=(2,4), left=(9,4), suffixed column names."""

import pytest
from pyspark.sql import functions as F

from arctic_spark import GeoDataFrame, st
from arctic_spark.joins import dwithin_join, spatial_join

POINTS = [(0.0, 10.0), (1.0, 1.0), (10.0, 1.0), (1.0, -1.0), (0.0, -10.0),
          (-1.0, -1.0), (-10.0, 0.0), (-1.0, 1.0), (0.0, 10.0)]


@pytest.fixture(scope="module")
def points_df(spark, tmp_path_factory):
    # materialize through parquet so join-plan assertions see pure
    # FileScans (no ingest UDF in the lineage)
    rows = [(float(i + 1), x, y) for i, (x, y) in enumerate(POINTS)]
    df = spark.createDataFrame(rows, "point_values double, x double, y double") \
        .select("point_values",
                st.point(F.col("x"), F.col("y")).alias("geometry"))
    path = str(tmp_path_factory.mktemp("sj") / "points.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def poly_df(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [("test", "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")],
        "string_col string, wkt string") \
        .select("string_col", st.from_wkt("wkt").alias("geometry"))
    path = str(tmp_path_factory.mktemp("sj") / "polys.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_inner_join_f5(points_df, poly_df):
    out = spatial_join(points_df, poly_df, how="inner").df
    assert set(out.columns) == {"point_values_left", "geometry_left",
                                "string_col_right", "geometry_right"}
    rows = out.collect()
    assert len(rows) == 2  # spatial_index.rs:457: inner → (2, 4)
    vals = sorted(r["point_values_left"] for r in rows)
    assert vals == [2.0, 3.0]  # points (1,1) and (10,1)
    assert all(r["string_col_right"] == "test" for r in rows)


def test_left_join_f5(points_df, poly_df):
    out = spatial_join(points_df, poly_df, how="left").df
    rows = out.collect()
    assert len(rows) == 9  # spatial_index.rs:478: left → (9, 4)
    matched = [r for r in rows if r["string_col_right"] is not None]
    assert sorted(r["point_values_left"] for r in matched) == [2.0, 3.0]


def test_left_join_map_column(spark, poly_df):
    """ADVICE r2: left join must work when the left side carries a
    MapType column (maps are not comparable, so a value-equality
    anti-join would throw) and duplicate-valued rows must each survive."""
    rows = [(1.0, 1.0, 1.0), (1.0, 1.0, 1.0), (20.0, 20.0, 3.0)]
    df = (spark.createDataFrame(rows, "x double, y double, v double")
          .select("v", st.point(F.col("x"), F.col("y")).alias("geometry"),
                  F.create_map(F.lit("k"), F.col("v")).alias("meta")))
    out = spatial_join(df, poly_df, how="left").df.collect()
    assert len(out) == 3  # both duplicate rows present
    matched = [r for r in out if r["string_col_right"] is not None]
    assert sorted(r["v_left"] for r in matched) == [1.0, 1.0]


def test_custom_suffixes(points_df, poly_df):
    out = spatial_join(points_df, poly_df, lsuffix="_a", rsuffix="_b").df
    assert set(out.columns) == {"point_values_a", "geometry_a",
                                "string_col_b", "geometry_b"}


def test_contains_predicate(points_df, poly_df):
    # reference maps point/polygon Contains to the same
    # polygon.contains(point) — identical result (spatial_index.rs:91-101)
    out = spatial_join(poly_df, points_df, predicate="contains").df
    assert out.count() == 2


def test_unsupported_how(points_df, poly_df):
    with pytest.raises(ValueError, match="not supported"):
        spatial_join(points_df, poly_df, how="outer")
    with pytest.raises(ValueError, match="predicate"):
        spatial_join(points_df, poly_df, predicate="equals")


def test_native_only_refine(points_df, poly_df):
    out = spatial_join(points_df, poly_df, points_left=True).df
    assert out.count() == 2
    # plan must not contain a Python evaluation node
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_broadcast_right(points_df, poly_df):
    out = spatial_join(points_df, poly_df, broadcast_right=True,
                       points_left=True)
    assert out.df.count() == 2
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_polygon_polygon_intersects(spark):
    polys1 = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
         (2, "POLYGON ((30 30, 40 30, 40 40, 30 40, 30 30))")],
        "id int, wkt string").select(
            "id", st.from_wkt("wkt").alias("geometry"))
    polys2 = spark.createDataFrame(
        [(10, "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"),
         (20, "POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))")],
        "id int, wkt string").select(
            "id", st.from_wkt("wkt").alias("geometry"))
    out = spatial_join(polys1, polys2).df
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["id_left"] == 1 and rows[0]["id_right"] == 10


def test_dwithin_join(points_df):
    other = points_df.select(F.col("point_values").alias("pv"), "geometry")
    out = dwithin_join(points_df, GeoDataFrame(other), distance=3.0,
                       points_only=True).df
    rows = out.collect()
    # pairs within 3.0: each point with itself (incl. the duplicate
    # (0,10) pair both ways), plus the cluster around (±1, ±1)
    import math
    exp = 0
    for i, (x1, y1) in enumerate(POINTS):
        for j, (x2, y2) in enumerate(POINTS):
            if math.hypot(x1 - x2, y1 - y2) <= 3.0:
                exp += 1
    assert len(rows) == exp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan


def test_left_join_with_key_no_persist(spark, points_df, poly_df):
    """left_key path: identical results to the keyless left join, with
    NOTHING persisted (VERDICT r4 #4 — the keyless path must pin the
    id-tagged left side; a unique key removes the need)."""
    left = points_df.withColumn("pid", F.col("point_values"))
    out = spatial_join(left, poly_df, how="left", left_key="pid")
    rows = out.df.collect()
    assert len(rows) == 9
    matched = [r for r in rows if r["string_col_right"] is not None]
    assert sorted(r["point_values_left"] for r in matched) == [2.0, 3.0]
    # keyless pins left+matched; keyed pins only the matched branch
    from arctic_spark.cache import pinned
    assert len(pinned(out)) == 1
    with pytest.raises(ValueError, match="left_key"):
        spatial_join(left, poly_df, how="left", left_key="nope")


def test_release_unpersists(spark, points_df, poly_df):
    """Persisted intermediates are pinned on the result and freed by
    release() — repeated joins must not accumulate session-lifetime
    cached blocks."""
    sc = spark.sparkContext
    out = spatial_join(points_df, poly_df, how="left")
    out.df.count()
    from arctic_spark.cache import pinned
    handles = pinned(out)
    assert len(handles) == 2  # id-tagged left + matched
    assert any(h.storageLevel.useMemory or h.storageLevel.useDisk
               for h in handles)
    freed = out.release()
    assert freed == 2
    assert all(not (h.storageLevel.useMemory or h.storageLevel.useDisk)
               for h in handles)
    assert out.release() == 0  # idempotent


def test_nearest_join(spark):
    from arctic_spark.joins import nearest_join
    left = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, 5.0), (3, 100.0, 100.0)],
        "lid long, x double, y double") \
        .select("lid", st.point(F.col("x"), F.col("y")).alias("geometry"))
    right = spark.createDataFrame(
        [(10, 2.0, 1.0), (20, 6.0, 5.0), (30, 0.0, 0.0)],
        "rid long, x double, y double") \
        .select("rid", st.point(F.col("x"), F.col("y")).alias("geometry"))
    out = nearest_join(left, right, max_distance=2.0, k=1,
                       left_key="lid").df
    rows = {r.lid_left: r for r in out.collect()}
    assert set(rows) == {1, 2}  # (100,100) has nothing within 2
    assert rows[1].rid_right == 10 and rows[1].distance == 1.0
    assert rows[2].rid_right == 20 and rows[2].distance == 1.0
    # k=2 adds (0,0) at distance sqrt(2) for left point 1
    out2 = nearest_join(left, right, max_distance=2.0, k=2,
                        left_key="lid").df
    got = sorted((r.lid_left, r.rid_right, round(r.distance, 6))
                 for r in out2.collect())
    assert got == [(1, 10, 1.0), (1, 30, round(2 ** 0.5, 6)),
                   (2, 20, 1.0)]
    with pytest.raises(ValueError, match="left_key"):
        nearest_join(left, right, max_distance=2.0)


def test_overlay_intersection_rect_grid(spark):
    """Overlay intersection of two shifted rect grids: every pairwise
    area has the closed interval-arithmetic form."""
    from arctic_spark.joins import overlay

    def rects(n, dx, dy, w, tag):
        df = (spark.range(0, n)
              .withColumn("x0", (F.col("id") % 3).cast("double") * 2.0 + dx)
              .withColumn("y0", (F.col("id") / 3).cast("int")
                          .cast("double") * 2.0 + dy))
        g = st.make_envelope(F.col("x0"), F.col("y0"),
                             F.col("x0") + w, F.col("y0") + w)
        return GeoDataFrame(
            df.select(F.col("id").alias(f"{tag}_id"), g.alias("geometry")))

    a = rects(9, 0.0, 0.0, 1.5, "a")
    b = rects(9, 0.7, 0.9, 1.5, "b")
    out = overlay(a, b, how="intersection")
    rows = out.df.select("a_id_1", "b_id_2",
                         st.area("geometry").alias("ar")).collect()
    # python oracle
    import itertools
    want = {}
    for i, j in itertools.product(range(9), range(9)):
        ax0, ay0 = (i % 3) * 2.0, (i // 3) * 2.0
        bx0, by0 = (j % 3) * 2.0 + 0.7, (j // 3) * 2.0 + 0.9
        w = min(ax0 + 1.5, bx0 + 1.5) - max(ax0, bx0)
        h = min(ay0 + 1.5, by0 + 1.5) - max(ay0, by0)
        if w > 0 and h > 0:
            want[(i, j)] = w * h
    got = {(r.a_id_1, r.b_id_2): r.ar for r in rows}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_overlay_difference(spark):
    from arctic_spark.joins import overlay
    left = GeoDataFrame(spark.createDataFrame(
        [(1,), (2,)], "lid long").withColumn(
            "geometry", st.make_envelope(
                F.lit(0.0) + (F.col("lid") - 1) * 10.0, F.lit(0.0),
                F.lit(4.0) + (F.col("lid") - 1) * 10.0, F.lit(4.0))))
    # two clips overlapping left row 1 only; row 2 untouched
    right = GeoDataFrame(spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 2.0), (2, 2.0, 0.0, 4.0, 2.0)],
        "rid long, x0 double, y0 double, x1 double, y1 double")
        .withColumn("geometry", st.make_envelope(
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))))
    out = overlay(left, right, how="difference", left_key="lid")
    got = {r.lid: r.ar for r in out.df.select(
        "lid", st.area("geometry").alias("ar")).collect()}
    # row 1: 4x4 minus the union strip 4x2 -> 8 ; row 2: untouched 16
    assert abs(got[1] - 8.0) < 1e-9
    assert abs(got[2] - 16.0) < 1e-9

    with pytest.raises(ValueError):
        overlay(left, right, how="difference")
    with pytest.raises(ValueError):
        overlay(left, right, how="union")


def test_overlay_union_identity_symdiff(spark):
    """The three composite overlay modes vs closed-form areas.

    left: lid1 = (0,0,4,4), lid2 = (10,0,14,4).
    right: rid1 = (0,0,2,2) wholly inside lid1;
           rid2 = (2,0,6,2) half in lid1, half outside.
    """
    from arctic_spark.joins import overlay
    left = GeoDataFrame(spark.createDataFrame(
        [(1,), (2,)], "lid long").withColumn(
            "geometry", st.make_envelope(
                (F.col("lid") - 1) * 10.0, F.lit(0.0),
                F.lit(4.0) + (F.col("lid") - 1) * 10.0, F.lit(4.0))))
    right = GeoDataFrame(spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 2.0), (2, 2.0, 0.0, 6.0, 2.0)],
        "rid long, x0 double, y0 double, x1 double, y1 double")
        .select("rid", st.make_envelope(
            F.col("x0"), F.col("y0"), F.col("x1"),
            F.col("y1")).alias("geometry")))

    def rows_of(how, **kw):
        out = overlay(left, right, how=how, left_key="lid",
                      lsuffix="_1", rsuffix="_2", **kw)
        assert out.df.columns == ["lid_1", "rid_2", "geometry"]
        key = (lambda t: (t[0] if t[0] is not None else -1,
                          t[1] if t[1] is not None else -1, t[2]))
        return sorted(
            ((r.lid_1, r.rid_2, round(r.ar, 9)) for r in out.df.select(
                "lid_1", "rid_2",
                st.area("geometry").alias("ar")).collect()), key=key)

    key = (lambda t: (t[0] if t[0] is not None else -1,
                      t[1] if t[1] is not None else -1, t[2]))
    # union: 2 intersection pieces + 2 left leftovers + 1 right
    # leftover (rid1 is wholly consumed by lid1)
    assert rows_of("union", right_key="rid") == sorted([
        (1, 1, 4.0), (1, 2, 4.0),        # intersections
        (1, None, 8.0), (2, None, 16.0),  # left minus right union
        (None, 2, 4.0),                   # rid2's outside half
    ], key=key)
    # identity: union restricted to the left extent
    assert rows_of("identity") == sorted([
        (1, 1, 4.0), (1, 2, 4.0), (1, None, 8.0), (2, None, 16.0)],
        key=key)
    # symmetric difference: both leftovers, no intersection pieces
    assert rows_of("symmetric_difference", right_key="rid") == sorted([
        (1, None, 8.0), (2, None, 16.0), (None, 2, 4.0)], key=key)
    # composite modes demand their keys
    with pytest.raises(ValueError):
        overlay(left, right, how="union", left_key="lid")
    with pytest.raises(ValueError):
        overlay(left, right, how="identity")


def test_sjoin_within_predicate(spark):
    """within == contains with sides swapped; column order stays
    left-first."""
    small = GeoDataFrame(spark.createDataFrame([(1,), (2,)], "sid long")
        .withColumn("geometry", st.make_envelope(
            F.col("sid").cast("double") * 10.0, F.lit(0.0),
            F.col("sid").cast("double") * 10.0 + 1.0, F.lit(1.0))))
    big = GeoDataFrame(spark.createDataFrame([(1,)], "bid long")
        .withColumn("geometry", st.make_envelope(
            F.lit(9.0), F.lit(-1.0), F.lit(12.0), F.lit(2.0))))
    out = spatial_join(small, big, predicate="within")
    rows = out.df.collect()
    assert len(rows) == 1
    assert rows[0].sid_left == 1 and rows[0].bid_right == 1
    assert out.df.columns[0] == "sid_left"
    assert out.geometry_column == "geometry_left"
    with pytest.raises(ValueError):
        spatial_join(small, big, how="left", predicate="within")


def test_sjoin_touches_overlaps_predicates(spark):
    """DE-9IM join predicates: exact kernel refine after the grid
    prefilter."""
    a = GeoDataFrame(spark.createDataFrame(
        [(1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
         (2, "POLYGON ((10 0, 12 0, 12 2, 10 2, 10 0))")],
        "aid long, wkt string").select(
            "aid", st.from_wkt("wkt").alias("geometry")))
    b = GeoDataFrame(spark.createDataFrame(
        # touches a1 along an edge; overlaps a2
        [(1, "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"),
         (2, "POLYGON ((11 1, 13 1, 13 3, 11 3, 11 1))")],
        "bid long, wkt string").select(
            "bid", st.from_wkt("wkt").alias("geometry")))
    t = spatial_join(a, b, predicate="touches").df.collect()
    assert [(r.aid_left, r.bid_right) for r in t] == [(1, 1)]
    o = spatial_join(a, b, predicate="overlaps").df.collect()
    assert [(r.aid_left, r.bid_right) for r in o] == [(2, 2)]
    with pytest.raises(ValueError, match="points_left"):
        spatial_join(a, b, predicate="touches", points_left=True)


def test_sjoin_crosses_predicate(spark):
    lines = GeoDataFrame(spark.createDataFrame(
        [(1, "LINESTRING (0 0, 4 4)"), (2, "LINESTRING (10 10, 14 14)")],
        "lid long, wkt string").select(
            "lid", st.from_wkt("wkt").alias("geometry")))
    polys = GeoDataFrame(spark.createDataFrame(
        [(7, "POLYGON ((1 0, 3 0, 3 9, 1 9, 1 0))")],
        "pid long, wkt string").select(
            "pid", st.from_wkt("wkt").alias("geometry")))
    out = spatial_join(lines, polys, predicate="crosses").df.collect()
    assert [(r.lid_left, r.pid_right) for r in out] == [(1, 7)]


def _diamond_frame(spark, ids, mult, r_base):
    """Small L1-ball diamond fixture (the geo_diamond_join shape)."""
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    cx = ((F.col("id") * mult) % 2000).cast("double") / 100.0
    cy = ((F.col("id") * 40503 + 7) % 2000).cast("double") / 100.0
    r = F.lit(r_base) + (F.col("id") % 3).cast("double") * F.lit(0.6013)
    poly = st.make_polygon(F.array(cx - r, cx, cx + r, cx),
                           F.array(cy, cy - r, cy, cy + r))
    return GeoDataFrame(df.select("id", poly.alias("geometry")))


def _diamond_params(ids, mult, r_base):
    """Center and radius per id of :func:`_diamond_frame`, in the same
    double arithmetic."""
    return {i: (((i * mult) % 2000) / 100.0,
                ((i * 40503 + 7) % 2000) / 100.0,
                r_base + float(i % 3) * 0.6013) for i in ids}


@pytest.mark.parametrize("predicate", ["intersects", "contains"])
def test_diamond_join_matches_l1_criterion(spark, predicate):
    """The default refine on the geo_diamond_join shape returns exactly
    the closed-form L1-ball pairs: intersects iff |dx|+|dy| <= r1+r2,
    left contains right iff |dx|+|dy| + r2 <= r1."""
    lids, rids = range(1, 120), range(1, 40)
    left = _diamond_frame(spark, lids, 2654435761, 4.9717)
    right = _diamond_frame(spark, rids, 69069, 1.4431)
    want, margin = [], []
    for a, (ax, ay, ar) in _diamond_params(lids, 2654435761,
                                           4.9717).items():
        for b, (bx, by, br) in _diamond_params(rids, 69069,
                                               1.4431).items():
            d = abs(ax - bx) + abs(ay - by)
            slack = ar + br - d if predicate == "intersects" else ar - br - d
            margin.append(abs(slack))
            if slack >= 0:
                want.append((a, b))
    assert min(margin) > 1e-3  # tie-free
    assert len(want) > 100
    out = spatial_join(left, right, predicate=predicate)
    got = sorted((r.id_left, r.id_right) for r in out.df.collect())
    assert got == sorted(want)


def test_dwithin_points_fast_path_matches_general(spark, points_df):
    """r13: the points_only dwithin fast path (materialized coords,
    single-cell right side, squared-distance refine) must return the
    exact pair set of the general meta-struct path."""
    other = points_df.select(F.col("point_values").alias("pv"), "geometry")
    fast = dwithin_join(points_df, GeoDataFrame(other), distance=3.0,
                        points_only=True).df
    slow = dwithin_join(points_df, GeoDataFrame(other), distance=3.0,
                        points_only=False).df
    assert sorted(fast.columns) == sorted(slow.columns)
    key = lambda r: (r["point_values_left"], r["pv_right"])
    assert sorted(map(key, fast.collect())) == \
        sorted(map(key, slow.collect()))
    # the fast path never touches a Python worker and never explodes
    # the right side
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def _mixed_rows():
    """120 geometries on small integer coordinates, so boundary ties are
    common: points on edges and vertices, rectangles sharing edges,
    diamonds, holed polygons, multipolygons, lines, L-shapes, nulls and
    empties."""
    import random
    rnd = random.Random(11)

    def ring(pts):
        pts = list(pts) + [pts[0]]
        return "(" + ", ".join(f"{x} {y}" for x, y in pts) + ")"

    def rect(x0, y0, w, h):
        return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]

    def ri(a, b):
        return rnd.randint(a, b)

    kinds = ["point", "point", "rect", "diamond", "holed", "multi", "line",
             "ell", "point", "rect", "tri", "edge_point"]
    rows = []
    for i in range(120):
        k = kinds[i % len(kinds)]
        if k == "point":
            wkt = f"POINT ({ri(0, 10)} {ri(0, 10)})"
        elif k == "edge_point":
            # half-integer on a grid line: on rectangle edges, off vertices
            wkt = f"POINT ({ri(0, 10)} {ri(0, 9)}.5)"
        elif k == "rect":
            box = rect(ri(0, 8), ri(0, 8), ri(1, 3), ri(1, 3))
            wkt = f"POLYGON ({ring(box)})"
        elif k == "diamond":
            cx, cy, r = ri(1, 9), ri(1, 9), ri(1, 2)
            dia = [(cx - r, cy), (cx, cy - r), (cx + r, cy), (cx, cy + r)]
            wkt = f"POLYGON ({ring(dia)})"
        elif k == "holed":
            x0, y0 = ri(0, 5), ri(0, 5)
            wkt = (f"POLYGON ({ring(rect(x0, y0, 4, 4))}, "
                   f"{ring(rect(x0 + 1, y0 + 1, 2, 2)[::-1])})")
        elif k == "multi":
            x0, y0 = ri(0, 7), ri(0, 7)
            wkt = (f"MULTIPOLYGON (({ring(rect(x0, y0, 1, 2))}), "
                   f"({ring(rect(x0 + 2, y0, 2, 1))}))")
        elif k == "line":
            wkt = (f"LINESTRING ({ri(0, 10)} {ri(0, 10)}, "
                   f"{ri(0, 10)} {ri(0, 10)}, {ri(0, 10)} {ri(0, 10)})")
        elif k == "ell":
            x0, y0 = ri(0, 6), ri(0, 6)
            ell = [(x0, y0), (x0 + 4, y0), (x0 + 4, y0 + 1),
                   (x0 + 1, y0 + 1), (x0 + 1, y0 + 3), (x0, y0 + 3)]
            wkt = f"POLYGON ({ring(ell)})"
        else:
            x0, y0 = ri(0, 7), ri(0, 7)
            wkt = f"POLYGON ({ring([(x0, y0), (x0 + 3, y0), (x0, y0 + 3)])})"
        if i % 29 == 5:
            wkt = None
        elif i % 31 == 7:
            wkt = "POLYGON EMPTY"
        elif i % 37 == 9:
            wkt = "POINT EMPTY"
        rows.append((i, wkt))
    return rows


@pytest.fixture(scope="module")
def mixed_df(spark, tmp_path_factory):
    df = spark.createDataFrame(_mixed_rows(), "id long, wkt string") \
        .select("id", st.from_wkt("wkt").alias("geometry"))
    path = str(tmp_path_factory.mktemp("sj") / "mixed.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# NaN coordinates near the origin: an axis rectangle only in Catalyst's
# NaN order (NaN = NaN, array_max = NaN), a point equal to its twin
# only there, NaN vertices in a diamond, a square and a line
_NAN_WKT = ["POINT (NaN NaN)", "POINT (NaN NaN)", "POINT (1 NaN)",
            "POINT (NaN 1)", "POLYGON ((0 0, NaN 0, NaN 2, 0 2, 0 0))",
            "POLYGON ((0 0, 2 0, 2 NaN, 0 2, 0 0))",
            "POLYGON ((1 0, 2 1, 1 NaN, 0 1, 1 0))",
            "LINESTRING (0 0, NaN NaN, 2 2)"]


@pytest.fixture(scope="module")
def mixed_nan_df(spark, tmp_path_factory):
    """The mixed fixture plus the NaN rows (ids 1000 + i). from_wkt
    reads NaN as a null coordinate; the rows get real NaN doubles."""
    rows = _mixed_rows() + [(1000 + i, w) for i, w in enumerate(_NAN_WKT)]
    nan = F.lit(float("nan"))
    g = st.from_wkt("wkt")
    df = spark.createDataFrame(rows, "id long, wkt string").select(
        "id", g.alias("geometry"))
    g = F.col("geometry")
    df = df.withColumn("geometry", g.withField(
        "xs", F.transform(g["xs"], lambda v: F.coalesce(v, nan))).withField(
        "ys", F.transform(g["ys"], lambda v: F.coalesce(v, nan))))
    path = str(tmp_path_factory.mktemp("sj") / "mixed_nan.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _bbox_candidates(df, predicate):
    """Every bbox-overlapping pair (ia, ib, ga, gb) of ``df`` with
    itself, and the exact kernel's answer ``k`` on it."""
    from arctic_spark.functions import native, udfs
    a = df.select(F.col("id").alias("ia"), F.col("geometry").alias("ga"))
    b = df.select(F.col("id").alias("ib"), F.col("geometry").alias("gb"))
    ga, gb = F.col("ga"), F.col("gb")
    ax0, ay0, ax1, ay1 = native.bounds(ga)
    bx0, by0, bx1, by1 = native.bounds(gb)
    kern = udfs.intersects if predicate == "intersects" else udfs.contains
    return (a.crossJoin(b)
            .where((ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1))
            .withColumn("k", kern(ga, gb)))


def _when_chain(predicate):
    """The refine as the join planned it before it became one Arrow
    kernel, over a :func:`_bbox_candidates` frame: the rect shape flags,
    the Catalyst boundary-exclusive ray cast and point equality in a
    `when` chain, the exact kernel as the fallback."""
    from arctic_spark.functions import native
    ga, gb = F.col("ga"), F.col("gb")
    ax0, ay0, ax1, ay1 = native.bounds(ga)
    bx0, by0, bx1, by1 = native.bounds(gb)
    both_rect = native.is_axis_rect(ga) & native.is_axis_rect(gb)
    rect_ans = F.lit(True) if predicate == "intersects" else (
        (ax0 <= bx0) & (bx1 <= ax1) & (ay0 <= by0) & (by1 <= ay1))
    point_a, point_b = ga["gt"] == 0, gb["gt"] == 0
    return F.when(both_rect, rect_ans).otherwise(
        F.when(point_a & gb["gt"].isin(3, 6),
               native.contains_point(gb, native.x(ga), native.y(ga)))
        .when(point_b & ga["gt"].isin(3, 6),
              native.contains_point(ga, native.x(gb), native.y(gb)))
        .when(point_a & point_b, (native.x(ga) == native.x(gb))
              & (native.y(ga) == native.y(gb)))
        .otherwise(F.col("k")))


def _pairs(df):
    return sorted((r.ia, r.ib) for r in df.select("ia", "ib").collect())


def _when_chain_pairs(df, predicate):
    """Pairs of the pre-kernel `when` chain over every bbox-overlapping
    pair of ``df`` with itself."""
    return _pairs(_bbox_candidates(df, predicate)
                  .where(_when_chain(predicate)))


@pytest.mark.parametrize("predicate", ["intersects", "contains"])
def test_kernel_refine_matches_when_chain(mixed_df, predicate):
    """The one-kernel refine returns exactly the pairs of the `when`
    chain it replaced, ties included."""
    out = spatial_join(mixed_df, mixed_df, predicate=predicate,
                       cell_size=3.0)
    got = sorted((r.id_left, r.id_right) for r in out.df.collect())
    want = _when_chain_pairs(mixed_df, predicate)
    assert len(want) > 100
    assert got == want


@pytest.mark.parametrize("predicate", ["intersects", "contains"])
def test_points_left_matches_when_chain(mixed_df, predicate):
    """The pure-JVM points_left refine keeps exactly the `when` chain's
    pairs whose right side is a point, polygon or multipolygon; pairs
    with any other right type are False."""
    gt = {r.id: r.gt for r in mixed_df.select(
        "id", F.col("geometry.gt").alias("gt")).collect()}
    points = mixed_df.where(F.col("geometry.gt") == 0)
    out = spatial_join(points, mixed_df, predicate=predicate,
                       cell_size=3.0, points_left=True)
    got = sorted((r.id_left, r.id_right) for r in out.df.collect())
    chain = [(a, b) for a, b in _when_chain_pairs(mixed_df, predicate)
             if gt[a] == 0]
    want = [(a, b) for a, b in chain if gt[b] in (0, 3, 6)]
    assert len(want) > 50
    assert got == want
    if predicate == "intersects":
        # the chain's kernel fallback matches points on lines, which
        # points_left drops
        assert len(chain) > len(want)


def test_kernel_refine_plan_shape(mixed_df):
    """The default polygon join plans one Python node, a refine Filter
    without lambda HOFs, and join metadata of bounds and cells only;
    the pure-JVM points_left join plans no Python node and carries the
    rect flag on its right side only."""
    out = spatial_join(mixed_df, mixed_df, cell_size=3.0).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    refine = [ln for ln in plan.splitlines()
              if "Filter " in ln and "pythonUDF" in ln]
    assert len(refine) == 1
    assert "lambdafunction" not in refine[0]
    assert ", rect, " not in plan and ", cvx, " not in plan
    points = mixed_df.where(F.col("geometry.gt") == 0)
    pip = spatial_join(points, mixed_df, cell_size=3.0,
                       points_left=True).df
    plan = pip._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert ", rect, " in plan and ", cvx, " not in plan


@pytest.mark.parametrize("predicate", ["intersects", "contains"])
def test_kernel_refine_nan_matches_when_chain(mixed_nan_df, predicate):
    """With NaN coordinates the kernel keeps exactly the pairs of the
    `when` chain: it compares doubles in Catalyst's order (NaN above
    every number, NaN = NaN). Both refines read one bbox candidate set:
    the grid files NaN bounds under cell 0, so spatial_join's candidates
    for NaN rows differ from a bbox scan whatever the refine."""
    from arctic_spark.functions import udfs
    cand = _bbox_candidates(mixed_nan_df, predicate)
    got = _pairs(cand.where(F.coalesce(
        udfs.join_refine(F.col("ga"), F.col("gb"), predicate),
        F.lit(False))))
    want = _pairs(cand.where(_when_chain(predicate)))
    # the NaN points equal each other in Catalyst
    assert (1000, 1001) in want
    assert sum(a >= 1000 or b >= 1000 for a, b in want) > 5
    assert got == want
