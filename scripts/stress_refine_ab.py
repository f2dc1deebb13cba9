"""Stress-scale A/B of the spatial join's refine expressions over one
persisted candidate-pair set (>=10M pairs by default), same session
(STRESS protocol).

Arm B: the Arrow-batched exact kernel alone — the cost floor that the
arm C refines add their per-pair dispatch to.

  B. Arrow kernel: where(udfs.intersects(lg, rg))         [geom/batch]

Arm C: the join's former default refine — a Catalyst `when` chain
(rectangle flags, ray cast, point equality) around the general kernel
UDF — against the one-kernel refine that replaced it (udfs.join_refine,
whose numpy dispatch does the same per-pair routing). Both ship every
candidate row through Arrow; C shows whether the numpy dispatch adds
per-row cost.

  C. when_chain_udf: when(rect & rect, ...).when(point/polygon, ray
                     cast)...otherwise(udfs.intersects(lg, rg))
     join_refine:    where(coalesce(udfs.join_refine(lg, rg), false))

Every side runs over the same cached candidates, counts must agree
exactly (all are exact for these tie-free convex polygons), and each
side runs ``passes`` times with the min reported (warm cache).

Usage: python scripts/stress_refine_ab.py [n_left] [n_right] [passes]
                                          [predicate]
predicate 'contains' runs the batch contains kernel instead. Run with
SPARK_DRIVER_MEMORY=48g for the 10M-pair default.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from arctic_spark import GeoDataFrame, st  # noqa: E402
from arctic_spark.functions import native  # noqa: E402
from arctic_spark.functions import udfs  # noqa: E402
from arctic_spark.joins import _with_cells  # noqa: E402
from arctic_spark.session import get_spark  # noqa: E402


def _diamonds(spark, n, key, domain, r_base=1.37, r_step=0.6,
              mult=2654435761):
    """L1-ball diamonds (the geo_diamond_join shape) with
    deterministic pseudo-random centers on a [0, domain)^2 box,
    radius r_base + (id % 3) * r_step. Radii carry 4-decimal tails
    chosen (per side, see main) so no candidate pair has
    L1distance == r1+r2 — exact-touch configurations are where two
    exact kernels may legitimately differ in floating point, and the
    gate fixture excludes them for the same reason."""
    d100 = int(domain * 100)
    cx = ((F.col("id") * mult) % d100).cast("double") / 100.0
    cy = ((F.col("id") * 40503 + 7) % d100).cast("double") / 100.0
    r = (F.col("id") % 3).cast("double") * r_step + F.lit(r_base)
    return GeoDataFrame(spark.range(n).select(
        F.col("id").alias(key),
        st.make_polygon(F.array(cx - r, cx, cx + r, cx),
                        F.array(cy, cy - r, cy, cy + r))
        .alias("geometry")))


def _when_chain_refine(lg, rg, predicate, kern):
    """The spatial join's default refine expression before it became
    one kernel: rectangle × rectangle from the hoisted flags, then the
    Catalyst ray cast for point/polygon pairs, point equality, and the
    general kernel UDF for every other pair (Spark still evaluates the
    UDF on every row: Python UDFs hoist out of `when`)."""
    if predicate == "intersects":
        rect_ans = F.lit(True)
    else:
        lx0, ly0, lx1, ly1 = native.bounds(lg)
        rx0, ry0, rx1, ry1 = native.bounds(rg)
        rect_ans = ((lx0 <= rx0) & (rx1 <= lx1)
                    & (ly0 <= ry0) & (ry1 <= ly1))
    point_l, point_r = lg["gt"] == 0, rg["gt"] == 0
    return (F.when(F.col("lrect") & F.col("rrect"), rect_ans)
            .otherwise(
                F.when(point_l & rg["gt"].isin(3, 6),
                       native.contains_point(rg, native.x(lg),
                                             native.y(lg)))
                .when(point_r & lg["gt"].isin(3, 6),
                      native.contains_point(lg, native.x(rg),
                                            native.y(rg)))
                .when(point_l & point_r,
                      (native.x(lg) == native.x(rg))
                      & (native.y(lg) == native.y(rg)))
                .otherwise(kern(lg, rg))))


def main():
    n_left = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_right = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    predicate = sys.argv[4] if len(sys.argv) > 4 else "intersects"
    spark = get_spark("arctic_spark-stress-refine-ab")
    sc = spark.sparkContext
    try:
        from pyspark import StorageLevel
        cell = 8.0
        # domain sized for ~3x n_left candidate pairs: with ~2 cells
        # covered per bbox on each side, E[cand] ~ 4 * n_l * n_r *
        # cell^2 / D^2
        # empirical yield of this layout is ~0.25x the estimate, so
        # aim 12x to land ~3x n_left actual candidates
        target = 12.0 * n_left
        domain = (4.0 * n_left * n_right * cell * cell / target) ** 0.5
        # centers land on a 0.01 grid, so L1 distances are (near-)
        # multiples of 0.01; radius tails sum to 0.0048..0.0096 —
        # never a 0.01 multiple — keeping every pair >=1e-3 away from
        # exact touch (FP-robust for both kernels)
        l_base = 4.9717 if predicate == "contains" else 1.3717
        d1 = _diamonds(spark, n_left, "lid", domain,
                       r_base=l_base, r_step=0.6013)
        d2 = _diamonds(spark, n_right, "rid", domain, mult=69069,
                       r_base=1.4431, r_step=0.5711)
        # per-geometry rectangle flags for arm C's `when` chain (the
        # former join metadata), computed once per side
        lc = _with_cells(
            d1.df.select(F.col("lid"),
                         F.col("geometry").alias("geometry_left"),
                         native.is_axis_rect(F.col("geometry"))
                         .alias("lrect")),
            "geometry_left", cell, "__l_")
        rc = _with_cells(
            d2.df.select(F.col("rid"),
                         F.col("geometry").alias("geometry_right"),
                         native.is_axis_rect(F.col("geometry"))
                         .alias("rrect")),
            "geometry_right", cell, "__r_")
        joined = lc.join(rc, (lc["__l_cell.cx"] == rc["__r_cell.cx"])
                         & (lc["__l_cell.cy"] == rc["__r_cell.cy"]),
                         "inner")
        cs = F.lit(cell)
        lx0, ly0 = F.col("__l_meta.xmin"), F.col("__l_meta.ymin")
        lx1, ly1 = F.col("__l_meta.xmax"), F.col("__l_meta.ymax")
        rx0, ry0 = F.col("__r_meta.xmin"), F.col("__r_meta.ymin")
        rx1, ry1 = F.col("__r_meta.xmax"), F.col("__r_meta.ymax")
        bbox_ok = ((lx0 <= rx1) & (rx0 <= lx1)
                   & (ly0 <= ry1) & (ry0 <= ly1))
        ix, iy = F.greatest(lx0, rx0), F.greatest(ly0, ry0)
        canonical = ((F.floor(ix / cs).cast("int")
                      == F.col("__l_cell.cx"))
                     & (F.floor(iy / cs).cast("int")
                        == F.col("__l_cell.cy")))
        cand = (joined.where(bbox_ok & canonical)
                .select("lid", "rid", "geometry_left",
                        "geometry_right", "lrect", "rrect")
                .persist(StorageLevel.MEMORY_AND_DISK))
        sc.setJobDescription("stress-refine: materialize candidates")
        n_cand = cand.count()
        print(f"candidates: {n_cand:,} pairs "
              f"({n_left:,} x {n_right:,} diamonds)", flush=True)

        lg, rg = F.col("geometry_left"), F.col("geometry_right")
        kern = udfs.contains if predicate == "contains" else udfs.intersects
        sides = {
            "arrow_kernel": cand.where(
                F.coalesce(kern(lg, rg), F.lit(False))),
            "when_chain_udf": cand.where(
                _when_chain_refine(lg, rg, predicate, kern)),
            "join_refine": cand.where(F.coalesce(
                udfs.join_refine(lg, rg, predicate), F.lit(False))),
        }
        results = {}
        for name, df in sides.items():
            times = []
            cnt = None
            for p in range(passes):
                sc.setJobDescription(f"stress-refine: {name} pass {p}")
                t0 = time.perf_counter()
                cnt = df.count()
                times.append(time.perf_counter() - t0)
            results[name] = (cnt, min(times), times)
            print(f"{name}: {cnt:,} matches, "
                  f"min {min(times):.1f}s of {['%.1f' % t for t in times]} "
                  f"({n_cand / min(times) / 1e6:.2f}M pairs/s)",
                  flush=True)
        counts = {name: r[0] for name, r in results.items()}
        assert len(set(counts.values())) == 1, f"refine mismatch: {counts}"
        a, b = results["when_chain_udf"], results["join_refine"]
        print(f"match counts EXACTLY EQUAL ({a[0]:,}); "
              f"join_refine/when_chain_udf speedup: {a[1] / b[1]:.2f}x",
              flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
