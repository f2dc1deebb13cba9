"""Flagship grid spatial join at 100x gate scale (r12, VERDICT r11
#7): ~50M synthetic points against ~100k rectangle polygons on
local[32] — the geo_pip_join shape scaled three orders past the sf0.1
gate. Asserts the scale-design invariants the gate plan audit checks
at small SF: the plan stays ONE shuffle exchange per side on the grid
cell id (plus AQE's reader nodes), the refine is 100% native (no
Python eval node anywhere), and every matched pair is exact
(spot-verified against a closed-form oracle on the synthetic layout).

Usage: python scripts/stress_spatial_join.py [n_points] [n_polys]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from arctic_spark import GeoDataFrame, spatial_join, st  # noqa: E402
from arctic_spark.session import get_spark  # noqa: E402


def main():
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_spark("arctic_spark-stress-spatial-join")
    try:
        # points on a [0, 3200)^2 domain; deterministic pseudo-random
        px = ((F.col("id") * 2654435761) % 320000).cast("double") / 100.0
        py = ((F.col("id") * 40503) % 320000).cast("double") / 100.0
        pts = GeoDataFrame(
            spark.range(n_points).select(
                F.col("id").alias("pid"),
                st.point(px, py).alias("geometry")))
        # ~100k rectangles: a 320x320 grid (covers the domain with a
        # 10x10 cell each, shrunk to 9x9 so ~81% of points match one
        # rectangle and the rest fall in the gaps)
        side = int(n_polys ** 0.5)
        gx = (F.col("id") % side).cast("double") * 10.0
        gy = ((F.col("id") / side).cast("long") % side).cast("double") \
            * 10.0
        polys = GeoDataFrame(
            spark.range(side * side).select(
                F.col("id").alias("rid"),
                st.make_envelope(gx, gy, gx + 9.0, gy + 9.0)
                .alias("geometry")))
        out = spatial_join(pts, polys, how="inner",
                           predicate="intersects", cell_size=10.0,
                           points_left=True)

        plan = out.df._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange ")
        assert "BatchEvalPython" not in plan \
            and "ArrowEvalPython" not in plan \
            and "FlatMapGroupsInPandas" not in plan, \
            "Python appeared in the refine plan"
        print(f"plan: {n_exchange} Exchange nodes, zero Python nodes",
              flush=True)

        t0 = time.perf_counter()
        n = out.df.count()
        dt = time.perf_counter() - t0
        print(f"{n_points:,} pts x {side * side:,} rects: "
              f"{n:,} matches in {dt:.1f}s "
              f"({n_points / dt / 1e6:.1f}M pts/s)", flush=True)

        # exactness spot-check: closed-form oracle on the layout —
        # the refine is boundary-EXCLUSIVE (reference parity: geo's
        # polygon.contains(point) is interior-only, the F5 on-edge
        # fixture must NOT match), so point (x, y) matches rect (i, j)
        # iff 0 < x%10 < 9 and 0 < y%10 < 9 within the grid extent
        # (rect [10i, 10i+9] x [10j, 10j+9])
        t0 = time.perf_counter()
        exact = (pts.df.select(
            "pid", st.x(F.col("geometry")).alias("x"),
            st.y(F.col("geometry")).alias("y"))
            .where((F.col("x") % 10.0 > 0.0) & (F.col("x") % 10.0 < 9.0)
                   & (F.col("y") % 10.0 > 0.0)
                   & (F.col("y") % 10.0 < 9.0)
                   & (F.col("x") < side * 10.0)
                   & (F.col("y") < side * 10.0))
            .count())
        dt2 = time.perf_counter() - t0
        assert n == exact, (n, exact)
        print(f"exactness: closed-form oracle agrees ({exact:,} "
              f"matches, computed in {dt2:.1f}s)", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
