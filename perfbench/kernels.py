"""Geometry kernels called directly in the driver process, on a fixed
sample of the workload generators' shapes: the work a Python worker
does per Arrow batch, without Spark around it."""

from __future__ import annotations

import time

import numpy as np

import inputs

DECODE_ROWS = 5_000
HULL_ROWS = 500
PAIRS = 20_000


def _rate(items, fn, repeats=3):
    """items per second of ``fn()``, median of ``repeats`` calls."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / sorted(times)[len(times) // 2]


def _diamond_wkb(cx, cy, r):
    xs = np.stack([cx - r, cx, cx + r, cx], axis=1)
    ys = np.stack([cy, cy - r, cy, cy + r], axis=1)
    return inputs.polygon_wkb(xs, ys)


def kernel_rates(seed: int) -> dict[str, float]:
    from arctic_spark.geom import algos, batch, wkb

    xs, ys = inputs.notched_polygons(seed, DECODE_ROWS)
    bufs = inputs.polygon_wkb(*inputs.web_mercator(xs, ys))
    rg = wkb.decode(bufs)
    small = wkb.decode(bufs[:HULL_ROWS])

    rng = np.random.default_rng([seed, 4])
    cx, cy = rng.uniform(0, 100, PAIRS), rng.uniform(0, 100, PAIRS)
    left = wkb.decode(_diamond_wkb(
        cx, cy, rng.choice(inputs.LEFT_RADII, PAIRS)))
    # right centers within reach of the left ones: about half intersect
    right = wkb.decode(_diamond_wkb(
        cx + rng.uniform(-6, 6, PAIRS), cy + rng.uniform(-6, 6, PAIRS),
        rng.choice(inputs.RIGHT_RADII, PAIRS)))
    return {
        "geom.wkb_decode_rows_per_s": _rate(DECODE_ROWS,
                                            lambda: wkb.decode(bufs)),
        "geom.wkb_encode_rows_per_s": _rate(DECODE_ROWS,
                                            lambda: wkb.encode(rg)),
        "geom.convex_hull_rows_per_s": _rate(
            HULL_ROWS, lambda: algos.convex_hull(small)),
        "geom.is_valid_rows_per_s": _rate(HULL_ROWS,
                                          lambda: algos.is_valid(small)),
        "geom.intersects_pairs_per_s": _rate(
            PAIRS, lambda: batch.intersects(left, right)),
    }
