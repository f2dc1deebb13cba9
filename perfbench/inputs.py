"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only: the engine under test never
generates its own inputs, it reads the files written here. The same
seed always yields byte-identical files; the reference answers the
workloads are checked against are computed from the same arrays.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# spatial_join: L1 diamonds (the geo_diamond_join shape)
# ---------------------------------------------------------------------------

# Centers sit on a 0.01 grid, so every |dx|+|dy| is a multiple of 0.01.
# The radius tails make r_left + r_right land 0.0004..0.0096 past a 0.01
# multiple, so no pair is within 4e-4 of touching: exact kernels cannot
# disagree on a boundary tie, and the closed form below is unambiguous.
LEFT_RADII = np.array([1.3717, 1.9730, 2.5743])
RIGHT_RADII = np.array([1.4431, 2.0142, 2.5853])
HOT_SHARE = 0.1      # share of left rows packed into the hot spots
HOT_SPOTS = 4
HOT_HALF_WIDTH = 50  # in 0.01 units: hot rows land within +-0.5 of a spot


def diamonds(seed: int, n_left: int, n_right: int):
    """Left and right diamond tables as dicts of numpy arrays.

    The domain is sized for about one match per left row. A fixed share
    of the left rows is packed around a few hot spots, so a few grid
    cells hold far more left rows than the rest (skew). Each hot spot is
    centred on one right diamond, and every other right diamond is moved
    out of its reach, so each hot row matches exactly once: the total
    work does not depend on where the seed puts the hot spots."""
    rng = np.random.default_rng([seed, 1])
    mean_r = LEFT_RADII.mean() + RIGHT_RADII.mean()
    d100 = int(np.sqrt(n_right * 2.0 * mean_r ** 2) * 100)
    # a right center within this L-inf distance of a spot could be
    # reached by a hot row
    clear = int((LEFT_RADII.max() + RIGHT_RADII.max()) * 100
                + HOT_HALF_WIDTH) + 1

    def side(n, radii):
        return {"id": np.arange(n, dtype=np.int64),
                "cx": rng.integers(0, d100, n),
                "cy": rng.integers(0, d100, n),
                "r": radii[rng.integers(0, len(radii), n)]}

    left = side(n_left, LEFT_RADII)
    right = side(n_right, RIGHT_RADII)
    # right rows 0..HOT_SPOTS-1 anchor the spots; keep them apart
    while True:
        spots = rng.integers(clear, d100 - clear, (HOT_SPOTS, 2))
        gap = np.abs(spots[:, None] - spots[None]).max(axis=2)
        if (gap[np.triu_indices(HOT_SPOTS, 1)] > 2 * clear).all():
            break
    right["cx"][:HOT_SPOTS], right["cy"][:HOT_SPOTS] = spots.T
    while True:
        near = (np.abs(right["cx"][HOT_SPOTS:, None] - spots[:, 0])
                < clear) & (np.abs(right["cy"][HOT_SPOTS:, None]
                                   - spots[:, 1]) < clear)
        move = HOT_SPOTS + np.flatnonzero(near.any(axis=1))
        if not len(move):
            break
        right["cx"][move] = rng.integers(0, d100, len(move))
        right["cy"][move] = rng.integers(0, d100, len(move))
    n_hot = int(n_left * HOT_SHARE)
    which = rng.integers(0, HOT_SPOTS, n_hot)
    for axis, c in ((0, "cx"), (1, "cy")):
        left[c][n_left - n_hot:] = spots[which, axis] + rng.integers(
            -HOT_HALF_WIDTH, HOT_HALF_WIDTH, n_hot)
    for t in (left, right):
        t["cx"] = t["cx"] / 100.0
        t["cy"] = t["cy"] / 100.0
    return left, right


def diamond_matches_per_right(left, right) -> dict[int, int]:
    """Closed-form reference: two L1 diamonds intersect iff
    |dx| + |dy| <= r1 + r2. Returns {right id: number of intersecting
    left diamonds} for every right id with at least one match.

    Vectorized grid bucketing: left centers go into cells as wide as the
    largest possible reach, so each right diamond only scans its 3x3
    neighbourhood."""
    reach = LEFT_RADII.max() + RIGHT_RADII.max()
    lcx = np.floor(left["cx"] / reach).astype(np.int64)
    lcy = np.floor(left["cy"] / reach).astype(np.int64)
    span = int(lcy.max()) + 3
    lkey = (lcx + 1) * span + (lcy + 1)
    order = np.argsort(lkey, kind="stable")
    skey = lkey[order]
    rcx = np.floor(right["cx"] / reach).astype(np.int64)
    rcy = np.floor(right["cy"] / reach).astype(np.int64)
    counts = np.zeros(len(right["id"]), dtype=np.int64)
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            key = (rcx + ox + 1) * span + (rcy + oy + 1)
            lo = np.searchsorted(skey, key, "left")
            hi = np.searchsorted(skey, key, "right")
            n = hi - lo
            ri = np.repeat(np.arange(len(key)), n)
            starts = np.repeat(lo - np.cumsum(n) + n, n)
            li = order[np.arange(n.sum()) + starts]
            d = (np.abs(left["cx"][li] - right["cx"][ri])
                 + np.abs(left["cy"][li] - right["cy"][ri]))
            hit = d <= left["r"][li] + right["r"][ri]
            counts += np.bincount(ri[hit], minlength=len(counts))
    ids = right["id"]
    return {int(ids[i]): int(c) for i, c in enumerate(counts) if c}


FILE_PARTS = 8  # inputs are split into files so Spark scans in parallel


def write_parts(directory: str, table: pa.Table) -> None:
    """Write ``table`` as FILE_PARTS parquet files under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // FILE_PARTS)
    for i in range(FILE_PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(directory, f"part-{i}.parquet"))


def write_diamonds(directory: str, table: dict) -> None:
    write_parts(directory, pa.table(table))


# ---------------------------------------------------------------------------
# geom_rowops: 12-vertex notched quadrilaterals as WKB GeoParquet
# ---------------------------------------------------------------------------

EARTH_R = 6378137.0
NOTCH_MIN, NOTCH_MAX = 0.25, 0.45   # notch depth, share of center distance
JOG_DEG = 1e-5                      # near-collinear vertex offset (~1 m)
SIMPLIFY_TOL_M = 20.0               # between the jog and the notch depth


def notched_polygons(seed: int, n: int):
    """``n`` polygons of 12 vertices in lon/lat (EPSG:4326).

    Each is a convex quadrilateral (4 corners) with a notch pushed into
    every edge, plus one vertex jogged ~1 m off the corner-to-notch line.
    By construction the convex hull is the 4 corners, and a 20 m
    Douglas-Peucker simplification drops exactly the 4 jogged vertices.
    The polygon is star-shaped around its center, so it is valid.

    Returns (xs, ys) of shape (n, 12), ring order counter-clockwise,
    vertex 3k a corner, 3k+1 the jogged vertex, 3k+2 the notch."""
    rng = np.random.default_rng([seed, 2])
    lon0 = rng.uniform(-170.0, 170.0, n)
    lat0 = rng.uniform(-60.0, 60.0, n)
    size = rng.uniform(0.02, 0.05, n)
    ang = (np.pi / 4 + np.arange(4) * np.pi / 2
           + rng.uniform(-0.25, 0.25, (n, 4)))
    cx = lon0[:, None] + size[:, None] * np.cos(ang)
    cy = lat0[:, None] + size[:, None] * np.sin(ang)
    nx, ny = np.roll(cx, -1, axis=1), np.roll(cy, -1, axis=1)
    depth = rng.uniform(NOTCH_MIN, NOTCH_MAX, (n, 4))
    mx, my = (cx + nx) / 2, (cy + ny) / 2
    notch_x = mx + depth * (lon0[:, None] - mx)
    notch_y = my + depth * (lat0[:, None] - my)
    # jogged vertex: midpoint of corner -> notch, nudged along the normal
    jx, jy = (cx + notch_x) / 2, (cy + notch_y) / 2
    dx, dy = notch_x - cx, notch_y - cy
    norm = np.hypot(dx, dy)
    sign = rng.choice([-1.0, 1.0], (n, 4))
    jx = jx - sign * JOG_DEG * dy / norm
    jy = jy + sign * JOG_DEG * dx / norm
    xs = np.stack([cx, jx, notch_x], axis=2).reshape(n, 12)
    ys = np.stack([cy, jy, notch_y], axis=2).reshape(n, 12)
    return xs, ys


def web_mercator(lon, lat):
    """Closed-form spherical web mercator (EPSG:3857)."""
    x = EARTH_R * np.radians(lon)
    y = EARTH_R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def _local(xs, ys):
    """Rings shifted to their first vertex: mercator coordinates reach
    2e7 m, and the shoelace sums lose digits to cancellation without it."""
    return xs - xs[..., :1], ys - ys[..., :1]


def ring_area(xs, ys):
    """Shoelace area of open rings, one per row (positive for CCW)."""
    xs, ys = _local(xs, ys)
    return 0.5 * np.sum(xs * np.roll(ys, -1, axis=-1)
                        - np.roll(xs, -1, axis=-1) * ys, axis=-1)


def ring_length(xs, ys):
    return np.sum(np.hypot(np.roll(xs, -1, axis=-1) - xs,
                           np.roll(ys, -1, axis=-1) - ys), axis=-1)


def ring_centroid(xs, ys):
    x0, y0 = xs[..., 0], ys[..., 0]
    xs, ys = _local(xs, ys)
    x1, y1 = np.roll(xs, -1, axis=-1), np.roll(ys, -1, axis=-1)
    cross = xs * y1 - x1 * ys
    a6 = 3.0 * np.sum(cross, axis=-1)
    return (x0 + np.sum((xs + x1) * cross, axis=-1) / a6,
            y0 + np.sum((ys + y1) * cross, axis=-1) / a6)


def polygon_wkb(xs, ys) -> list[bytes]:
    """Little-endian 2D Polygon WKB, one closed ring per row."""
    n, m = xs.shape
    head = np.frombuffer(
        b"\x01" + np.array([3, 1, m + 1], "<u4").tobytes(), np.uint8)
    coords = np.empty((n, m + 1, 2), "<f8")
    coords[:, :m, 0], coords[:, :m, 1] = xs, ys
    coords[:, m] = coords[:, 0]
    rec = np.concatenate(
        [np.broadcast_to(head, (n, len(head))),
         coords.reshape(n, -1).view(np.uint8)], axis=1)
    raw = rec.tobytes()
    w = rec.shape[1]
    return [raw[i * w:(i + 1) * w] for i in range(n)]


def polygon_coords_from_wkb(bufs, m: int):
    """Inverse of :func:`polygon_wkb` for single-ring polygons of ``m``
    distinct vertices; raises if any buffer has another layout."""
    w = 13 + 16 * (m + 1)
    raw = b"".join(bufs)
    if len(raw) != w * len(bufs):
        raise ValueError("unexpected WKB layout")
    rec = np.frombuffer(raw, np.uint8).reshape(len(bufs), w)
    if not (rec[:, 0] == 1).all():
        raise ValueError("expected little-endian WKB")
    kinds = rec[:, 1:13].copy().view("<u4")
    if not ((kinds[:, 0] == 3) & (kinds[:, 1] == 1)
            & (kinds[:, 2] == m + 1)).all():
        raise ValueError("expected one-ring polygons")
    c = rec[:, 13:].copy().view("<f8").reshape(len(bufs), m + 1, 2)
    return c[:, :m, 0], c[:, :m, 1], c[:, m]


GEO_META = {"version": "1.0.0-arctic-spark", "primary_column": "geometry",
            "columns": {"geometry": {"encoding": "WKB",
                                     "crs": "EPSG:4326"}}}


def write_polygons(directory: str, xs, ys) -> None:
    """WKB GeoParquet in the layout ``arctic_spark.io.read_geoparquet``
    reads: a binary ``geometry`` column plus the ``__geo_meta`` column."""
    n = len(xs)
    write_parts(directory, pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "geometry": pa.array(polygon_wkb(xs, ys), pa.binary()),
        "__geo_meta": pa.array([json.dumps(GEO_META)] * n, pa.string()),
    }))


# ---------------------------------------------------------------------------
# query_sweep: the driver tables (TPC-H-like star schema + events,
# documents, embeddings), shaped like the repository's fixtures
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "gizmo", "plate", "ring",
             "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()

# rows per table at the benchmark's scale (the fixtures' sf0.001 shape)
TABLE_ROWS = {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
              "part": 200, "orders": 1500, "lineitem": 6000,
              "events": 1000, "documents": 500, "embeddings": 500}


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def driver_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n = TABLE_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def money(lo, hi, k):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), k)
                        / 100.0, 2)

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1,
                                  1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2400)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        # whole units: price * (1 - discount) then has two decimals, so
        # revenue sums never land on a half-cent rounding tie
        "l_extendedprice": rng.integers(900, 105000, nl).astype(np.float64),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2500))})
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": money(0.01, 500.0, ne),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.06:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(VOCAB[j] for j in
                              rng.integers(0, len(VOCAB), k)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], np.int64))})
    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})
    return t


def write_driver_tables(directory: str, tables: dict[str, pa.Table]):
    os.makedirs(directory, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(directory, f"{name}.parquet"))
