"""The three benchmark workloads.

Each workload writes its seeded inputs once (``prepare``), then runs a
list of operations. One operation is ``build`` (driver-side DataFrame
construction, including any Spark jobs the engine launches while
building) followed by ``act`` (the action that forces the result).
``check`` compares an operation's result with a reference computed
without the engine; it runs outside the timed region.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq

import inputs

# sizes (rows) at which one operation takes about a second on 4 cores
SPATIAL_LEFT, SPATIAL_RIGHT = 30_000, 3_000
ROWOPS_POLYGONS = 3_000
# a subset of bench.py's headline queries on small data, one or two per
# layer: relational joins and as-of join, constructed geometry,
# projection, a geometry kernel, text and dedup. Few enough that a run
# holds three to five measured passes.
SWEEP_QUERIES = [
    "q3_shipping_priority", "q_asof_join", "geo_triangle_area",
    "geo_webmercator", "geo_boolean_intersection", "dedup_minhash_lsh",
    "text_ngram_jaccard",
]


class SpatialJoin:
    """Diamond x diamond intersects join, counted per right key."""

    name = "spatial_join"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.left_path = os.path.join(work, "left")
        self.right_path = os.path.join(work, "right")
        self.input_rows = SPATIAL_LEFT + SPATIAL_RIGHT
        self._expected = None

    def prepare(self):
        self._left, self._right = inputs.diamonds(
            self.seed, SPATIAL_LEFT, SPATIAL_RIGHT)
        inputs.write_diamonds(self.left_path, self._left)
        inputs.write_diamonds(self.right_path, self._right)

    def ops(self):
        return ["join"]

    def _side(self, spark, path, key):
        from pyspark.sql import functions as F

        from arctic_spark import GeoDataFrame, st
        cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
        return GeoDataFrame(spark.read.parquet(path).select(
            F.col("id").alias(key),
            st.make_polygon(F.array(cx - r, cx, cx + r, cx),
                            F.array(cy, cy - r, cy, cy + r))
            .alias("geometry")))

    def build(self, spark, op):
        from pyspark.sql import functions as F

        from arctic_spark import joins
        joined = joins.spatial_join(
            self._side(spark, self.left_path, "lid"),
            self._side(spark, self.right_path, "rid"),
            predicate="intersects")
        return joined.df.groupBy("rid_right").agg(F.count("*").alias("n"))

    def act(self, spark, op, df):
        return df.collect()

    def check(self, op, rows):
        if self._expected is None:
            self._expected = inputs.diamond_matches_per_right(
                self._left, self._right)
        got = {int(r[0]): int(r[1]) for r in rows}
        if got != self._expected:
            bad = sorted(set(got.items()) ^ set(self._expected.items()))[:3]
            return (f"{len(got)} right keys matched, expected "
                    f"{len(self._expected)}; first differences {bad}")
        return None


class GeomRowops:
    """GeoParquet read, reprojection, a wide select of native and kernel
    geometry ops, GeoParquet write."""

    name = "geom_rowops"
    # ring vertices that survive simplification: corners and notches
    SIMPLIFIED = [i for i in range(12) if i % 3 != 1]

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.in_path = os.path.join(work, "polygons")
        self.out_path = os.path.join(work, "rowops_out")
        self.input_rows = ROWOPS_POLYGONS
        self._expected = None

    def prepare(self):
        self._xs, self._ys = inputs.notched_polygons(
            self.seed, ROWOPS_POLYGONS)
        inputs.write_polygons(self.in_path, self._xs, self._ys)

    def ops(self):
        return ["rowops"]

    def build(self, spark, op):
        from pyspark.sql import functions as F

        from arctic_spark import GeoDataFrame, io, st
        gdf = io.read_geoparquet(spark, self.in_path).to_crs("EPSG:3857")
        g = F.col("geometry")
        c = st.centroid(g)
        df = gdf.df.select(
            "id", g.alias("geometry"),
            st.area(g).alias("area"), st.length(g).alias("length"),
            st.x(c).alias("cx"), st.y(c).alias("cy"),
            st.is_valid(g).alias("valid"),
            st.convex_hull(g).alias("hull"),
            st.simplify(g, inputs.SIMPLIFY_TOL_M).alias("simp"))
        return GeoDataFrame(df, "geometry", "EPSG:3857")

    def act(self, spark, op, gdf):
        from arctic_spark import io
        io.write_geoparquet(gdf, self.out_path)
        return self.out_path

    def _reference(self):
        x, y = inputs.web_mercator(self._xs, self._ys)
        s = self.SIMPLIFIED
        return {"x": x, "y": y, "area": inputs.ring_area(x, y),
                "length": inputs.ring_length(x, y),
                "centroid": inputs.ring_centroid(x, y),
                "hull_area": inputs.ring_area(x[:, ::3], y[:, ::3]),
                "simp_area": inputs.ring_area(x[:, s], y[:, s])}

    @staticmethod
    def _ring(col, k):
        """(n, k-1) open-ring vertex arrays of a one-ring GEOM column;
        None when any row has another vertex count."""
        col = col.combine_chunks()
        xs = col.field("xs")
        if not (np.diff(xs.offsets.to_numpy()) == k).all():
            return None
        ys = col.field("ys")
        return (xs.flatten().to_numpy().reshape(-1, k)[:, :-1],
                ys.flatten().to_numpy().reshape(-1, k)[:, :-1])

    def check(self, op, path):
        if self._expected is None:
            self._expected = self._reference()
        e = self._expected
        t = pq.read_table(path).sort_by("id").combine_chunks()
        n = ROWOPS_POLYGONS
        if t.num_rows != n or not (
                t["id"].to_numpy() == np.arange(n)).all():
            return f"{t.num_rows} rows written, expected {n}"
        x, y, closing = inputs.polygon_coords_from_wkb(
            t["geometry"].to_pylist(), 12)
        errs = []

        def close(what, got, want, rtol=1e-9, atol=1e-6):
            if not np.allclose(got, want, rtol=rtol, atol=atol):
                i = int(np.argmax(np.abs(np.asarray(got) - want)))
                errs.append(f"{what} row {i}: {np.ravel(got)[i]!r} vs "
                            f"{np.ravel(want)[i]!r}")
        close("geometry x", x, e["x"])
        close("geometry y", y, e["y"])
        close("ring closure", closing, np.stack([x[:, 0], y[:, 0]], 1))
        close("area", t["area"].to_numpy(), e["area"], rtol=1e-7)
        close("length", t["length"].to_numpy(), e["length"])
        # the engine sums in absolute mercator coordinates (up to 2e7 m),
        # so its centroid carries ~1e-9 relative cancellation error
        close("centroid x", t["cx"].to_numpy(), e["centroid"][0], rtol=1e-8)
        close("centroid y", t["cy"].to_numpy(), e["centroid"][1], rtol=1e-8)
        if not t["valid"].to_numpy(zero_copy_only=False).all():
            errs.append("a valid polygon reported invalid")
        for col, k, key in (("hull", 5, "hull_area"), ("simp", 9,
                                                        "simp_area")):
            ring = self._ring(t[col], k)
            if ring is None:
                errs.append(f"{col}: expected {k} coordinates per ring")
            else:
                close(f"{col} area", np.abs(inputs.ring_area(*ring)),
                      e[key], rtol=1e-7)
        return "; ".join(errs) or None


def _norm_cell(v):
    """Order-insensitive canonical form of one result cell (the rules of
    the repository's oracle check)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    if type(v).__name__ == "Decimal":
        return _norm_cell(float(v))
    return str(v)


def canonical(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


class QuerySweep:
    """Driver-contract queries on small generated tables; each query's
    answer is checked against its DuckDB oracle."""

    name = "query_sweep"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.tables = os.path.join(work, "tables")
        self.input_rows = sum(inputs.TABLE_ROWS.values())
        self._expected = None

    def prepare(self):
        inputs.write_driver_tables(self.tables,
                                   inputs.driver_tables(self.seed))

    def ops(self):
        return SWEEP_QUERIES

    def build(self, spark, op):
        import __spark_entry__
        return __spark_entry__.queries()[op](spark, self.tables)

    def act(self, spark, op, df):
        return df.columns, df.collect()

    def _oracles(self):
        import duckdb

        import __spark_entry__
        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in inputs.TABLE_ROWS:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.tables, t)}.parquet')")
            out = {}
            for q in SWEEP_QUERIES:
                cur = con.execute(sql[q])
                cols = [d[0] for d in cur.description]
                out[q] = (sorted(c.lower() for c in cols),
                          canonical(cur.fetchall(), cols))
            return out
        finally:
            con.close()

    def check(self, op, result):
        if self._expected is None:
            self._expected = self._oracles()
        cols, rows = result
        want_cols, want = self._expected[op]
        if sorted(c.lower() for c in cols) != want_cols:
            return f"{op}: columns {cols} vs oracle {want_cols}"
        got = canonical([tuple(r) for r in rows], cols)
        if got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
            return (f"{op}: {len(got)} rows vs oracle {len(want)}; "
                    f"first differences {diff}")
        return None


WORKLOADS = {w.name: w for w in (SpatialJoin, GeomRowops, QuerySweep)}
