"""Streaming operator tests: batch-mode semantics for the window ops
(Spark's unified model), a real micro-batch stream for the stateful
sessionizer via the rate source → memory sink."""

import time

import pytest
from pyspark.sql import functions as F

from arctic_spark import st
from arctic_spark.streaming import (session_window_stats,
                                    windowed_event_counts,
                                    windowed_geo_density)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        ("2024-01-01 00:00:05", 1, "click", 1.0),
        ("2024-01-01 00:00:45", 1, "click", 2.0),
        ("2024-01-01 00:01:10", 1, "view", 3.0),
        ("2024-01-01 00:05:00", 2, "click", 4.0),
        ("2024-01-01 00:40:00", 1, "click", 5.0),
    ]
    return spark.createDataFrame(rows, "ts string, user_id long, "
                                 "event_type string, value double") \
        .withColumn("ts", F.to_timestamp("ts")).cache()


def test_windowed_event_counts_batch(events):
    out = windowed_event_counts(events, window="1 minute").collect()
    by = {(r.window_start.minute, r.event_type): r.n for r in out}
    assert by[(0, "click")] == 2
    assert by[(1, "view")] == 1
    assert by[(5, "click")] == 1


def test_windowed_geo_density_batch(events):
    pts = events.withColumn(
        "geometry", st.point((F.col("user_id") * 10).cast("double"),
                             F.lit(5.0)))
    out = windowed_geo_density(pts, cell_size=20.0, window="1 hour")
    rows = out.collect()
    by = {(r.cell_x, r.cell_y): r.n for r in rows}
    assert by[(0, 0)] == 4   # user 1 at x=10
    assert by[(1, 0)] == 1   # user 2 at x=20


def test_session_window_stats_batch(events):
    out = session_window_stats(events, gap="10 minutes").collect()
    u1 = sorted([r for r in out if r.user_id == 1],
                key=lambda r: r.session_start)
    assert len(u1) == 2  # gap 00:01→00:40 splits
    assert u1[0].n_events == 3
    assert u1[1].n_events == 1


def test_streaming_window_with_rate_source(spark):
    """End-to-end micro-batch: rate source → stateless st.point +
    windowed count → memory sink."""
    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", "50").load()
           .withColumn("event_type",
                       F.when(F.col("value") % 2 == 0, "a").otherwise("b"))
           .withColumn("value", F.col("value").cast("double"))
           .withColumnRenamed("timestamp", "ts"))
    out = windowed_event_counts(src, window="2 seconds",
                                watermark="2 seconds")
    q = (out.writeStream.format("memory").queryName("win_counts")
         .outputMode("append").start())
    try:
        # NOTE: never processAllAvailable() on a rate source — it keeps
        # producing, so the call can block indefinitely. Poll instead.
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM win_counts").collect()
            if rows:
                break
            time.sleep(2)
        assert rows, "no windows emitted within 30s"
        assert {r.event_type for r in rows} <= {"a", "b"}
        assert all(r.n > 0 for r in rows)
    finally:
        q.stop()


def test_sessionize_stateful_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer on a file stream: two batches,
    idle-timeout closes sessions."""
    from arctic_spark.streaming import sessionize_by_gap
    import json
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"ts": "2024-01-01T00:00:05", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T00:00:10", "user_id": 1, "value": 2.0},
        {"ts": "2024-01-01T02:00:00", "user_id": 1, "value": 7.0},
    ]))
    schema = "ts timestamp, user_id long, value double"
    stream = spark.readStream.schema(schema).json(str(src_dir))
    sessions = sessionize_by_gap(stream, gap="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("sessions")
         .outputMode("append").start())
    try:
        # NOTE: never processAllAvailable() on an applyInPandasWithState
        # query with ProcessingTimeTimeout — Spark keeps scheduling
        # state-cleanup batches until the timeout elapses (30 min here),
        # so the call blocks. Poll the sink instead; the first session is
        # closed within batch 1 by the 2-hour gap row.
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sessions").collect()
            if rows:
                break
            time.sleep(2)
        # the 2-hour gap closes the first session within the batch
        assert rows
        assert rows[0].n_events == 2
        assert rows[0].sum_value == pytest.approx(3.0)
    finally:
        q.stop()


def test_streaming_spatial_join_static_side(spark, tmp_path):
    """Stream-static spatial join: streaming points tagged against a
    static polygon table through the grid filter-refine machinery
    (cell_size must be explicit — estimating it would need an action on
    the stream)."""
    import json as _json
    from arctic_spark import GeoDataFrame
    from arctic_spark.joins import spatial_join

    src_dir = tmp_path / "pts"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"pid": 1, "x": 1.0, "y": 1.0},     # inside
        {"pid": 2, "x": 10.0, "y": 1.0},    # inside
        {"pid": 3, "x": 30.0, "y": 30.0},   # outside
    ]))
    stream = (spark.readStream.schema("pid long, x double, y double")
              .json(str(src_dir))
              .select("pid", st.point(F.col("x"), F.col("y"))
                      .alias("geometry")))
    polys = spark.createDataFrame(
        [("test", "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")],
        "string_col string, wkt string") \
        .select("string_col", st.from_wkt("wkt").alias("geometry"))
    joined = spatial_join(GeoDataFrame(stream), GeoDataFrame(polys),
                          cell_size=8.0, points_left=True,
                          broadcast_right=True)
    q = (joined.df.select("pid_left", "string_col_right")
         .writeStream.format("memory").queryName("stream_sj")
         .outputMode("append").start())
    try:
        import time as _t
        deadline = _t.time() + 60
        rows = []
        while _t.time() < deadline:
            rows = spark.sql("SELECT * FROM stream_sj").collect()
            if len(rows) >= 2:
                break
            _t.sleep(2)
        assert sorted(r.pid_left for r in rows) == [1, 2]
        assert all(r.string_col_right == "test" for r in rows)
    finally:
        q.stop()


def test_streaming_dedup_exact(spark, tmp_path):
    """Streaming exact dedup: duplicates within the watermark horizon
    collapse to first-seen; batch mode uses plain dropDuplicates."""
    import json

    from arctic_spark.streaming.ops import streaming_dedup_exact

    # batch twin first (plan validation, fast)
    b = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, "hello world"),
         ("2024-01-01 10:00:01", 2, "HELLO   world"),   # same normalized
         ("2024-01-01 10:00:02", 3, "different")],
        "ts string, doc_id long, text string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = streaming_dedup_exact(b).select("doc_id").collect()
    assert sorted(r.doc_id for r in got) == [1, 3]

    # real micro-batch run on a file stream
    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    rows = [{"ts": "2024-01-01T10:00:00", "doc_id": 1, "text": "aa bb"},
            {"ts": "2024-01-01T10:00:05", "doc_id": 2, "text": "aa bb"},
            {"ts": "2024-01-01T10:00:10", "doc_id": 3, "text": "cc dd"}]
    (src_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "ts timestamp, doc_id long, text string"
    src = spark.readStream.schema(schema).json(str(src_dir))
    out = streaming_dedup_exact(src, watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("dedup_docs")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT doc_id FROM dedup_docs").collect()
        assert sorted(r.doc_id for r in got) == [1, 3]
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join: impressions x clicks attribution
    within [0s, +30s] per ad key — batch twin for exact results, then a
    real two-file-stream micro-batch run with watermarked state."""
    import json

    from arctic_spark.streaming.ops import stream_stream_interval_join

    imps_rows = [("2024-01-01 10:00:00", "ad1", 1),
                 ("2024-01-01 10:00:10", "ad2", 2),
                 ("2024-01-01 10:01:00", "ad1", 3)]
    clk_rows = [("2024-01-01 10:00:05", "ad1", 101),   # matches imp 1
                ("2024-01-01 10:00:50", "ad2", 102),   # 40s late -> no match
                ("2024-01-01 10:01:20", "ad1", 103)]   # matches imp 3
    imps = spark.createDataFrame(imps_rows, "ts string, ad string, imp long") \
        .withColumn("ts", F.to_timestamp("ts"))
    clks = spark.createDataFrame(clk_rows, "cts string, ad string, clk long") \
        .withColumn("cts", F.to_timestamp("cts"))
    out = stream_stream_interval_join(imps, clks, key="ad",
                                      lower="0 seconds", upper="30 seconds",
                                      left_ts="ts", right_ts="cts")
    got = sorted((r.imp, r.clk) for r in out.select("l.imp", "r.clk")
                 .collect())
    assert got == [(1, 101), (3, 103)]

    with pytest.raises(ValueError):
        stream_stream_interval_join(imps, clks, key="ad", lower="0 seconds",
                                    upper="1 seconds", how="fullOuter")

    # real micro-batch: two file streams
    d1 = tmp_path / "imps"; d1.mkdir()
    d2 = tmp_path / "clks"; d2.mkdir()
    (d1 / "a.json").write_text("\n".join(json.dumps(
        {"ts": t.replace(" ", "T"), "ad": a, "imp": i})
        for t, a, i in imps_rows))
    (d2 / "a.json").write_text("\n".join(json.dumps(
        {"cts": t.replace(" ", "T"), "ad": a, "clk": c})
        for t, a, c in clk_rows))
    s_imps = spark.readStream.schema("ts timestamp, ad string, imp long") \
        .json(str(d1))
    s_clks = spark.readStream.schema("cts timestamp, ad string, clk long") \
        .json(str(d2))
    out_s = stream_stream_interval_join(
        s_imps, s_clks, key="ad", lower="0 seconds", upper="30 seconds",
        left_ts="ts", right_ts="cts", watermark="1 minute")
    q = (out_s.select("l.imp", "r.clk").writeStream.format("memory")
         .queryName("attrib").outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT imp, clk FROM attrib").collect()
        assert sorted((r.imp, r.clk) for r in rows) == [(1, 101), (3, 103)]
    finally:
        q.stop()


def test_streaming_near_dup_pairs(spark, tmp_path):
    """Streaming MinHash-LSH near-dup detection: a doc sharing a band
    with an EARLIER doc emits a candidate pair — batch twin for exact
    semantics, then a two-batch file stream where the anchor arrives in
    batch 1 and the near-dup in batch 2 (state carries across
    micro-batches)."""
    import json

    from arctic_spark.streaming.ops import streaming_near_dup_pairs

    base = ("the quick brown fox jumps over the lazy dog "
            "and then naps in the warm afternoon sun")
    near = base + " peacefully"               # high-jaccard near-dup
    other = "completely different content about spark streaming state"

    b = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, base),
         ("2024-01-01 10:00:05", 2, near),
         ("2024-01-01 10:00:10", 3, other)],
        "ts string, doc_id long, text string") \
        .withColumn("ts", F.to_timestamp("ts"))
    pairs = (streaming_near_dup_pairs(b)
             .select("anchor_id", "dup_id").distinct().collect())
    got = {(r.anchor_id, r.dup_id) for r in pairs}
    assert (1, 2) in got
    assert all(a == 1 and d in (2,) or (a, d) == (1, 2) for a, d in got
               if d != 3), got
    assert not any(3 in p for p in got)       # distinct doc never pairs

    # two-micro-batch stream (maxFilesPerTrigger=1): the anchor doc is
    # batch 1, the near-dup arrives in batch 2 — state must carry
    # across micro-batches for the pair to surface. NOTE: never
    # processAllAvailable() on an applyInPandasWithState query with
    # ProcessingTimeTimeout (it blocks until the timeout elapses, see
    # test_sessionize_stateful_stream) — poll the sink.
    import time as _time
    src_dir = tmp_path / "ndp_in"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text(json.dumps(
        {"ts": "2024-01-01T10:00:00", "doc_id": 1, "text": base}))
    _time.sleep(1.1)   # file-source orders batches by mod time
    (src_dir / "b2.json").write_text("\n".join([
        json.dumps({"ts": "2024-01-01T10:00:05", "doc_id": 2,
                    "text": near}),
        json.dumps({"ts": "2024-01-01T10:00:06", "doc_id": 3,
                    "text": other})]))
    schema = "ts timestamp, doc_id long, text string"
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).json(str(src_dir)))
    out = streaming_near_dup_pairs(src)
    q = (out.writeStream.format("memory").queryName("ndp_pairs")
         .outputMode("append").start())
    try:
        deadline = _time.time() + 120
        got_s = set()
        while _time.time() < deadline:
            got_s = {(r.anchor_id, r.dup_id) for r in
                     spark.sql("SELECT anchor_id, dup_id FROM ndp_pairs")
                     .collect()}
            if got_s:
                break
            _time.sleep(2)
        assert (1, 2) in got_s
        assert not any(3 in p for p in got_s)
    finally:
        q.stop()


def test_windowed_hex_density_batch(events):
    """Hex twin of windowed_geo_density: centers land in distinct hexes
    and the counts match the square-cell test's distribution."""
    from arctic_spark.streaming import windowed_hex_density
    pts = events.withColumn(
        "geometry", st.point((F.col("user_id") * 10).cast("double"),
                             F.lit(5.0)))
    out = windowed_hex_density(pts, hex_size=4.0, window="1 hour")
    rows = out.collect()
    total = sum(r.n for r in rows)
    assert total == 5
    # user 1 (x=10,y=5) x4 and user 2 (x=20,y=5) land in different hexes
    by = {(r.hex_q, r.hex_r): r.n for r in rows}
    assert sorted(by.values()) == [1, 4]


def test_streaming_trajectories(spark, tmp_path):
    """Stateful trajectory builder on a file stream: a 2-hour gap closes
    the first trajectory within batch 1 (3-4-5 right-triangle walk)."""
    from arctic_spark.streaming import streaming_trajectories
    import json as _json
    src_dir = tmp_path / "traj_in"
    src_dir.mkdir()
    (src_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"ts": "2024-01-01T00:00:05", "user_id": 1, "x": 0.0, "y": 0.0},
        {"ts": "2024-01-01T00:00:10", "user_id": 1, "x": 3.0, "y": 0.0},
        {"ts": "2024-01-01T00:00:20", "user_id": 1, "x": 3.0, "y": 4.0},
        {"ts": "2024-01-01T05:00:00", "user_id": 1, "x": 9.0, "y": 9.0},
    ]))
    schema = "ts timestamp, user_id long, x double, y double"
    stream = spark.readStream.schema(schema).json(str(src_dir))
    traj = streaming_trajectories(stream, gap="30 minutes")
    q = (traj.writeStream.format("memory").queryName("trajs")
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM trajs").collect()
            if rows:
                break
            time.sleep(2)
        assert rows
        r = rows[0]
        assert r.uid == 1
        assert r.n_points == 3
        assert r.path_len == pytest.approx(7.0)     # 3 across + 4 up
    finally:
        q.stop()


def test_gap_parser_units_and_errors():
    import pytest
    from arctic_spark.streaming.ops import _gap_ms
    assert _gap_ms("1 day") == 86_400_000
    assert _gap_ms("500 milliseconds") == 500
    assert _gap_ms("30 minutes") == 1_800_000
    assert _gap_ms("1 hour") == 3_600_000
    for bad in ("30 minutesX", "soon", "5 fortnights", ""):
        with pytest.raises(ValueError, match="unparseable interval"):
            _gap_ms(bad)


def test_windowed_hll_registers_batch(spark, events):
    """Batch semantics: per-window registers equal hll_sketch run on
    the window's slice, and the estimate is exact at tiny cardinality
    (linear-counting regime)."""
    from arctic_spark import sketches as sk
    from arctic_spark.streaming import windowed_hll_registers

    regs = windowed_hll_registers(events, window="1 hour", p=8,
                                  key_col="user_id")
    rows = regs.collect()
    assert all(0 <= r.bucket < 256 and 1 <= r.rho <= 53 for r in rows)
    # the single 1-hour window covers all events; its registers must
    # equal a plain hll_sketch over the distinct user ids
    win0 = [(r.bucket, r.rho) for r in
            sorted(rows, key=lambda r: r.bucket)]
    direct = [(r.bucket, r.rho) for r in
              sk.hll_sketch(events.select(F.col("user_id").alias("v")),
                            "v", p=8).orderBy("bucket").collect()]
    assert win0 == direct
    est = sk.hll_estimate_by(regs, 8, "window_start").collect()
    # 2 distinct users → linear counting is exact to well under 0.5
    assert len(est) == 1
    assert abs(est[0].n_distinct_est - 2) < 0.1


def test_windowed_hll_registers_stream(spark):
    """Streaming: rate source → per-window HLL registers → memory
    sink; state is bounded by 2^p rows per window by construction."""
    from arctic_spark.streaming import windowed_hll_registers

    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", "200").load()
           .withColumn("user_id", F.col("value") % 97)
           .withColumnRenamed("timestamp", "ts"))
    out = windowed_hll_registers(src, window="2 seconds",
                                 watermark="2 seconds", p=6,
                                 key_col="user_id")
    q = (out.writeStream.format("memory").queryName("hll_regs")
         .outputMode("append").start())
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM hll_regs").collect()
            if len(rows) >= 5:
                break
            time.sleep(1)
        assert len(rows) >= 5
        assert all(0 <= r.bucket < 64 and 1 <= r.rho <= 55 for r in rows)
        # per-window bucket uniqueness (it IS a register table)
        seen = set()
        for r in rows:
            key = (r.window_start, r.bucket)
            assert key not in seen
            seen.add(key)
    finally:
        q.stop()


def test_windowed_cms_counters_batch(spark, events):
    """Batch semantics: per-window counters equal cms_sketch on the
    window's slice; point query recovers exact counts (tiny input, no
    collisions at width 256)."""
    from arctic_spark import sketches as sk
    from arctic_spark.streaming import windowed_cms_counters

    ctrs = windowed_cms_counters(events, window="1 hour", depth=3,
                                 width=256, key_col="user_id")
    rows = ctrs.collect()
    assert all(0 <= r.d < 3 and 0 <= r.c < 256 for r in rows)
    got = sorted((r.d, r.c, r.cnt) for r in rows)
    direct = sorted((r.d, r.c, r.cnt) for r in sk.cms_sketch(
        events.select(F.col("user_id").alias("v")), "v",
        depth=3, width=256).collect())
    assert got == direct
    probes = events.groupBy(F.col("user_id").alias("v")) \
                   .agg(F.count("*").alias("cnt"))
    est = sk.cms_query(ctrs.select("d", "c", "cnt"), probes, "v",
                       depth=3, width=256)
    for r in est.collect():
        assert r.cms_est >= r.cnt


def test_windowed_cms_counters_stream(spark):
    from arctic_spark.streaming import windowed_cms_counters

    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", "200").load()
           .withColumn("user_id", F.col("value") % 37)
           .withColumnRenamed("timestamp", "ts"))
    out = windowed_cms_counters(src, window="2 seconds",
                                watermark="2 seconds", depth=2,
                                width=64, key_col="user_id")
    q = (out.writeStream.format("memory").queryName("cms_ctrs")
         .outputMode("append").start())
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM cms_ctrs").collect()
            if len(rows) >= 5:
                break
            time.sleep(1)
        assert len(rows) >= 5
        assert all(0 <= r.d < 2 and 0 <= r.c < 64 and r.cnt >= 1
                   for r in rows)
        seen = set()
        for r in rows:
            key = (r.window_start, r.d, r.c)
            assert key not in seen
            seen.add(key)
    finally:
        q.stop()


def test_windowed_kmv_minima_batch(spark, events):
    """Batch semantics: per-window minima equal kmv_sketch run on the
    window's slice, and the estimate is exact below k."""
    from arctic_spark import sketches as sk
    from arctic_spark.streaming import windowed_kmv_minima

    out = windowed_kmv_minima(events, window="1 hour", key_col="user_id",
                              k=16)
    rows = out.collect()
    wins = {r.window_start for r in rows}
    assert len(wins) == 1          # the fixture fits one 1-hour window
    got = sorted(r.h for r in rows)
    direct = [r.h for r in sk.kmv_sketch(
        events.select(F.col("user_id").alias("v")), "v", k=16).collect()]
    assert got == direct
    # fewer than k distinct users → the sketch IS the distinct set
    assert len(got) == events.select("user_id").distinct().count()


def test_windowed_kmv_minima_stream(spark, tmp_path):
    """Streaming: two micro-batches (maxFilesPerTrigger=1) fold into
    the bounded per-window state; the k smallest distinct hashes over
    ALL update-mode emissions equal the batch sketch of the full input
    (each emission is the window's current minima, monotonically
    improving)."""
    import os
    from arctic_spark import sketches as sk
    from arctic_spark.streaming import windowed_kmv_minima

    base = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i % 50:02d}") for i in range(200)],
        "user_id long, ts_s string") \
        .select((F.col("user_id") * 131 % 997).alias("user_id"),
                F.col("ts_s").cast("timestamp").alias("ts"))
    d = os.path.join(str(tmp_path), "kmv_in")
    base.where(F.col("user_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    base.where(F.col("user_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(d)
    src = (spark.readStream.schema("user_id long, ts timestamp")
           .option("maxFilesPerTrigger", "1").parquet(d))
    out = windowed_kmv_minima(src, window="1 minute",
                              watermark="2 minutes",
                              key_col="user_id", k=24)
    q = (out.writeStream.format("memory").queryName("kmv_mins")
         .outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kmv_mins").collect()
    assert rows
    by_win = {}
    for r in rows:
        by_win.setdefault(r.window_start, set()).add(r.h)
    batch = windowed_kmv_minima(base, window="1 minute",
                                key_col="user_id", k=24).collect()
    exp_by_win = {}
    for r in batch:
        exp_by_win.setdefault(r.window_start, []).append(r.h)
    assert set(by_win) == set(exp_by_win)
    for w, hs in by_win.items():
        assert sorted(hs)[:24] == sorted(exp_by_win[w])


def test_windowed_sample_rows_batch(spark, events):
    """Batch semantics: per-window bottom-k sample equals sample_sketch
    run on the window's slice (same hashes, same min-collapsed val)."""
    from arctic_spark import sketches as sk
    from arctic_spark.streaming import windowed_sample_rows

    out = windowed_sample_rows(events, window="1 hour",
                               key_col="user_id", val_col="user_id",
                               k=8)
    rows = out.collect()
    assert len({r.window_start for r in rows}) == 1
    got = sorted((r["__h"], r.val) for r in rows)
    direct = sorted(
        (r["__h"], r.user_id) for r in sk.sample_sketch(
            events.select("user_id"), "user_id", k=8,
            cols=["user_id"]).collect())
    assert got == direct


def test_windowed_sample_rows_stream_and_eviction(spark, tmp_path):
    """Streaming: micro-batches fold into one bounded state row per
    window; the final emission per window equals the batch sample of
    the full input. Eviction: after the idle timeout fires, the state
    store holds no rows for closed windows (numRowsTotal drops to 0)."""
    import os
    import time
    from arctic_spark.streaming import windowed_sample_rows

    base = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i % 50:02d}") for i in range(120)],
        "user_id long, ts_s string") \
        .select((F.col("user_id") * 37 % 211).alias("user_id"),
                F.col("ts_s").cast("timestamp").alias("ts"))
    d = os.path.join(str(tmp_path), "smp_in")
    base.where(F.col("user_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    base.where(F.col("user_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(d)
    src = (spark.readStream.schema("user_id long, ts timestamp")
           .option("maxFilesPerTrigger", "1").parquet(d))
    out = windowed_sample_rows(src, window="1 minute",
                               watermark="2 seconds",
                               key_col="user_id", val_col="user_id",
                               k=16)
    q = (out.writeStream.format("memory").queryName("smp_rows")
         .outputMode("update").start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT * FROM smp_rows").count() and \
                    q.lastProgress and \
                    q.lastProgress["numInputRows"] == 0:
                break
            time.sleep(1)
        rows = spark.sql("SELECT * FROM smp_rows").collect()
        assert rows
        by_win = {}
        for r in rows:
            by_win.setdefault(r.window_start, {})[r["__h"]] = r.val
        batch = windowed_sample_rows(base, window="1 minute",
                                     key_col="user_id",
                                     val_col="user_id", k=16).collect()
        exp = {}
        for r in batch:
            exp.setdefault(r.window_start, {})[r["__h"]] = r.val
        assert set(by_win) == set(exp)
        for w, d2 in exp.items():
            got = dict(sorted(by_win[w].items())[:16])
            assert got == d2
        # state eviction (event-time since r12): push the watermark
        # past the windows' end + delay with one later event; their
        # state rows are removed, only the pusher's window remains
        spark.createDataFrame([(999, "2024-01-01 01:00:00")],
                              "user_id long, ts_s string") \
            .select("user_id",
                    F.col("ts_s").cast("timestamp").alias("ts")) \
            .coalesce(1).write.mode("append").parquet(d)
        deadline = time.time() + 120
        evicted = False
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                if p["stateOperators"][0]["numRowsTotal"] == 1:
                    evicted = True
                    break
            time.sleep(2)
        assert evicted, "closed-window state not evicted after the " \
            "watermark passed end + delay"
    finally:
        q.stop()


def test_windowed_kmv_eviction(spark, tmp_path):
    """KMV twin state eviction (event-time timeout since r12): a
    window's state row is removed once the WATERMARK passes its
    end + delay — advanced here by a later event — leaving only the
    newest (still-open) window in the state store."""
    import os
    import time
    from arctic_spark.streaming import windowed_kmv_minima

    base = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i % 50:02d}") for i in range(80)],
        "user_id long, ts_s string") \
        .select(F.col("user_id"),
                F.col("ts_s").cast("timestamp").alias("ts"))
    d = os.path.join(str(tmp_path), "kmv_ev_in")
    base.coalesce(1).write.mode("overwrite").parquet(d)
    src = (spark.readStream.schema("user_id long, ts timestamp")
           .option("maxFilesPerTrigger", "1").parquet(d))
    out = windowed_kmv_minima(src, window="1 minute",
                              watermark="2 seconds",
                              key_col="user_id", k=8)
    q = (out.writeStream.format("memory").queryName("kmv_ev")
         .outputMode("update").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline and \
                not spark.sql("SELECT * FROM kmv_ev").count():
            time.sleep(1)
        assert spark.sql("SELECT * FROM kmv_ev").count()
        # watermark pusher: one event an hour later; wm advances to
        # 00:59:58, far past the first window's end + delay
        spark.createDataFrame([(999, "2024-01-01 01:00:00")],
                              "user_id long, ts_s string") \
            .select("user_id",
                    F.col("ts_s").cast("timestamp").alias("ts")) \
            .coalesce(1).write.mode("append").parquet(d)
        deadline = time.time() + 120
        evicted = False
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("stateOperators"):
                if p["stateOperators"][0]["numRowsTotal"] == 1:
                    evicted = True     # only the 01:00 window remains
                    break
            time.sleep(2)
        assert evicted, "closed-window KMV state not evicted after " \
            "the watermark passed its end + delay"
    finally:
        q.stop()


def test_windowed_fold_late_data_still_folds(spark, tmp_path):
    """batch ≡ stream under LATE data (r12, VERDICT r11 #3): with the
    event-time timeout a window's state lives exactly as long as the
    watermark admits rows for it, so an event-time-late (but legal)
    row in a later micro-batch still folds into its window — the
    final minima equal the batch sketch over ALL rows including the
    late one."""
    import os
    from arctic_spark.streaming import windowed_kmv_minima

    early = spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i % 30:02d}") for i in range(40)]
        + [(900, "2024-01-01 00:02:00")],      # advances the watermark
        "user_id long, ts_s string") \
        .select(F.col("user_id"),
                F.col("ts_s").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(7001, "2024-01-01 00:00:45"), (7002, "2024-01-01 00:00:46")],
        "user_id long, ts_s string") \
        .select(F.col("user_id"),
                F.col("ts_s").cast("timestamp").alias("ts"))
    d = os.path.join(str(tmp_path), "kmv_late_in")
    early.coalesce(1).write.mode("overwrite").parquet(d)
    late.coalesce(1).write.mode("append").parquet(d)
    src = (spark.readStream.schema("user_id long, ts timestamp")
           .option("maxFilesPerTrigger", "1").parquet(d))
    # 5-minute delay: the late rows (45s behind the 00:02:00 max) are
    # legal, and the r11 wall-clock timeout could already have evicted
    # the window they belong to
    out = windowed_kmv_minima(src, window="1 minute",
                              watermark="5 minutes",
                              key_col="user_id", k=64)
    q = (out.writeStream.format("memory").queryName("kmv_late")
         .outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kmv_late").collect()
    w0 = min(r.window_start for r in rows)
    got = sorted({r.h for r in rows if r.window_start == w0})[:64]
    both = early.union(late)
    batch = windowed_kmv_minima(both, window="1 minute",
                                key_col="user_id", k=64).collect()
    exp = sorted(r.h for r in batch if r.window_start == w0)
    assert got == exp
    # non-degenerate: the late rows actually changed the window's set
    batch_early = windowed_kmv_minima(early, window="1 minute",
                                      key_col="user_id", k=64).collect()
    assert sorted(r.h for r in batch_early
                  if r.window_start == w0) != exp


def test_windowed_fold_non_utc_session_tz(spark, tmp_path):
    """r12 review fix: the event-time timeout anchor localizes the
    session-tz-naive window key with the SESSION timezone before the
    epoch conversion — on a west-of-UTC session tz a bare epoch read
    would set a timeout below the current watermark and kill the
    query with IllegalArgumentException."""
    import os
    import time
    from arctic_spark.streaming import windowed_kmv_minima

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        base = spark.createDataFrame(
            [(i, f"2024-01-01 00:00:{i % 30:02d}") for i in range(40)],
            "user_id long, ts_s string") \
            .select(F.col("user_id"),
                    F.col("ts_s").cast("timestamp").alias("ts"))
        d = os.path.join(str(tmp_path), "kmv_tz_in")
        base.coalesce(1).write.mode("overwrite").parquet(d)
        # pusher far enough ahead that the watermark passes the first
        # window's anchor — the failure mode fires exactly here
        spark.createDataFrame([(999, "2024-01-01 02:00:00")],
                              "user_id long, ts_s string") \
            .select("user_id",
                    F.col("ts_s").cast("timestamp").alias("ts")) \
            .coalesce(1).write.mode("append").parquet(d)
        src = (spark.readStream.schema("user_id long, ts timestamp")
               .option("maxFilesPerTrigger", "1").parquet(d))
        out = windowed_kmv_minima(src, window="1 minute",
                                  watermark="2 seconds",
                                  key_col="user_id", k=8)
        q = (out.writeStream.format("memory").queryName("kmv_tz")
             .outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        assert spark.sql("SELECT * FROM kmv_tz").count() > 0
        # let the timeout batch run: restart-free check that the query
        # ended cleanly (availableNow drains all files + timeouts)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
