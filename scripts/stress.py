"""Scale-stress demonstration: run the core distributed operators at
10-50x the bench row counts on synthetic data (generated distributed via
spark.range — nothing ever collected to the driver) and report
throughput. This is the "would it hold at 1000x" evidence the sf0.1
bench can't give: cell fan-out stays O(1), shuffles stay on compact
keys, no driver materialization anywhere.

Usage: python scripts/stress.py [n_points] [n_polys]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from arctic_spark import GeoDataFrame, st  # noqa: E402
from arctic_spark.joins import dwithin_join, spatial_join  # noqa: E402
from arctic_spark.llm import similarity  # noqa: E402
from arctic_spark.session import get_spark  # noqa: E402


def main():
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    spark = get_spark("arctic_spark-stress")
    par = spark.sparkContext.defaultParallelism

    def report(name, t0, rows):
        dt = time.perf_counter() - t0
        print(f"{name}: {dt:.1f}s, {rows:,} result rows, "
              f"{n_points / dt / 1e6:.2f}M input rows/s", flush=True)

    # distributed synthetic points over a 10k x 10k world
    pts = spark.range(n_points).repartition(par).select(
        F.col("id"),
        st.point((F.pmod(F.col("id") * 48271, F.lit(100_000)))
                 .cast("double") / 10.0,
                 (F.pmod(F.col("id") * 69621, F.lit(100_000)))
                 .cast("double") / 10.0).alias("geometry"))
    polys = spark.range(n_polys).select(
        F.col("id").alias("poly_id"),
        st.make_envelope(
            (F.pmod(F.col("id") * 37, F.lit(100)) * 100).cast("double"),
            (F.pmod(F.col("id") * 53, F.lit(100)) * 100).cast("double"),
            (F.pmod(F.col("id") * 37, F.lit(100)) * 100 + 80).cast("double"),
            (F.pmod(F.col("id") * 53, F.lit(100)) * 100 + 80).cast("double"))
        .alias("geometry"))

    t0 = time.perf_counter()
    out = spatial_join(GeoDataFrame(pts), GeoDataFrame(polys),
                       points_left=True, broadcast_right=True,
                       cell_size=100.0)
    n = out.df.count()
    report(f"spatial_join {n_points:,} pts x {n_polys:,} rects", t0, n)

    t0 = time.perf_counter()
    n = pts.select(st.geodesic_length(
        st.make_line(F.array(st.x("geometry"), st.x("geometry") + 0.1),
                     F.array(st.y("geometry") / 100.0,
                             st.y("geometry") / 100.0 + 0.1)),
        "haversine").alias("m")).agg(F.sum("m")).collect()[0][0]
    report("haversine over synthetic lines", t0, 1)

    sample = pts.where(F.col("id") % 100 == 0)  # 1% for the O(n·k) join
    t0 = time.perf_counter()
    n = dwithin_join(GeoDataFrame(sample), GeoDataFrame(sample),
                     distance=5.0, points_only=True).df.count()
    report(f"dwithin self-join on {n_points // 100:,} pts", t0, n)

    # row-wise boolean overlay on small polygons (the arrangement
    # engine's small-pair fast paths): geodesic Vincenty and boolean ops
    # are the two Python-side kernels a 100 TB pipeline actually pays
    n_bool = max(n_points // 10, 100_000)
    sq = spark.range(n_bool).repartition(par).select(
        F.col("id"),
        st.make_envelope(
            (F.pmod(F.col("id") * 7, F.lit(1000))).cast("double"),
            (F.pmod(F.col("id") * 11, F.lit(1000))).cast("double"),
            (F.pmod(F.col("id") * 7, F.lit(1000)) + 4).cast("double"),
            (F.pmod(F.col("id") * 11, F.lit(1000)) + 4).cast("double"))
        .alias("a"),
        st.make_envelope(
            (F.pmod(F.col("id") * 7, F.lit(1000)) + 1).cast("double"),
            (F.pmod(F.col("id") * 11, F.lit(1000)) + 1).cast("double"),
            (F.pmod(F.col("id") * 7, F.lit(1000)) + 5).cast("double"),
            (F.pmod(F.col("id") * 11, F.lit(1000)) + 5).cast("double"))
        .alias("b"))
    t0 = time.perf_counter()
    tot = sq.withColumn("ix", st.intersection("a", "b")) \
            .agg(F.sum(st.area("ix"))).collect()[0][0]
    dt = time.perf_counter() - t0
    assert abs(tot - 9.0 * n_bool) < 1e-6 * n_bool, tot
    print(f"boolean intersection on {n_bool:,} polygon pairs: {dt:.1f}s, "
          f"{n_bool / dt / 1e3:.0f}k pairs/s", flush=True)

    t0 = time.perf_counter()
    n = pts.select(st.geodesic_length(
        st.make_line(F.array(st.x("geometry"), st.x("geometry") + 0.1),
                     F.array(st.y("geometry") / 100.0,
                             st.y("geometry") / 100.0 + 0.1)),
        "vincenty").alias("m")).agg(F.sum("m")).collect()[0][0]
    report("vincenty (batched) over synthetic lines", t0, 1)

    # round 6: Karney geodesic (exact incl. antipodal) at the same scale
    t0 = time.perf_counter()
    n = pts.select(st.geodesic_length(
        st.make_line(F.array(st.x("geometry"), st.x("geometry") + 0.1),
                     F.array(st.y("geometry") / 100.0,
                             st.y("geometry") / 100.0 + 0.1)),
        "geodesic").alias("m")).agg(F.sum("m")).collect()[0][0]
    report("karney geodesic over synthetic lines", t0, 1)

    # round 6 (third session): native spatial keys at scale — both are
    # single codegen expressions, so throughput is scan-bound
    lon = (st.x(F.col("geometry")) / 10_000.0) * 360.0 - 180.0
    lat = (st.y(F.col("geometry")) / 10_000.0) * 180.0 - 90.0
    t0 = time.perf_counter()
    n = pts.select(st.geohash(lon, lat, 8).alias("gh")) \
        .agg(F.approx_count_distinct("gh")).collect()[0][0]
    report(f"geohash p=8 over {n_points:,} pts", t0, n)
    t0 = time.perf_counter()
    hk = st.hex_key(st.x(F.col("geometry")), st.y(F.col("geometry")), 50.0)
    n = pts.select(hk["q"].alias("q"), hk["r"].alias("r")) \
        .groupBy("q", "r").count().count()
    report(f"hex density (one shuffle) over {n_points:,} pts", t0, n)

    # diamond join at scale — diamonds on both sides defeat the rect
    # fast path, so every candidate refines through the exact Arrow
    # intersects kernel (udfs.join_refine)
    n_dia = max(n_points // 2, 100_000)
    dia = spark.range(n_dia).repartition(par).select(
        F.col("id"),
        st.make_polygon(
            F.array((F.pmod(F.col("id") * 48271, F.lit(100_000)))
                    .cast("double") / 10.0 - 3.0,
                    (F.pmod(F.col("id") * 48271, F.lit(100_000)))
                    .cast("double") / 10.0,
                    (F.pmod(F.col("id") * 48271, F.lit(100_000)))
                    .cast("double") / 10.0 + 3.0,
                    (F.pmod(F.col("id") * 48271, F.lit(100_000)))
                    .cast("double") / 10.0),
            F.array((F.pmod(F.col("id") * 69621, F.lit(100_000)))
                    .cast("double") / 10.0,
                    (F.pmod(F.col("id") * 69621, F.lit(100_000)))
                    .cast("double") / 10.0 - 3.0,
                    (F.pmod(F.col("id") * 69621, F.lit(100_000)))
                    .cast("double") / 10.0,
                    (F.pmod(F.col("id") * 69621, F.lit(100_000)))
                    .cast("double") / 10.0 + 3.0)).alias("geometry"))
    big_dia = spark.range(n_polys).select(
        F.col("id").alias("poly_id"),
        st.make_polygon(
            F.array((F.pmod(F.col("id") * 37, F.lit(100)) * 100)
                    .cast("double"),
                    (F.pmod(F.col("id") * 37, F.lit(100)) * 100 + 40)
                    .cast("double"),
                    (F.pmod(F.col("id") * 37, F.lit(100)) * 100 + 80)
                    .cast("double"),
                    (F.pmod(F.col("id") * 37, F.lit(100)) * 100 + 40)
                    .cast("double")),
            F.array((F.pmod(F.col("id") * 53, F.lit(100)) * 100 + 40)
                    .cast("double"),
                    (F.pmod(F.col("id") * 53, F.lit(100)) * 100)
                    .cast("double"),
                    (F.pmod(F.col("id") * 53, F.lit(100)) * 100 + 40)
                    .cast("double"),
                    (F.pmod(F.col("id") * 53, F.lit(100)) * 100 + 80)
                    .cast("double"))).alias("geometry"))
    t0 = time.perf_counter()
    out = spatial_join(GeoDataFrame(dia), GeoDataFrame(big_dia),
                       broadcast_right=True, cell_size=100.0)
    n = out.df.count()
    report(f"diamond join {n_dia:,} diamonds x {n_polys:,} diamonds",
           t0, n)

    # round 6: rect-overlay at scale — the vectorized axis-rect
    # intersection fast path means a tile-clip overlay pays Arrow
    # transfer, not the arrangement engine
    t0 = time.perf_counter()
    tot = sq.withColumn("ix", st.intersection("a", "b")) \
            .where(st.area("ix") > 0).count()
    report(f"rect-intersection overlay on {n_bool:,} pairs (fast path)",
           t0, tot)

    # round 6: training-pipeline ops at synthetic scale — shingle
    # decontamination and chunking, all-native per-row work
    n_docs = max(n_points // 10, 100_000)
    docs = spark.range(n_docs).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"), F.pmod(F.col("id") * (7 + 13 * j),
                                        F.lit(997)).cast("string"))
            for j in range(40)]).alias("text"))
    from arctic_spark.llm import pipeline as pl
    bench_docs = docs.where(F.col("doc_id") % 1000 == 0)
    t0 = time.perf_counter()
    n = pl.contamination_pairs(docs, bench_docs, k=5,
                               min_overlap_frac=0.8).count()
    dt = time.perf_counter() - t0
    print(f"decontamination {n_docs:,} docs x {n_docs // 1000:,} bench: "
          f"{dt:.1f}s, {n:,} flagged pairs, {n_docs / dt / 1e3:.0f}k docs/s",
          flush=True)

    t0 = time.perf_counter()
    n = pl.chunk_documents(docs, chunk_tokens=16, overlap=4).count()
    dt = time.perf_counter() - t0
    print(f"chunking {n_docs:,} docs: {dt:.1f}s, {n:,} chunks, "
          f"{n_docs / dt / 1e3:.0f}k docs/s", flush=True)

    t0 = time.perf_counter()
    kept = pl.stratified_sample(
        docs.withColumn("lang", F.pmod(F.col("doc_id"), F.lit(4))
                        .cast("string")),
        "lang", "doc_id", {"0": 1.0, "1": 0.5}, 0.1).count()
    dt = time.perf_counter() - t0
    print(f"stratified sample {n_docs:,} docs: {dt:.1f}s, {kept:,} kept",
          flush=True)

    # exact substring dedup: stride-1 8-token windows over every doc —
    # the window explode is the corpus token volume
    from arctic_spark.llm import dedup as dd
    t0 = time.perf_counter()
    kept_chars = dd.dedup_substrings(docs, k=8) \
        .agg(F.sum(F.length("text"))).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"substring dedup {n_docs:,} docs (40 toks each): {dt:.1f}s, "
          f"{kept_chars or 0:,} kept chars, {n_docs / dt / 1e3:.0f}k docs/s",
          flush=True)

    # SemDeDup over synthetic embeddings (32-d). Cluster count bounds
    # the quadratic within-cluster pair volume — the paper's own scale
    # knob: n/k per cluster, here ~800 → ~40M candidate pairs total.
    from arctic_spark.llm import similarity as sim
    n_vec = min(max(n_points // 100, 10_000), 50_000)
    em = spark.range(n_vec).repartition(par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(32)), lambda j:
                    (F.pmod(F.col("id"), F.lit(64)) * 10 + F.pmod(
                        F.col("id") * j * 2654435761, F.lit(97))
                     .cast("double") / 97.0)).alias("embedding"))
    cents = sim.seed_centroids(em, 64)
    t0 = time.perf_counter()
    surv = sim.semdedup(em, cents, threshold=0.999999).count()
    dt = time.perf_counter() - t0
    print(f"semdedup {n_vec:,} vecs x 64 clusters: {dt:.1f}s, "
          f"{surv:,} survivors, {n_vec / dt / 1e3:.0f}k vecs/s",
          flush=True)

    # round 6 (fourth session): distributed DBSCAN at scale — blobs of 8
    # chained points; the dwithin self-join + neighbor counts + CC rounds
    # all shuffle on compact long keys
    from arctic_spark.clustering import cluster_dbscan
    n_clu = max(n_points // 10, 100_000)
    blob = (F.col("id") / 8).cast("long")
    cpts = spark.range(n_clu).repartition(par).select(
        F.col("id"),
        st.point((F.pmod(blob, F.lit(1000))).cast("double") * 50.0
                 + (F.pmod(F.col("id"), F.lit(8))).cast("double") * 0.9,
                 (blob / 1000).cast("long").cast("double") * 50.0)
        .alias("geometry"))
    t0 = time.perf_counter()
    res = cluster_dbscan(GeoDataFrame(cpts), 1.0, 3, "id",
                         points_only=True)
    n = res.where(F.col("cluster").isNotNull()).count()
    dt = time.perf_counter() - t0
    print(f"dbscan {n_clu:,} pts ({n_clu // 8:,} blobs): {dt:.1f}s, "
          f"{n:,} clustered, {n_clu / dt / 1e3:.0f}k pts/s", flush=True)

    # BM25: 500k-doc corpus x 100 queries through the broadcast postings
    # join (corpus shuffles once on (doc, token), once on token)
    qdocs = docs.where(F.col("doc_id") % (n_docs // 100) == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    # persist the synthetic corpus: bm25 scans it twice (postings +
    # N/avgdl) — on parquet a re-scan is a cheap columnar read, but the
    # interpreted generator would be charged per pass (r9)
    docs = docs.persist(); docs.count()
    t0 = time.perf_counter()
    n = pl.bm25_topk(docs, qdocs, k=10).count()
    dt = time.perf_counter() - t0
    print(f"bm25 {n_docs:,} docs x ~100 queries: {dt:.1f}s, "
          f"{n:,} result rows, {n_docs / dt / 1e3:.0f}k docs/s", flush=True)

    # trajectory assembly: n_points events -> n/50 entities, one shuffle
    from arctic_spark.temporal import make_trajectories
    # prime moduli: the uid stride must not divide the coordinate
    # period, or every trajectory collapses to a single repeated point
    ev = spark.range(n_points).repartition(par).select(
        (F.col("id") % (n_points // 50)).alias("uid"),
        (F.col("id") * 1_000_003).alias("t"),
        (F.pmod(F.col("id") * 48271, F.lit(99_991)).cast("double") / 10.0)
        .alias("x"),
        (F.pmod(F.col("id") * 69621, F.lit(99_991)).cast("double") / 10.0)
        .alias("y"))
    t0 = time.perf_counter()
    tl = make_trajectories(ev, "uid", "t", F.col("x"), F.col("y")) \
        .agg(F.sum(st.length("geometry"))).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"trajectories {n_points:,} events -> {n_points // 50:,} lines: "
          f"{dt:.1f}s, total path {tl:,.0f}, "
          f"{n_points / dt / 1e6:.2f}M events/s", flush=True)

    # ---- round 7 (VERDICT r6 #9): the r6 flagships at 10-100x bench --

    # PageRank on a 10M-edge graph (1M nodes, skewed in-degree): per
    # round ONE rank-edge equi-join + ONE groupBy(dst), dangling mass a
    # broadcast single-row aggregate inside the same plan (r7)
    from arctic_spark.llm import graph as gr
    n_edge = max(n_points * 2, 10_000_000)
    n_node = 1_000_000
    edges = spark.range(n_edge).repartition(par).select(
        F.pmod(F.col("id") * 48271, F.lit(n_node)).alias("src"),
        # quadratic residues concentrate mass -> skewed in-degree
        F.pmod(F.col("id") * F.col("id") + 17, F.lit(n_node)).alias("dst"))
    t0 = time.perf_counter()
    pr = gr.pagerank(edges, iterations=5, checkpoint_every=5)
    top = pr.orderBy(F.col("rank_fp").desc()).limit(3).collect()
    dt = time.perf_counter() - t0
    from arctic_spark.cache import release
    release(pr)
    print(f"pagerank {n_edge:,} edges x 5 rounds: {dt:.1f}s, "
          f"top rank {top[0]['rank']:.2e}, "
          f"{n_edge * 5 / dt / 1e6:.1f}M edge-visits/s", flush=True)

    # PCA at d=64 over 5M embeddings: (d+1)^2 moment partials per
    # partition, NO shuffle, driver eigh on a 64x64 matrix
    from arctic_spark.llm import embed as emb
    n_vec2 = max(n_points, 5_000_000)
    em2 = spark.range(n_vec2).repartition(par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda j:
                    F.pmod(F.col("id") * j * 2654435761, F.lit(9973))
                    .cast("double") / 9973.0).alias("embedding"))
    t0 = time.perf_counter()
    mean, comps, vals, ratio = emb.pca(em2, k=4, dim=64)
    dt = time.perf_counter() - t0
    print(f"pca d=64 k=4 over {n_vec2:,} vecs: {dt:.1f}s, "
          f"explained {float(ratio.sum()):.3f}, "
          f"{n_vec2 / dt / 1e6:.2f}M vecs/s", flush=True)

    # bloom build at 1e8 keys at PRODUCTION sizing (2^30 bits = 10.7
    # bits/key, 128 MiB filter): per-partition numpy partials emit as
    # <=4 MiB chunk rows and OR-combine via reduceByKey on the chunk
    # id — the driver receives each filter region once (r7's flat
    # driver OR would have collected par x 128 MiB here; whole-partial
    # tree reduction OOMed the single local JVM)
    from arctic_spark import relational as rel
    n_keys = max(n_points * 20, 100_000_000)
    keys = spark.range(n_keys).repartition(par) \
        .select(F.col("id").alias("k"))
    t0 = time.perf_counter()
    bloom = rel.build_bloom(keys, "k", bits=1 << 30, hashes=5)
    dt = time.perf_counter() - t0
    import numpy as _np
    fill = float(_np.unpackbits(
        _np.asarray(bloom[:65536], dtype=_np.int64).view(_np.uint8)).mean())
    print(f"bloom build {n_keys:,} keys (2^30 bits, chunked "
          f"reduceByKey): {dt:.1f}s, fill {fill:.2f}, "
          f"{n_keys / dt / 1e6:.1f}M keys/s", flush=True)

    # PQ-ADC top-k over 5M x 64-d vectors (r8): corpus encodes to m=8
    # code ids (native argmin), IVF coarse quantizer gates candidates
    # to nprobe=2 buckets of 16 — the candidate equi-join ships
    # (id, bucket, 8 ints) per corpus row, never the 64 floats
    from arctic_spark.llm import similarity as sim
    n_vpq = max(n_points, 5_000_000)
    empq = spark.range(n_vpq).repartition(par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda j:
                    F.pmod(F.col("id") * j * 2654435761, F.lit(9973))
                    .cast("double") / 9973.0).alias("embedding"))
    books = sim.train_pq_codebooks(empq, dim=64, m=8, n_codes=16,
                                   sample_limit=2048, iters=8)
    cents = sim.train_ivf_centroids(empq, dim=64, n_clusters=16,
                                    sample_limit=2048, iters=8)
    qpq = empq.where(F.col("vec_id") % (n_vpq // 50) == 0)
    t0 = time.perf_counter()
    n = sim.pq_topk(qpq, empq, books, k=5, centroids=cents,
                    nprobe=2).count()
    dt = time.perf_counter() - t0
    print(f"pq-adc topk 5 over {n_vpq:,} x 64-d vecs (~50 queries, "
          f"ivf nprobe=2): {dt:.1f}s, {n:,} result rows, "
          f"{n_vpq / dt / 1e3:.0f}k vecs/s", flush=True)

    # classifier scoring over 5M docs (r8): one native expression
    # (md5 bucket + array-literal weights), zero Python, one scan
    from arctic_spark.llm import classify as clf
    n_docs_c = max(n_points, 5_000_000)
    docsc = spark.range(n_docs_c).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"), F.pmod(F.col("id") * (7 + 13 * j),
                                        F.lit(9973)).cast("string"))
            for j in range(20)]).alias("text"))
    wts = [((i * 2654435761) % 1999 - 999) / 999.0 for i in range(64)]
    t0 = time.perf_counter()
    kept = (docsc.select(clf.score_text("text", wts, bias=-0.1)
                         .alias("q"))
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .collect()[0])
    dt = time.perf_counter() - t0
    print(f"classifier scoring over {n_docs_c:,} docs: {dt:.1f}s, "
          f"mean score {kept['s'] / kept['n']:.3f}, "
          f"{n_docs_c / dt / 1e3:.0f}k docs/s", flush=True)

    # BM25 at 5M docs x 50 queries: corpus tokenizes once, one
    # (doc, token) shuffle + broadcast query side
    n_docs5 = max(n_points, 5_000_000)
    docs5 = spark.range(n_docs5).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("w"), F.pmod(F.col("id") * (7 + 13 * j),
                                        F.lit(9973)).cast("string"))
            for j in range(20)]).alias("text"))
    q5 = docs5.where(F.col("doc_id") % (n_docs5 // 50) == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    docs5 = docs5.persist(); docs5.count()   # see 500k block (r9)
    t0 = time.perf_counter()
    n = pl.bm25_topk(docs5, q5, k=10).count()
    dt = time.perf_counter() - t0
    print(f"bm25 {n_docs5:,} docs x ~50 queries: {dt:.1f}s, "
          f"{n:,} result rows, {n_docs5 / dt / 1e3:.0f}k docs/s",
          flush=True)

    # r8 second session: semdedup_stats — the gram-matrix path at 20x
    # the pair-join stress size (1M vecs, 256 clusters → ~4k/cluster,
    # one 4k x 4k gemm per cluster, one O(n) shuffle total)
    n_vec2 = min(max(n_points // 5, 100_000), 1_000_000)
    em2 = spark.range(n_vec2).repartition(par).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(32)), lambda j:
                    (F.pmod(F.col("id"), F.lit(256)) * 10 + F.pmod(
                        F.col("id") * j * 2654435761, F.lit(97))
                     .cast("double") / 97.0)).alias("embedding"))
    cents2 = sim.seed_centroids(em2, 256)
    t0 = time.perf_counter()
    stats = sim.semdedup_stats(em2, cents2, threshold=0.999999) \
        .agg(F.sum("n_members").alias("m"),
             F.sum("n_dropped").alias("d")).collect()[0]
    dt = time.perf_counter() - t0
    print(f"semdedup_stats {n_vec2:,} vecs x 256 clusters (gemm): "
          f"{dt:.1f}s, {stats['m'] - stats['d']:,} survivors, "
          f"{n_vec2 / dt / 1e3:.0f}k vecs/s", flush=True)

    # r8 second session: unigram-LM Viterbi encoding throughput
    # (broadcast piece table, one Arrow pass, zero shuffles)
    from arctic_spark.llm import unigram as ug
    n_docs_u = max(n_points // 10, 100_000)
    docs_u = spark.range(n_docs_u).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.translate(F.concat_ws(" ", *[
            F.pmod(F.col("id") * (7 + 13 * j), F.lit(99991))
            .cast("string") for j in range(20)]),
            "0123456789", "theringsad").alias("text"))
    lp = {chr(97 + i): -3.0 - (i % 7) * 0.25 for i in range(26)}
    lp.update({"th": -2.5, "he": -2.6, "in": -2.4, "ri": -2.7,
               "ng": -2.55, "the": -2.9, "ing": -3.1, "ad": -2.45,
               "sa": -2.65})
    t0 = time.perf_counter()
    n = ug.viterbi_encode(docs_u, "text", lp, 8) \
        .agg(F.sum("n_pieces")).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"unigram viterbi encode {n_docs_u:,} docs (20 words each): "
          f"{dt:.1f}s, {n:,} pieces, {n_docs_u / dt / 1e3:.0f}k docs/s",
          flush=True)

    # r8 second session: Kneser-Ney LM — train on 500k docs (three
    # count shuffles on compact string keys) and score the corpus
    # (coalesce-chained equi-joins); the model is never collected
    from arctic_spark.llm import ngram_lm as LM
    n_docs_k = max(n_points // 10, 100_000)
    docs_k = spark.range(n_docs_k).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.translate(F.concat_ws(" ", *[
            F.pmod(F.col("id") * (7 + 13 * j), F.lit(9973))
            .cast("string") for j in range(20)]),
            "0123456789", "theringsad").alias("text"))
    t0 = time.perf_counter()
    model = LM.kn_model(LM.ngram_counts(docs_k, "text", 3))
    tot = LM.kn_score(docs_k, "text", model, "doc_id") \
        .agg(F.sum("sum_p")).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"kneser-ney train+score {n_docs_k:,} docs (20 words each): "
          f"{dt:.1f}s, sum_p {tot:,.0f}, "
          f"{n_docs_k / dt / 1e3:.0f}k docs/s", flush=True)
    for _d in model["_pinned"]:
        _d.unpersist()

    # r8 second session: from-scratch JPEG codec throughput — encode
    # AND decode+dHash per image, all inside executors (mapInPandas)
    from arctic_spark.llm import multimodal as mm
    n_img = max(n_points // 50, 20_000)
    base = spark.range(n_img).repartition(par)

    def gen(batches):
        import numpy as np
        import pandas as pd
        from arctic_spark.llm.jpeg import encode_jpeg
        for pdf in batches:
            payloads = []
            for k in pdf["id"]:
                k = int(k)
                yy, xx = np.mgrid[0:32, 0:32]
                img = ((xx * (k % 7 + 1) + yy * (k % 5 + 1)) % 256) \
                    .astype(np.uint8)
                payloads.append(encode_jpeg(img, quality=80))
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    t0 = time.perf_counter()
    n = mm.image_meta_and_phash(
        base.mapInPandas(gen, schema="id long, payload binary")) \
        .agg(F.approx_count_distinct("phash64")).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"jpeg encode+decode+dhash {n_img:,} 32x32 images: {dt:.1f}s, "
          f"{n:,} distinct hashes, {n_img / dt / 1e3:.1f}k imgs/s",
          flush=True)

    # r9: PQ-ADC encode at full corpus size — the Arrow-gemm path
    # (one BLAS gemm per batch per subspace); r8's interpreted-HOF
    # argmin measured 239 s on the same shape
    t0 = time.perf_counter()
    empq.select("vec_id", sim.pq_encode_arrow("embedding", books)
                .alias("codes")) \
        .write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"pq encode (arrow gemm) {n_vpq:,} x 64-d m=8: {dt:.1f}s, "
          f"{n_vpq / dt / 1e3:.0f}k vecs/s", flush=True)

    # r9: Kneser-Ney at full corpus size (task: 5M docs) — one native
    # pass + one shuffle per order, scoring via coalesce-chained joins
    n_docs_k2 = max(n_points, 1_000_000)
    docs_k2 = spark.range(n_docs_k2).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.translate(F.concat_ws(" ", *[
            F.pmod(F.col("id") * (7 + 13 * j), F.lit(9973))
            .cast("string") for j in range(20)]),
            "0123456789", "theringsad").alias("text"))
    t0 = time.perf_counter()
    model2 = LM.kn_model(LM.ngram_counts(docs_k2, "text", 3))
    tot2 = LM.kn_score(docs_k2, "text", model2, "doc_id") \
        .agg(F.sum("sum_p")).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"kneser-ney train+score {n_docs_k2:,} docs (20 words each): "
          f"{dt:.1f}s, sum_p {tot2:,.0f}, "
          f"{n_docs_k2 / dt / 1e3:.0f}k docs/s", flush=True)
    for _d in model2["_pinned"]:
        _d.unpersist()

    # r9: unigram trainer over ~2M distinct words — the E-step is one
    # mapInPandas over the (distinct word, count) table + a vocab-sized
    # shuffle; driver work stays vocab-bounded
    n_docs_t = max(n_points // 5, 200_000)
    docs_t = spark.range(n_docs_t).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.translate(F.concat_ws(" ", *[
            (F.col("id") * (7 + 13 * j) % F.lit(2_000_003))
            .cast("string") for j in range(2)]),
            "0123456789", "theringsad").alias("text"))
    t0 = time.perf_counter()
    logp_t, hist_t = ug.train_unigram(docs_t, "text", vocab_size=400,
                                      em_rounds=1, seed_size=1000)
    dt = time.perf_counter() - t0
    nw = docs_t.select(F.explode(F.split("text", " "))).distinct().count()
    print(f"unigram trainer {n_docs_t:,} docs / {nw:,} distinct words: "
          f"{dt:.1f}s, vocab {len(logp_t)}, "
          f"{len(hist_t)} EM fits", flush=True)

    # r9: composite overlay (how='union') at ~500k candidate pairs —
    # one spatial join + per-pair intersection persisted, fused
    # difference_collected leftovers (one arrangement pass per side)
    from arctic_spark.joins import overlay as _overlay
    n_ov = 500_000
    ko = F.col("id")
    cellx = (ko % 1000).cast("double") * 8.0
    celly = (ko / 1000).cast("long").cast("double") * 8.0
    lov = GeoDataFrame(spark.range(n_ov).repartition(par).select(
        ko.alias("lk"),
        st.make_envelope(cellx + 0.5, celly + 0.5,
                         cellx + 4.5, celly + 4.5).alias("geometry")))
    rov = GeoDataFrame(spark.range(n_ov).repartition(par).select(
        ko.alias("rk"),
        st.make_envelope(cellx + 2.5, celly + 2.5,
                         cellx + 6.5, celly + 6.5).alias("geometry")))
    t0 = time.perf_counter()
    n = _overlay(lov, rov, how="union", left_key="lk", right_key="rk",
                 cell_size=8.0).df.count()
    dt = time.perf_counter() - t0
    print(f"overlay union {n_ov:,} pairs (intersection + both "
          f"leftovers): {dt:.1f}s, {n:,} rows, "
          f"{n_ov / dt / 1e3:.0f}k pairs/s", flush=True)

    # r9: WordPiece greedy encoding throughput (broadcast vocab, one
    # Arrow pass, zero shuffles — same plan shape as unigram Viterbi)
    from arctic_spark.llm import wordpiece as WP
    n_docs_w = max(n_points // 10, 100_000)
    docs_w = spark.range(n_docs_w).repartition(par).select(
        F.col("id").alias("doc_id"),
        F.translate(F.concat_ws(" ", *[
            F.pmod(F.col("id") * (7 + 13 * j), F.lit(99991))
            .cast("string") for j in range(20)]),
            "0123456789", "theringsad").alias("text"))
    wvoc = ["t", "h", "e", "r", "i", "n", "g", "s", "a", "d",
            "##t", "##h", "##e", "##r", "##i", "##n", "##g", "##s",
            "##a", "##d", "th", "##he", "##in", "##ng", "ri", "##ing",
            "the", "##ad", "sa", "##er", "he", "##at", "##es", "##ed",
            "##re", "##an"]
    t0 = time.perf_counter()
    tot_w = WP.wordpiece_encode(docs_w, "text", wvoc) \
        .agg(F.sum(F.size("tokens"))).collect()[0][0]
    dt = time.perf_counter() - t0
    print(f"wordpiece greedy encode {n_docs_w:,} docs (20 words each): "
          f"{dt:.1f}s, {tot_w:,} tokens, {n_docs_w / dt / 1e3:.0f}k "
          "docs/s", flush=True)

    # r9: FGB/GPKG conversion throughput. Both writers serialize ONE
    # file on the driver (the formats are single-file containers —
    # same bound as the reference's GDAL path); the scale path is
    # convert-to-GeoParquet, which is distributed on both sides.
    import tempfile
    import os
    from arctic_spark import io as aio
    n_f = 200_000
    gsrc = GeoDataFrame(spark.range(n_f).select(
        F.col("id").alias("pid"),
        st.point((F.col("id") % 3600).cast("double") / 10.0 - 180.0,
                 (F.col("id") % 1700).cast("double") / 10.0 - 85.0)
        .alias("geometry")))
    with tempfile.TemporaryDirectory() as td:
        fgb = os.path.join(td, "pts.fgb")
        t0 = time.perf_counter()
        aio.write_flatgeobuf(gsrc, fgb)
        n = aio.read_flatgeobuf(spark, fgb).df.count()
        dt = time.perf_counter() - t0
        print(f"fgb write+read {n_f:,} points (single-file, "
              f"driver-bound by format): {dt:.1f}s, {n:,} rows, "
              f"{n_f / dt / 1e3:.0f}k feats/s", flush=True)
        gpkg = os.path.join(td, "pts.gpkg")
        t0 = time.perf_counter()
        aio.write_geopackage(gsrc, gpkg)
        n = aio.read_geopackage(spark, gpkg).df.count()
        dt = time.perf_counter() - t0
        print(f"gpkg write+read {n_f:,} points (single-file sqlite): "
              f"{dt:.1f}s, {n:,} rows, {n_f / dt / 1e3:.0f}k feats/s",
              flush=True)
        pq = os.path.join(td, "pts.parquet")
        t0 = time.perf_counter()
        aio.write_geoparquet(aio.read_flatgeobuf(spark, fgb), pq)
        n = aio.read_geoparquet(spark, pq).df.count()
        dt = time.perf_counter() - t0
        print(f"fgb -> geoparquet convert {n_f:,} points (distributed "
              f"sink): {dt:.1f}s, {n:,} rows", flush=True)

    # r9 session 3: mergeable sketches at full stress size — the whole
    # point is that only register/hash/counter rows ever shuffle
    from arctic_spark import sketches as sk
    n_keys = n_points * 20  # 100M key observations, ~n_points distinct
    keyed = spark.range(n_keys).repartition(par).select(
        F.pmod(F.col("id") * 2654435761, F.lit(n_points))
        .cast("string").alias("v"))
    t0 = time.perf_counter()
    regs = sk.hll_sketch(keyed, "v", p=12)
    est = sk.hll_estimate(regs, p=12)
    dt = time.perf_counter() - t0
    err = abs(est - n_points) / n_points
    print(f"hll p=12 over {n_keys:,} observations: {dt:.1f}s, "
          f"est {est:,.0f} (err {err:.1%}), "
          f"{n_keys / dt / 1e6:.1f}M rows/s", flush=True)
    t0 = time.perf_counter()
    kest = sk.kmv_estimate(sk.kmv_sketch(keyed, "v", k=1024), k=1024)
    dt = time.perf_counter() - t0
    kerr = abs(kest - n_points) / n_points
    print(f"kmv k=1024 over {n_keys:,} observations: {dt:.1f}s, "
          f"est {kest:,.0f} (err {kerr:.1%}), "
          f"{n_keys / dt / 1e6:.1f}M rows/s", flush=True)
    t0 = time.perf_counter()
    cms = sk.cms_sketch(keyed, "v", depth=4, width=65536)
    probes = keyed.groupBy("v").agg(F.count("*").alias("cnt")) \
        .orderBy(F.desc("cnt"), "v").limit(100)
    got = sk.cms_query(cms, probes, "v", depth=4, width=65536) \
        .agg(F.max(F.col("cms_est") - F.col("cnt")).alias("worst")) \
        .collect()[0]["worst"]
    dt = time.perf_counter() - t0
    print(f"cms 4x65536 over {n_keys:,} observations + 100 probes: "
          f"{dt:.1f}s, worst overcount {got}, "
          f"{n_keys / dt / 1e6:.1f}M rows/s", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
