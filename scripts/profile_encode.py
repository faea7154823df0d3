"""Serial cProfile of the tile-encode stage at the bench shape.

Builds `build_tiles`' pre-encode frame with Spark (`tiling._grouped_tiles`,
the exact frame `build_tiles` feeds to `mapInArrow`: coverage explode,
span-gated classifier, payload nulling, pinned tile shuffle, group),
materializes it to parquet, then runs the EXACT executor encode function
(`kernels.mvt_batch.encode_batch`, the mapInArrow body) serially on
one core under cProfile, feeding it the same Arrow record batches the
executor sees. This isolates per-row Python encode CPU from Spark
scheduling/shuffle, so kernel-level optimizations can be measured without
host-noise error bars.

Usage: python scripts/profile_encode.py [--zooms 2,5,8,11,13] [--top 40]
"""

from __future__ import annotations

import argparse
import cProfile
import io
import pstats
import sys
import time

sys.path.insert(0, ".")


def build_grouped(out_path: str, zooms: list[int]) -> None:
    from grandine_spark.operators.tiling import _grouped_tiles
    from grandine_spark.session import get_spark
    from grandine_spark.sources import synth

    spark = get_spark()
    feats = synth.features(spark, n_polygons=2000, n_roads=1000, n_pois=2000)
    _grouped_tiles(feats, zooms).write.mode("overwrite").parquet(out_path)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--zooms", default="2,5,8,11,13")
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--cached", action="store_true", help="reuse parquet")
    ap.add_argument(
        "--noprof", action="store_true",
        help="wall-time only (no cProfile) — for A/B runs where profiler "
        "overhead would bias versions with different call counts",
    )
    args = ap.parse_args()
    zooms = [int(z) for z in args.zooms.split(",")]
    path = "/tmp/gs_profile_grouped"

    if not args.cached:
        build_grouped(path, zooms)

    import pyarrow.dataset as ds

    from grandine_spark.kernels import mvt_batch

    tbl = ds.dataset(path).to_table().combine_chunks()
    batches = tbl.to_batches(max_chunksize=args.batch)
    n_cov = sum(b.column("feats").value_lengths().to_numpy().sum() for b in batches)
    print(
        f"[profile] tiles={tbl.num_rows} coverage_rows={int(n_cov)}",
        file=sys.stderr,
    )

    def run() -> int:
        mvt_batch._RECT_TILE_CACHE.clear()
        total = 0
        for b in batches:
            out = mvt_batch.encode_batch(b, False, False, "mvt")
            total += out.num_rows
        return total

    t0 = time.monotonic()
    if args.noprof:
        n = run()
        wall = time.monotonic() - t0
        print(f"[profile] encoded {n} non-null tiles in {wall:.1f}s serial")
        return
    prof = cProfile.Profile()
    prof.enable()
    n = run()
    prof.disable()
    wall = time.monotonic() - t0
    print(f"[profile] encoded {n} non-null tiles in {wall:.1f}s serial")
    buf = io.StringIO()
    pstats.Stats(prof, stream=buf).sort_stats("cumulative").print_stats(args.top)
    print(buf.getvalue())


if __name__ == "__main__":
    main()
