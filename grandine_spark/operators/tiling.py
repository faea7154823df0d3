"""The tiler as a DataFrame DAG — the reference's flagship pipeline
(cmd/tiler/tiler.go:80-228, lifecycle in SURVEY.md §3.1) re-expressed
Spark-first:

    features table
      → zoom-renderability filter        (native, cmd/tiler/tiler.go:230-248)
      → coverage explode per zoom        (native sequence+explode, J2/J4)
      → layer routing                    (native coalesce, tiler.go:300-312)
      → groupBy(z, x, y)                 (the shuffle replaces the shared-
                                          memory FeatureCache index)
      → mapInArrow(encode tiles)         (kernels/mvt_batch.encode_batch:
                                          project→clip, then merge→MVT
                                          protobuf, lib/mvt/codec.go:57-198,
                                          or a GeoJSON FeatureCollection;
                                          whole tiles per Arrow batch)
      → tiles table (z, x, y, tile binary [, gzip])

Skew: the reference randomizes its tile worklist (cmd/tiler/shuffle.go:11-15)
because dense cities cluster in z-order. In Spark the groupBy hash-partitions
tiles uniformly (the same fix, for free) and AQE rebalances partition sizes;
a single giant tile group is bounded by per-tile feature counts, which
``cell_stats`` surfaces so hot tiles can be capped upstream. Tile encode must
see the WHOLE group to be byte-stable (MVT dictionaries + merge are
order-sensitive), so groups are never split (SURVEY.md §7).

The encoder orders each tile group's rows by (layer name, feature_id) — a
deterministic total order, so output bytes do not depend on shuffle arrival
order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tile_exprs as TX
from ..kernels.mvt_batch import encode_batch
from ..session import local_frame, pin_width

TILES_SCHEMA = T.StructType(
    [
        T.StructField("tile_z", T.IntegerType(), False),
        T.StructField("tile_x", T.LongType(), False),
        T.StructField("tile_y", T.LongType(), False),
        T.StructField("n_features", T.IntegerType(), False),
        T.StructField("tile", T.BinaryType(), True),
    ]
)


def _zoom_gate(zoom: Column) -> Column:
    """@zoom:min <= zoom <= @zoom:max, defaults 0/99 (cmd/tiler/tiler.go:
    230-248); ``zoom`` is a literal or a per-row zoom column."""
    zd = zoom.cast("double")
    zmin = F.coalesce(F.col("zoom_min").cast("double"), F.lit(0.0))
    zmax = F.coalesce(F.col("zoom_max").cast("double"), F.lit(99.0))
    return (zd >= zmin) & (zd <= zmax)


def renderable_at(features: DataFrame, zoom: int) -> DataFrame:
    """@zoom:min/@zoom:max gate (cmd/tiler/tiler.go:230-248)."""
    return features.filter(_zoom_gate(F.lit(float(zoom))))


def coverage_at(features: DataFrame, zoom: int) -> DataFrame:
    """Features replicated to every covering cell at ``zoom`` (J2/J4)."""
    return TX.explode_coverage(renderable_at(features, zoom), zoom)


def cell_stats(features: DataFrame, zooms: list[int]) -> DataFrame:
    """Per-cell feature counts per zoom — the skew pre-pass (drives hot-cell
    diagnostics and lineage; SURVEY.md §4 'Skew handling'). One leg for
    all zooms: the same routed coverage the tiler groups, so ``features``
    needs the :func:`build_tiles` schema (feature_id, wkb, props, the bbox
    columns, zoom_min/zoom_max). A zoom listed twice is counted once."""
    cov = _routed_coverage(features, zooms)
    return cov.groupBy("tile_z", "tile_x", "tile_y").count()


def global_bbox(features: DataFrame) -> tuple[float, float, float, float]:
    """Running global bbox over all features (BBox.ExtendWith aggregate,
    lib/spatial/bbox.go:9-12 via cmd/tiler/featurecache.go:82-88) — a single
    native min/max aggregation."""
    r = features.agg(
        F.min("minx").alias("minx"),
        F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"),
        F.max("maxy").alias("maxy"),
    ).first()
    return (r.minx, r.miny, r.maxx, r.maxy)


def _make_classifier(simplify: bool = False):
    """Scalar pandas UDF over coverage rows → ``_cc`` tinyint (see
    kernels/coverclass). Runs PRE-shuffle, where a feature's cells are
    contiguous, so each Arrow batch classifies whole features in single
    numpy passes across all their tiles. ``simplify`` must mirror the
    encoder's flag — it widens line margins to cover the RDP tolerance."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ByteType())
    def classify(
        zs: pd.Series, xs: pd.Series, ys: pd.Series, wkbs: pd.Series
    ) -> pd.Series:
        import numpy as np

        from ..kernels.coverclass import classify_rows

        if len(zs) == 0:
            return pd.Series(np.zeros(0, np.int8))
        return pd.Series(
            classify_rows(
                zs.to_numpy(np.int64),
                xs.to_numpy(np.int64),
                ys.to_numpy(np.int64),
                wkbs.to_numpy(object),
                simplify=simplify,
            )
        )

    return classify


def _routed_coverage(
    features: DataFrame,
    zooms: list[int],
    anchor_cells: dict[int, "tuple[int, DataFrame]"] | None = None,
) -> DataFrame | None:
    """All-zoom coverage with the routed layer — the shared first stage of
    :func:`build_tiles`, :func:`tile_digests` and :func:`cell_stats`
    (digest-vs-tile byte-identity depends on both seeing the exact same
    rows, so this exists once). Columns: tile_z/x/y, feature_id, layer_name, wkb, props,
    plus ``_nc`` — the feature's bbox cell count at that row's zoom (the
    exact pre-restriction explode fan-out, computed per (feature, zoom)
    while the bbox columns are still in scope; the classifier gate in
    :func:`build_tiles` keys off it). ``None`` when no zoom has work
    (anchor mode with an empty work list).

    Anchor mode (incremental): hierarchical coverage — explode to the
    coarse ANCHOR cells first (cheap: a handful per feature),
    hash-semi-join against the changed anchors, then explode only the
    fine cells INSIDE surviving anchors. Without this, a deep-zoom
    explode of the whole corpus runs just to be semi-joined away
    (measured at ~the full rebuild's cost on a 1% delta); with it the
    fine explode volume tracks the delta. Anchors are disjoint, so no
    duplicate (feature, cell) pairs.

    BOTH modes are a SINGLE LEG: explode a zoom-array column and compute
    tile ranges with zoom-as-a-column expressions instead of one union leg
    per zoom. pow(2.0, z) is IEEE-exact for integer z ≤ 29, so the dynamic
    ranges are bitwise-equal to the per-zoom-literal path (golden
    cross-checked); what changes is the PLAN — one whole-stage-codegen
    span instead of |zooms| legs, |zooms|× fewer driver round-trips and
    scheduler tasks, and a feature's coverage rows stay contiguous across
    ALL its zooms, so the classifier parses each WKB once per feature
    rather than once per (feature, zoom) leg. For the incremental path the
    leg fusion matters MORE: the 5-leg anchor plan cost ~2.8s of pure
    driver py4j plan construction + JVM analysis of a 5-branch union per
    run — fixed cost that dwarfed the delta-sized execution."""
    # a repeated zoom would emit each of its rows twice
    zs = list(dict.fromkeys(zooms))
    if anchor_cells is not None:
        zs = [z for z in zs if z in anchor_cells]
        if not zs:
            return None

    zlist = ",".join(str(z) for z in zs)
    f = features.withColumn("tile_z", F.explode(F.expr(f"array({zlist})")))
    f = f.filter(_zoom_gate(F.col("tile_z")))
    x1, y1, x2, y2 = TX.coverage_xy("minx", "miny", "maxx", "maxy", "tile_z")
    f = (
        f.withColumn("_fx1", x1)
        .withColumn("_fy1", y1)
        .withColumn("_fx2", x2)
        .withColumn("_fy2", y2)
    )
    # _nc = the feature's PRE-restriction fan-out at this zoom (anchor and
    # only_cells restriction must not change it — the classifier gate keys
    # off the feature's true span, not the surviving row count)
    nc = (
        (F.col("_fx2") - F.col("_fx1") + F.lit(1))
        * (F.col("_fy2") - F.col("_fy1") + F.lit(1))
    ).cast("long")
    f = f.withColumn("_nc", nc)

    if anchor_cells is not None:
        # anchor zoom per row (az = anchor_cells[z][0], a CASE over the
        # handful of active zooms) → two-level explode with COLUMN shifts.
        # Shift identities are exact integer math, so the surviving cells
        # are identical to the old per-zoom-leg join; the anchors of every
        # zoom ride ONE broadcast keyed by (tile_z, ax, ay).
        az_case = (
            "CASE tile_z "
            + " ".join(f"WHEN {z} THEN {anchor_cells[z][0]}" for z in zs)
            + " END"
        )
        f = f.withColumn("_sh", F.expr(f"CAST(tile_z - ({az_case}) AS INT)"))
        f = f.withColumn(
            "ax",
            F.explode(
                F.sequence(
                    F.expr("shiftright(_fx1, _sh)"), F.expr("shiftright(_fx2, _sh)")
                )
            ),
        ).withColumn(
            "ay",
            F.explode(
                F.sequence(
                    F.expr("shiftright(_fy1, _sh)"), F.expr("shiftright(_fy2, _sh)")
                )
            ),
        )
        anchors_all = None
        for z in zs:
            _, adf = anchor_cells[z]
            a = adf.select(
                F.lit(z).cast("int").alias("tile_z"), "ax", "ay"
            )
            anchors_all = a if anchors_all is None else anchors_all.unionByName(a)
        f = f.join(F.broadcast(anchors_all), ["tile_z", "ax", "ay"], "left_semi")
        # fine cells inside this anchor ∩ the feature's own coverage range
        # (lo ≤ hi always: ax/ay came from the feature's own anchor range,
        # so the anchor's extent intersects [_fx1, _fx2] × [_fy1, _fy2])
        lo_x = F.greatest(F.col("_fx1"), F.expr("shiftleft(ax, _sh)"))
        hi_x = F.least(F.col("_fx2"), F.expr("shiftleft(ax + 1L, _sh) - 1L"))
        lo_y = F.greatest(F.col("_fy1"), F.expr("shiftleft(ay, _sh)"))
        hi_y = F.least(F.col("_fy2"), F.expr("shiftleft(ay + 1L, _sh) - 1L"))
        f = f.withColumn("tile_x", F.explode(F.sequence(lo_x, hi_x))).withColumn(
            "tile_y", F.explode(F.sequence(lo_y, hi_y))
        )
    else:
        f = f.withColumn("tile_x", F.explode(F.sequence("_fx1", "_fx2"))).withColumn(
            "tile_y", F.explode(F.sequence("_fy1", "_fy2"))
        )
    return (
        f.withColumn("layer_name", TX.layer_route(F.col("props")))
        .select(
            "tile_z", "tile_x", "tile_y", "feature_id", "layer_name",
            "wkb", "props", "_nc",
        )
    )


def build_tiles(
    features: DataFrame,
    zooms: list[int],
    gzip: bool = False,
    simplify: bool = False,
    codec: str = "mvt",
    max_features_per_tile: int | None = None,
    only_cells: DataFrame | None = None,
    anchor_cells: dict[int, "tuple[int, DataFrame]"] | None = None,
    classify_min_cells: int = 8,
) -> DataFrame:
    """features → tiles at the given zoom levels; ``codec`` is ``"mvt"``
    (Mapbox Vector Tile) or ``"geojson"`` (debug FeatureCollection, S10).

    One DataFrame covering all zooms (single-leg coverage) so Spark
    schedules a single shuffle; each (z,x,y) group encodes independently.
    The group is gathered with collect_list (partial-aggregated map-side)
    and whole tiles are encoded in Arrow batches by a ``mapInArrow``
    encoder (one Python call per batch, no per-tile Python overhead). Tile
    encode must see the WHOLE group to be byte-stable (MVT dictionaries +
    merge are order-sensitive), so groups are never split; the encoder
    (``kernels/mvt_batch.encode_batch``) sorts each group's rows by (layer
    name, feature_id) for shuffle-order independence.
    """
    if codec not in ("mvt", "geojson"):
        raise ValueError(f"unknown tile codec {codec!r}: use 'mvt' or 'geojson'")
    grouped = _grouped_tiles(
        features, zooms, simplify, max_features_per_tile, only_cells,
        anchor_cells, classify_min_cells,
    )
    if grouped is None:
        return local_frame(features.sparkSession, [], TILES_SCHEMA)

    def encode_batches(it):
        for batch in it:
            yield encode_batch(batch, gzip, simplify, codec)

    return grouped.mapInArrow(encode_batches, TILES_SCHEMA)


def _grouped_tiles(
    features: DataFrame,
    zooms: list[int],
    simplify: bool = False,
    max_features_per_tile: int | None = None,
    only_cells: DataFrame | None = None,
    anchor_cells: dict[int, "tuple[int, DataFrame]"] | None = None,
    classify_min_cells: int = 8,
) -> DataFrame | None:
    """The frame :func:`build_tiles` feeds to its encoder: one row per
    (tile_z, tile_x, tile_y) with ``feats`` (list of feature_id,
    layer_name, wkb, props, _cc structs) and ``n_total``. ``None`` when no
    zoom has work."""
    # Pinning the FEATURE rows (far fewer than coverage rows) runs the
    # coverage explode and the classifier's Python at the shuffle width,
    # not the scan's, and keeps each feature's cells contiguous in one
    # partition (classify_rows batches runs of them).
    features = pin_width(features)
    all_cov = _routed_coverage(features, zooms, anchor_cells)
    if all_cov is None:
        return None

    if only_cells is not None:
        # exact restriction to the work cells. The list is delta-sized —
        # callers pass a LocalRelation (collected work list), so this is a
        # broadcast hash semi-join with no sub-plan to re-evaluate.
        all_cov = all_cov.join(
            F.broadcast(
                only_cells.select(
                    F.col("tile_z").cast("int").alias("tile_z"),
                    F.col("tile_x").cast("bigint").alias("tile_x"),
                    F.col("tile_y").cast("bigint").alias("tile_y"),
                )
            ),
            ["tile_z", "tile_x", "tile_y"],
            "left_semi",
        )

    # Pre-shuffle coverage classification (kernels/coverclass): decide
    # full-cover / outside / general for ALL of a feature's tiles in one
    # vectorized pass while the feature's cells are still contiguous —
    # the per-tile scalar fast-path scan this replaces was ~45% of encode
    # CPU at z13. A ``classify_min_cells`` above every span sends every row
    # down the exact path (the byte-identity differs in tests use that).
    cls = _make_classifier(simplify)
    # Span gate: a feature spanning few cells at its zoom has (almost) no
    # trivially-classifiable rows — every cell is boundary-adjacent — so
    # shipping its WKB to the Python classifier is pure Arrow transfer with
    # no encode work to skip (measured: the city-delta incremental path was
    # 97% code-0 and the classifier a net ~2s LOSS there, while the full
    # z13 rebuild's savings come from giant multi-hundred-cell polygons).
    # The when() below evaluates JVM-side in the ArrowEval input
    # projection, so gated-out rows cross Arrow as NULL, not as duplicated
    # WKB bytes; classify_rows leaves null runs at code 0 (the always-safe
    # exact path).
    gated_wkb = F.when(F.col("_nc") >= classify_min_cells, F.col("wkb"))
    all_cov = all_cov.withColumn(
        "_cc", cls(F.col("tile_z"), F.col("tile_x"), F.col("tile_y"), gated_wkb)
    )
    # Classified rows don't need their payload past this point: the
    # encoder reads wkb ONLY on the exact path (_cc == 0), and a
    # provably-empty row (_cc == 2) never reaches it (the collect_list
    # below drops it). Nulling them here —
    # before the tile shuffle — drops the duplicated WKB bytes of every
    # interior (full-cover) coverage row from the exchange AND from the
    # Arrow transfer into the encode UDF, which at deep zooms is most rows
    # of every large polygon.
    cc0 = F.coalesce(F.col("_cc"), F.lit(0))
    all_cov = (
        all_cov.withColumn("wkb", F.when(cc0 == 0, F.col("wkb")))
        .withColumn("props", F.when(cc0 != 2, F.col("props")))
        .drop("_nc")
    )

    # one exchange on the coverage rows, at full width: its hash keys
    # satisfy both the cap window's and the groupBy's distribution
    all_cov = pin_width(all_cov, "tile_z", "tile_x", "tile_y")

    if max_features_per_tile is not None:
        # hot-tile cap: a tile group must fit ONE task (MVT dictionaries are
        # order-sensitive, so groups cannot be split — SURVEY.md §7); without
        # a bound, a z2 world tile over a dense corpus OOMs its executor.
        # Deterministic truncation: keep the max_features_per_tile LOWEST
        # feature_ids per tile. A rank window, not a slice of collect_list:
        # the window's per-partition sort is disk-spillable, while a
        # collect_list of the hot group materializes in executor memory —
        # exactly the OOM being guarded. Costs one extra (coverage-row-sized)
        # exchange when AQE re-coalesces; memory safety wins.
        from pyspark.sql import Window

        # layer_name tie-break: the same feature_id can appear once per
        # routed layer, and a feature_id-only sort would make which copy
        # survives the cap run-dependent.
        w = Window.partitionBy("tile_z", "tile_x", "tile_y").orderBy(
            "feature_id", "layer_name"
        )
        all_cov = (
            all_cov.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_features_per_tile)
            .drop("_rn")
        )

    # collect_list skips NULLs: provably-empty rows (_cc == 2 — the exact
    # clip would return nothing) never reach the encoder at all (38% of z13
    # coverage rows), while count(*) still counts them — n_features is the
    # tile's FULL pre-filter coverage count (the tiles_meta oracle's
    # definition).
    return all_cov.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.collect_list(
            F.when(
                cc0 != 2,
                F.struct("feature_id", "layer_name", "wkb", "props", "_cc"),
            )
        ).alias("feats"),
        F.count(F.lit(1)).cast("int").alias("n_total"),
    )


def tile_digests(features: DataFrame, zooms: list[int]) -> DataFrame:
    """Per-(z,x,y) order-independent content digest over everything that
    can affect the tile's bytes (feature id, routed layer, geometry, props
    with canonicalized key order): bit_xor of per-feature 60-bit md5
    prefixes plus a feature count. XOR is commutative (shuffle-order- and
    partitioning-independent) and, unlike SUM, cannot overflow under ANSI
    mode no matter how many features land in a world-zoom cell; per-feature
    hashes within a cell are distinct (feature_id is unique), so an
    accidental xor+count collision on a CHANGED tile is ~2^-60 (and a false
    'changed' merely re-encodes a tile it didn't need to — never wrong
    bytes).

    Scale: one coverage explode + ONE shuffle per call, same cost shape as
    the tiler's own first stage; no driver participation."""
    all_cov = _routed_coverage(features, zooms)
    canon_props = F.to_json(F.map_from_entries(F.array_sort(F.map_entries("props"))))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("feature_id").cast("string"),
                    F.col("layer_name"),
                    F.hex(F.col("wkb")),
                    canon_props,
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        all_cov.withColumn("_h", h)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(
            F.expr("bit_xor(_h)").alias("digest"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )


def changed_tiles(
    old_features: DataFrame, new_features: DataFrame, zooms: list[int]
) -> DataFrame:
    """Cells whose tile bytes would differ between two feature-table
    versions: (tile_z, tile_x, tile_y, status) with status in
    ('added', 'changed', 'deleted'). Unchanged cells are absent — at
    10^12-doc scale a daily delta touches a sliver of the world, and this
    is the work list that lets the tiler skip the rest."""
    o = tile_digests(old_features, zooms).select(
        "tile_z", "tile_x", "tile_y",
        F.col("digest").alias("_od"), F.col("n_features").alias("_on"),
    )
    n = tile_digests(new_features, zooms).select(
        "tile_z", "tile_x", "tile_y",
        F.col("digest").alias("_nd"), F.col("n_features").alias("_nn"),
    )
    j = o.join(n, ["tile_z", "tile_x", "tile_y"], "full_outer")
    status = (
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("deleted"))
        .when(
            (F.col("_od") != F.col("_nd")) | (F.col("_on") != F.col("_nn")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("tile_z", "tile_x", "tile_y", "status")
    )


def incremental_tiles(
    old_tiles: DataFrame,
    old_features: DataFrame,
    new_features: DataFrame,
    zooms: list[int],
    **build_kw,
) -> DataFrame:
    """Update a tile table for a new feature-table version by re-encoding
    ONLY the changed cells: byte-identical to ``build_tiles(new_features,
    zooms)`` (asserted in tests), at the cost of the delta instead of the
    world. Deleted cells drop out; unchanged tiles pass through untouched
    (no decode, no shuffle of their bytes beyond the anti-join)."""
    # the changed-cell list is used twice (anti-join + encode restriction)
    # and is tiny (the delta); localCheckpoint computes the digests once
    ch = changed_tiles(old_features, new_features, zooms).localCheckpoint()
    keep = old_tiles.join(ch, ["tile_z", "tile_x", "tile_y"], "left_anti")
    todo = ch.filter(F.col("status") != "deleted").select(
        "tile_z", "tile_x", "tile_y"
    )
    fresh = build_tiles(new_features, zooms, only_cells=todo, **build_kw)
    return keep.select(*fresh.columns).unionByName(fresh)


def _cell_frame(spark, cells: set, ddl: str) -> DataFrame:
    """A set of int tuples (one per cell, in ``ddl`` column order) as a
    sorted ``LocalRelation``."""
    import numpy as np

    cols = np.array(sorted(cells), np.int64).reshape(-1, ddl.count(",") + 1).T
    return local_frame(spark, [tuple(cols)], ddl)


def incremental_tiles_delta(
    old_tiles: DataFrame,
    new_features: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    zooms: list[int],
    max_collect_cells: int = 500_000,
    **build_kw,
) -> DataFrame:
    """Incremental re-tile when the caller HAS the delta (the daily-update
    norm: a changelog of removed + added/updated feature rows — an update
    is a removed row plus an added row). Unlike :func:`incremental_tiles`,
    this never scans the old corpus: the work list is the per-zoom coverage
    of the delta rows alone, and the re-encode's deep-zoom coverage explode
    only sees features near SOME delta cell (anchor-cell prune below), so
    cost tracks the delta, not the world; byte-identical to a full rebuild
    (asserted in tests).

    Plan shape: the delta is small by definition, so its bbox/zoom columns
    are fetched in ONE narrow collect and the whole work list is computed
    DRIVER-side with the scalar tilemath kernel (zero extra Spark jobs —
    an earlier explode+distinct+collect of the same list cost as much as
    the restricted build itself). The work cells and the per-zoom anchor
    cells go to Spark as Arrow tables, so they plan as ``LocalRelation``s
    and start no Python worker (:func:`_cell_frame`); the list is
    bounded by ``max_collect_cells`` — the guard pattern of spatial_join's
    ``max_dim_features``; beyond it, the digest-based
    :func:`incremental_tiles` shuffle path is the right tool."""
    from ..kernels.tilemath import coverage as cell_coverage
    from ..kernels.tilemath import coverage_count

    delta = removed.select(*added.columns).unionByName(added)
    drows = delta.select(
        "minx", "miny", "maxx", "maxy", "zoom_min", "zoom_max"
    ).collect()
    if not drows:  # empty delta: nothing to do
        return old_tiles

    # per-zoom work cells, driver-side (same floor-cell semantics as the
    # Spark-side coverage exprs — parity is oracle-checked in `coverage`
    # and re-asserted here by the byte-identity tests)
    too_wide = ValueError(
        f"delta touches > {max_collect_cells} cells — at that width a "
        "full rebuild or the digest-based incremental_tiles() path is "
        "cheaper than an inlined work list; raise max_collect_cells to "
        "override"
    )
    work: set = set()
    for r in drows:
        zmin = 0.0 if r.zoom_min is None else float(r.zoom_min)
        zmax = 99.0 if r.zoom_max is None else float(r.zoom_max)
        for z in zooms:
            if not (zmin <= float(z) <= zmax):
                continue
            # O(1) pre-check so one world-spanning row can't materialize
            # millions of cells before the budget check fires
            if coverage_count(r.minx, r.miny, r.maxx, r.maxy, z) > max_collect_cells:
                raise too_wide
            for x, y, _ in cell_coverage(r.minx, r.miny, r.maxx, r.maxy, z):
                work.add((z, x, y))
            if len(work) > max_collect_cells:
                raise too_wide
    spark = old_tiles.sparkSession
    cells_local = _cell_frame(
        spark, work, "tile_z int, tile_x bigint, tile_y bigint"
    )

    # per-zoom ANCHOR cells (the work cells' ancestors at a coarse zoom)
    # drive the hierarchical explode in build_tiles: the deep-zoom coverage
    # explode only ever materializes cells inside changed anchors, so the
    # explode volume tracks the delta even when the delta is scattered
    # world-wide (where any single-bbox prune degenerates to a full scan).
    anchor_of: dict[int, set] = {}
    for z, x, y in work:
        az = min(z, 7)
        anchor_of.setdefault(z, set()).add((x >> (z - az), y >> (z - az)))
    anchors = {
        z: (min(z, 7), _cell_frame(spark, cells, "ax bigint, ay bigint"))
        for z, cells in anchor_of.items()
    }

    # geographic PREFILTER from the anchor rectangles: a feature whose bbox
    # misses every anchor box cannot cover any work cell at any zoom, so it
    # can be dropped BEFORE the per-zoom coverage branches. This predicate
    # pushes down to the parquet scan (row-group min/max skipping), turning
    # 5 full-corpus scans into 5 scans of the delta's neighborhood —
    # measured as the dominant cost of the restricted rebuild. Anchor boxes
    # are few (they live at zoom ≤ 7 and the delta is regional), and
    # duplicates across zooms collapse; with an unexpectedly wide spread
    # the OR-chain is skipped rather than built 1000 terms deep.
    from ..kernels.tilemath import tile_bbox

    boxes = {
        tile_bbox(ax, ay, az)
        for z, (az, adf) in anchors.items()
        for ax, ay in anchor_of[z]
    }
    if len(boxes) <= 64:
        eps = 1e-9  # boundary features: coverage clamps to the cell edge
        pred = None
        for bminx, bminy, bmaxx, bmaxy in sorted(boxes):
            term = (
                (F.col("minx") <= bmaxx + eps) & (F.col("maxx") >= bminx - eps)
                & (F.col("miny") <= bmaxy + eps) & (F.col("maxy") >= bminy - eps)
            )
            pred = term if pred is None else (pred | term)
        new_features = new_features.filter(pred)

    keep = old_tiles.join(
        F.broadcast(cells_local), ["tile_z", "tile_x", "tile_y"], "left_anti"
    )
    fresh = build_tiles(
        new_features, zooms, only_cells=cells_local, anchor_cells=anchors,
        **build_kw,
    )
    return keep.select(*fresh.columns).unionByName(fresh)


def tile_assignments(points: DataFrame, zooms: list[int], id_col: str = "url") -> DataFrame:
    """(id, z, x, y) tile assignment for point rows — the golden
    'tile z/x/y assignments' output of BASELINE.json. Pure native exprs,
    one leg for all zooms (TX.explode_point_cells)."""
    return TX.explode_point_cells(points, zooms).select(
        id_col, "tile_z", "tile_x", "tile_y"
    )


def write_tiles(
    tiles: DataFrame, dest: str, ext: str = "mvt", s3_endpoint: str | None = None
) -> int:
    """Tile sink dispatch on the destination scheme — ``s3://bucket/prefix``
    object store or a local directory (the reference's two sinks,
    cmd/tiler/tiler.go:269-294 and cmd/tiler/s3.go:28-56)."""
    if dest.startswith("s3://"):
        return write_tiles_s3(tiles, dest, ext=ext, endpoint=s3_endpoint)
    return write_tiles_directory(tiles, dest, ext=ext)


def write_tiles_directory(tiles: DataFrame, out_dir: str, ext: str = "mvt") -> int:
    """{out}/{z}/{x}/{y}.{ext} disk sink (cmd/tiler/tiler.go:269-294),
    executed distributed via foreachPartition."""
    import os

    def write_part(rows):
        for r in rows:
            d = os.path.join(out_dir, str(r.tile_z), str(r.tile_x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.tile_y}.{ext}"), "wb") as f:
                f.write(bytes(r.tile))

    tiles.foreachPartition(write_part)
    return 0


def write_tiles_s3(
    tiles: DataFrame, dest: str, ext: str = "mvt", endpoint: str | None = None
) -> int:
    """``s3://bucket/prefix`` object-store sink (cmd/tiler/s3.go:28-56 —
    the reference PUTs one object per tile via a minio client): one REST
    ``PUT /bucket/key`` per tile, issued EXECUTOR-side per partition over a
    pooled HTTP connection, key layout ``{prefix}/{z}/{x}/{y}.{ext}``.

    ``endpoint`` (or ``$GS_S3_ENDPOINT``) names the S3-compatible REST
    endpoint. Requests are unsigned, matching an anonymous-write bucket
    policy (e.g. minio in a private VPC); a production deployment signs the
    requests or writes through the s3a committer instead. The test suite
    drives this path against an in-process HTTP fake."""
    import os
    from urllib.parse import urlparse

    u = urlparse(dest)
    bucket, prefix = u.netloc, u.path.strip("/")
    if endpoint is None:
        endpoint = os.environ.get("GS_S3_ENDPOINT", "")
    if not endpoint:
        raise ValueError("S3 tile sink needs endpoint= or $GS_S3_ENDPOINT")

    def put_part(rows):
        import http.client
        from urllib.parse import urlparse as parse

        e = parse(endpoint)
        cls = (
            http.client.HTTPSConnection
            if e.scheme == "https"
            else http.client.HTTPConnection
        )
        conn = cls(e.netloc)
        try:
            for r in rows:
                key = "/".join(
                    x
                    for x in (prefix, str(r.tile_z), str(r.tile_x), f"{r.tile_y}.{ext}")
                    if x
                )
                body = bytes(r.tile)
                conn.request(
                    "PUT",
                    f"/{bucket}/{key}",
                    body=body,
                    headers={
                        "Content-Type": "application/vnd.mapbox-vector-tile",
                        "Content-Length": str(len(body)),
                    },
                )
                resp = conn.getresponse()
                resp.read()
                if resp.status >= 300:
                    raise IOError(f"PUT {bucket}/{key}: HTTP {resp.status}")
        finally:
            conn.close()

    tiles.foreachPartition(put_part)
    return 0


def decode_tiles(tiles: DataFrame) -> DataFrame:
    """Read MVT tiles back into per-feature rows — the sink's inverse
    (kernels/mvt.py decode_tile), for inspection, stats, and
    tile-as-input pipelines. One mapInPandas pass, no shuffle; geometry
    detail (ring/point counts) summarized, props stringified.

    Columns: tile_z, tile_x, tile_y, layer_name, geom_type, n_parts,
    n_points, props (map<string,string>)."""
    import pandas as pd

    import numpy as np

    from ..kernels.mvt import decode_tile

    def gen(batches):
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(
                pdf["tile_z"], pdf["tile_x"], pdf["tile_y"], pdf["tile"]
            ):
                if blob is None:
                    continue
                for lname, layer in decode_tile(bytes(blob)).items():
                    for ft in layer["features"]:
                        c = ft["coords"]
                        if ft["geom_type"] == 1:
                            parts = c if isinstance(c, list) else [c]
                            npts = len(parts)
                        elif isinstance(c, list) and not isinstance(c, np.ndarray):
                            parts = c
                            npts = int(sum(len(p) for p in parts))
                        else:
                            parts = [c]
                            npts = int(len(c))
                        rows.append(
                            (
                                int(z), int(x), int(y), lname,
                                int(ft["geom_type"]), len(parts), npts,
                                {k: str(v) for k, v in ft["props"].items()},
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "tile_z", "tile_x", "tile_y", "layer_name",
                    "geom_type", "n_parts", "n_points", "props",
                ],
            )

    return tiles.mapInPandas(
        gen,
        "tile_z int, tile_x bigint, tile_y bigint, layer_name string, "
        "geom_type int, n_parts int, n_points int, props map<string,string>",
    )
