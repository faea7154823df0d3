"""kNN via cell-histogram distance-bound pruning (BASELINE.json extension;
grounded on the reference's grid arithmetic J1 + haversine J7 — SURVEY.md
§2.4 note).

Shape: points are BIG (distributed, cell-indexed once and cached); queries
are SMALL (a query set, broadcastable). Exact result (equals brute force).

Algorithm — two distributed jobs total, no iteration:

1. **cell histogram** (one tiny agg): per-cell point counts at the join
   zoom, collected to the driver (≤ 4^zoom rows; zoom ≤ 10 enforced).
2. **driver-side candidate planning** (vectorized numpy over the nonempty
   cells): for each query q and every nonempty cell c, compute
     - ub(c): upper bound on the haversine distance from q to anything in c
       (decomposed bound: the lat term and lon term of the haversine are
       maximized independently — valid since hav(d) is monotone in each);
     - lb(c): lower bound on the distance from q to anything in c (same
       decomposition, both terms minimized; the lon term uses the minimal
       cos(lat) of the cell so it never over-estimates).
   Sort cells by ub, accumulate counts until ≥ k → D = that cell's ub is a
   provable upper bound on q's k-th neighbor distance. Candidate cells are
   exactly those with lb(c) ≤ D: every point outside them is farther than D
   ≥ kth-dist, so they provably contain the true k nearest.
3. **one probe join**: the union of every query's candidate cells (probe
   rows ≪ points, broadcast) equi-joined on (cell_x, cell_y) against the
   indexed points; per-query top-k by (haversine, id) window. One shuffle,
   and its input is within a small factor of the k·|queries| optimum.

Why not ring-by-ring expansion (the classic formulation): each round is a
full scan + shuffle + driver collect, sparse-region (ocean-cell) queries
iterate to max radius and then fall back to a brute-force cross join, and a
rectangular disk wide enough to be *provably* safe can cover a large part
of the grid — measured 4x slower than this plan on the benchmark workload.
The histogram turns the expansion into driver arithmetic, so the cluster
runs only the one join that is needed, over only the cells that matter.
At 100 TB the histogram is a few-KB aggregate and the probe side stays
broadcastable.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import tile_exprs as TX
from ..kernels.geometry import EARTH_RADIUS_M
from ..kernels.tilemath import tile_edges
from ..session import local_frame

MAX_HISTOGRAM_ZOOM = 10
# adaptive refinement: each pass goes Δz=4 finer (16×16 subcells per
# candidate cell), restricted to the previous pass's candidates — so each
# restricted histogram collect is bounded by 4^REFINE_DZ · |candidates|
REFINE_DZ = 4
# finest refinement zoom (z14 ≈ 2.4 km cells) — also the zoom the point
# index is cached at; every coarser histogram/probe key is a shiftright
REFINE_MAX_ZOOM = 14
# skip a refinement pass whose worst-case restricted histogram would
# out-collect its own benefit
REFINE_COLLECT_CAP = 250_000


def _cell_geo(cx_arr: np.ndarray, cy_arr: np.ndarray, n: int):
    """Cell edge geography for a cell list at grid width ``n``
    (``tilemath.tile_edges``) → (west, east, lat_n, lat_s, cos_min,
    cos_max) arrays for the decomposed haversine bounds."""
    west, east, lat_n, lat_s = tile_edges(cx_arr, cy_arr, n)
    # |cos(lat)| extremes over each cell's lat range (monotone per hemisphere;
    # a cell never spans the equator unless its lat range contains 0)
    cos_n, cos_s = np.cos(np.radians(lat_n)), np.cos(np.radians(lat_s))
    spans_eq = (lat_s <= 0.0) & (lat_n >= 0.0)
    cos_max = np.where(spans_eq, 1.0, np.maximum(cos_n, cos_s))
    cos_min = np.minimum(cos_n, cos_s)
    return west, east, lat_n, lat_s, cos_min, cos_max


def _hist_arrays(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collected ``(cx, cy, count)`` histogram rows → (cx, cy, count) int64
    arrays."""
    return tuple(np.array([tuple(r) for r in rows], np.int64).reshape(-1, 3).T)


def _plan_probe(qrows, k, total, cx_arr, cy_arr, cnt_arr, n):
    """Candidate cells per query over one histogram → (probe blocks, one
    ``(q_id, lon, lat, cx array, cy array, bound)`` per query in
    ``session.local_frame`` form, and the estimated joined-row volume = Σ
    per-query candidate point counts)."""
    geo = _cell_geo(cx_arr, cy_arr, n)
    probe_rows: list[tuple] = []
    est = 0
    for r in qrows:
        lon, lat = float(r.lon), float(r.lat)
        kk = min(k, total)
        if kk == 0:
            continue
        cand_ix, dist_ub = _candidate_cells(
            lon, lat, kk, cx_arr, cy_arr, cnt_arr, *geo
        )
        est += int(cnt_arr[cand_ix].sum())
        probe_rows.append(
            (r._qid, lon, lat, cx_arr[cand_ix], cy_arr[cand_ix], dist_ub)
        )
    return probe_rows, est


def knn(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    zoom: int = 6,
    point_id: str = "url",
    query_id: str = "q_id",
    refine_threshold: int | None = None,
    fine_first: bool = True,
) -> DataFrame:
    """For each query (q_id, lon, lat): the k nearest points by haversine.
    Returns (q_id, point_id, rank). Exact (equals brute force).

    ``zoom`` is purely a PERFORMANCE knob (the result is exact at any zoom),
    and a coarse zoom over a clustered corpus makes candidate cells huge —
    the bench corpus has 49 nonempty z6 cells for 5.1M points, so the probe
    join materialized 30.7M rows only for the D-ball filter to drop ~97% of
    them. When the planner's own volume estimate (Σ per-query candidate
    point counts, free from the histogram) exceeds ``refine_threshold``
    (default ``64·k·|queries|``), the planner REFINES: another histogram
    Δz=REFINE_DZ finer, RESTRICTED to the current candidate cells (so its
    collect is bounded by 4^Δz · |candidates|, delta-sized), re-plans every
    query, and repeats while the estimate stays high — up to
    REFINE_MAX_ZOOM (z14 ≈ 2.4 km cells).

    Exactness of the restricted re-plan: a subcell's decomposed upper bound
    never exceeds its parent's (its Δφ/Δλ/cos extremes are taken over a
    sub-interval), so the fine k-th-distance bound D_f ≤ the coarse D_c;
    any point within D_f is then within D_c, i.e. inside the candidate set
    the fine histogram was restricted to — no true neighbor can hide
    outside the restriction, and the argument chains across passes. The
    union of ALL queries' candidates only adds cells to each query's fine
    plan, which can only tighten D_f.
    """
    if zoom > MAX_HISTOGRAM_ZOOM:
        raise ValueError(
            f"knn join zoom {zoom} > {MAX_HISTOGRAM_ZOOM}: the cell histogram "
            "must stay driver-collectable; use a coarser join zoom"
        )
    spark = points.sparkSession
    n = 1 << zoom
    zf = max(zoom, REFINE_MAX_ZOOM)
    dz = zf - zoom

    # index at the FINE zoom once; the coarse cell is a shiftright away
    # (slippy cells nest exactly), so every histogram pass and either
    # probe-join key derive from the same two columns. NOT cached here:
    # the fast path below runs exactly two jobs over it, and a 5M-row
    # cache write costs more than recomputing two native tile exprs per
    # pass (callers keep their own cache of the expensive upstream plan);
    # the multi-pass fallback adds a cache before it starts iterating.
    pts = (
        points.withColumn("p_cx", TX.tile_x("lon", zf))
        .withColumn("p_cy", TX.tile_y("lat", zf))
        .select(
            F.col(point_id).alias("_pid"),
            F.col("lon").alias("p_lon"),
            F.col("lat").alias("p_lat"),
            "p_cx",
            "p_cy",
        )
    )
    pts_cached = False

    qrows = queries.select(
        F.col(query_id).alias("_qid"), F.col("lon"), F.col("lat")
    ).collect()

    # job 1: try the FINEST histogram first, with a limit guard — a
    # clustered corpus (the web-page norm: points pile into cities) has few
    # nonempty z14 cells, so one collect buys the tightest bounds and skips
    # every refinement scan. limit(cap+1) bounds the driver transfer: if it
    # comes back complete (≤ cap rows, i.e. the limit didn't truncate), it
    # IS the whole histogram; a wider-than-cap corpus falls back to the
    # coarse histogram + iterative restricted refinement below.
    # ``fine_first=False`` forces the fallback (tests exercise both paths).
    fine_hist = (
        (
            pts.groupBy("p_cx", "p_cy")
            .count()
            .limit(REFINE_COLLECT_CAP + 1)
            .collect()
        )
        if fine_first
        else None
    )
    if fine_hist is not None and len(fine_hist) <= REFINE_COLLECT_CAP:
        cx_arr, cy_arr, cnt_arr = _hist_arrays(fine_hist)
        total = int(cnt_arr.sum())
        probe_rows, est = _plan_probe(
            qrows, k, total, cx_arr, cy_arr, cnt_arr, 1 << zf
        )
        probe_z = zf
    else:
        # corpus too spread for a zf histogram: coarse pass at the caller's
        # zoom (≤ MAX_HISTOGRAM_ZOOM keeps this collectable). This path
        # runs ≥2 more jobs over the index (coarse histogram, possible
        # refinement passes, probe) — cache it now.
        pts = pts.cache()
        pts_cached = True
        cx_arr, cy_arr, cnt_arr = _hist_arrays(
            pts.groupBy(F.shiftright("p_cx", dz), F.shiftright("p_cy", dz))
            .count()
            .collect()
        )
        total = int(cnt_arr.sum())
        probe_rows, est = _plan_probe(
            qrows, k, total, cx_arr, cy_arr, cnt_arr, n
        )
        probe_z = zoom

    if refine_threshold is None:
        refine_threshold = 64 * k * max(1, len(qrows))
    while probe_z < zf and probe_rows and est > refine_threshold:
        # refinement pass: histogram Δz finer, RESTRICTED to the current
        # candidate cells, then re-plan — candidate sets shrink with D, so
        # each pass's collect stays delta-sized
        nz = min(probe_z + REFINE_DZ, zf)
        parents = np.unique(
            np.concatenate([(r[3] << 32) | r[4] for r in probe_rows])
        ).tolist()
        if len(parents) << (2 * (nz - probe_z)) > REFINE_COLLECT_CAP:
            break  # worst-case restricted histogram too wide to pay for
        sh_parent = zf - probe_z
        sh_new = zf - nz
        # + not |: PySpark's Column | is boolean OR; the low 32 bits are
        # clear after the shiftleft, so addition composes the same key
        packed = F.shiftleft(
            F.shiftright("p_cx", sh_parent), 32
        ) + F.shiftright("p_cy", sh_parent)
        cx_arr, cy_arr, cnt_arr = _hist_arrays(
            pts.filter(packed.isin(parents))
            .groupBy(F.shiftright("p_cx", sh_new), F.shiftright("p_cy", sh_new))
            .count()
            .collect()
        )
        # total stays the CORPUS total: kk = min(k, total) must not shrink
        # to the restricted subset's size
        probe_rows, est = _plan_probe(
            qrows, k, total, cx_arr, cy_arr, cnt_arr, 1 << nz
        )
        probe_z = nz

    # the probe carries the query id in its NATIVE type — hardcoding 'long'
    # here crashed any string/decimal query-id column. The probe is one
    # Arrow table (a LocalRelation), so no second Python worker pool
    # unpickles it.
    qid_type = queries.schema[query_id].dataType.simpleString()
    probe = local_frame(
        spark, probe_rows,
        f"_qid {qid_type}, q_lon double, q_lat double, p_cx long, p_cy long, q_d double",
    )

    # join key at the probe's zoom: the cached index is at zf, a coarse
    # probe (no refinement) keys on the shiftright-derived parent cells
    join_pts = pts
    if probe_z < zf:
        d = zf - probe_z
        join_pts = pts.withColumn("p_cx", F.shiftright("p_cx", d)).withColumn(
            "p_cy", F.shiftright("p_cy", d)
        )

    # job 2: the one probe join + per-query top-k. The planner's D is a
    # PROVEN upper bound on the k-th neighbor distance (≥ k points lie
    # within it), so candidates beyond D can be dropped before the top-k
    # window — candidate cells cover the D-ball loosely, and this trims the
    # window's sort input to the ball itself.
    cand = (
        F.broadcast(probe)
        .join(join_pts, ["p_cx", "p_cy"])
        .select(
            "_qid",
            "_pid",
            "q_d",
            TX.haversine_m(
                F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")
            ).alias("dist_m"),
        )
        # relative slack: q_d comes from numpy (arcsin form), dist_m from
        # Catalyst (atan2 form) — mathematically equal but up to a few ulps
        # apart, and a true k-th neighbor can sit exactly ON the bound (it
        # defines it); without slack it could be dropped by cross-engine
        # rounding. 1e-9 relative ≈ 6 mm at Earth scale: keeps the prune.
        .filter(F.col("dist_m") <= F.col("q_d") * (1.0 + 1e-9))
        .drop("q_d")
    )
    w = Window.partitionBy("_qid").orderBy(F.col("dist_m").asc(), F.col("_pid").asc())
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("_qid", "_pid", "rank")
    )

    pid_type = dict(points.dtypes)[point_id]
    out = topk.select(
        F.col("_qid").cast(qid_type).alias(query_id),
        F.col("_pid").cast(pid_type).alias(point_id),
        "rank",
    )
    # top-k is tiny (|queries|·k rows): materialize it so a cached point
    # index can be released before returning
    out = out.localCheckpoint(eager=True)
    if pts_cached:
        pts.unpersist()
    return out


def _candidate_cells(
    lon: float,
    lat: float,
    k: int,
    cx: np.ndarray,
    cy: np.ndarray,
    cnt: np.ndarray,
    west: np.ndarray,
    east: np.ndarray,
    lat_n: np.ndarray,
    lat_s: np.ndarray,
    cos_min: np.ndarray,
    cos_max: np.ndarray,
) -> tuple[np.ndarray, float]:
    """Indices of cells provably containing the k nearest points of
    (lon, lat) plus the proven k-th-distance upper bound D (metres),
    via decomposed-haversine lower/upper bounds per cell.

    hav(d) = sin²(Δφ/2) + cosφ_q · cosφ_p · sin²(Δλ/2). Each bound fixes
    the two terms at their extreme over the cell independently — an over-
    (resp. under-) estimate of the true max (resp. min), hence safe."""
    # Δλ to the cell's lon interval: 0 inside, else wrapped distance to the
    # nearer edge; max is the wrapped distance to the farther edge (≤ 180°)
    d_w = np.abs(lon - west) % 360.0
    d_w = np.minimum(d_w, 360.0 - d_w)
    d_e = np.abs(lon - east) % 360.0
    d_e = np.minimum(d_e, 360.0 - d_e)
    inside_lon = _lon_inside(lon, west, east)
    dlam_min = np.where(inside_lon, 0.0, np.minimum(d_w, d_e))
    # farther edge, capped at 180; when inside, the max is to the farther edge
    dlam_max = np.minimum(np.maximum(d_w, d_e) + 0.0, 180.0)
    # antipodal correction: when the query's antipodal meridian lies inside a
    # cell's lon range, the true max Δλ is 180° but both edge distances are
    # smaller — without this, ub under-estimates and a near-antipodal point
    # cluster can make D too small, excluding cells that hold true neighbors
    anti = (lon + 360.0) % 360.0 - 180.0
    dlam_max = np.where(_lon_inside(anti, west, east), 180.0, dlam_max)

    dphi_min = np.where(
        (lat >= lat_s) & (lat <= lat_n),
        0.0,
        np.minimum(np.abs(lat - lat_s), np.abs(lat - lat_n)),
    )
    dphi_max = np.maximum(np.abs(lat - lat_s), np.abs(lat - lat_n))

    cosq = math.cos(math.radians(lat))
    t1_min = np.sin(np.radians(dphi_min) / 2.0) ** 2
    t1_max = np.sin(np.radians(dphi_max) / 2.0) ** 2
    t2_min = cosq * cos_min * np.sin(np.radians(dlam_min) / 2.0) ** 2
    t2_max = cosq * cos_max * np.sin(np.radians(dlam_max) / 2.0) ** 2
    lb = 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(t1_min + t2_min, 0.0, 1.0)))
    ub = 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(t1_max + t2_max, 0.0, 1.0)))

    order = np.argsort(ub, kind="stable")
    csum = cnt[order].cumsum()
    kth_pos = int(np.searchsorted(csum, k))
    D = float(ub[order[kth_pos]])
    return np.flatnonzero(lb <= D), D


def _lon_inside(lon: float, west: np.ndarray, east: np.ndarray) -> np.ndarray:
    """lon ∈ [west, east] — cell lon intervals never wrap (west < east by
    construction of the slippy grid)."""
    return (lon >= west) & (lon <= east)
