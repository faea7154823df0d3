"""Vectorized pre-classification of (feature, tile) coverage rows.

At deep zooms the dominant cost of tile encode is NOT cutting geometry —
it is clip_polygon's per-tile fast-path CLASSIFICATION (border-intersects
scan + notch-guard point-in-ring), run once per (feature, tile) pair in
scalar Python (measured ~45% of encode CPU at the z13 bench shape, where a
1-degree polygon covers ~500 tiles and most of them are fully inside or
fully outside the ring). This module makes the same decision for ALL of a
feature's tiles in one numpy pass, so the encoder can skip the exact
kernels for the easy majority.

Codes (column ``_cc`` on coverage rows):

- ``0`` general: the encoder runs the exact project+clip path, unchanged.
- ``1`` full cover: the exact path would provably return the full-tile
  rectangle — the encoder emits it directly (byte-identical output).
- ``2`` outside: the exact path would provably return nothing for this
  (feature, tile) — the encoder skips the feature.

Conservative by construction — 1/2 are assigned only when a margin
analysis proves the pixel-space fast path (kernels/clip.py:clip_polygon,
replicating lib/spatial/polygon.go:26-40 plus the r3 notch-guard fix)
decides the same:

- The test runs in raw lon/lat, the exact path in projected tile pixels.
  Web-mercator is monotone in each axis, so bbox containment/overlap
  relations transfer; point-in-ring containment is topological and
  transfers exactly for points not near an edge.
- Margins: 2 tile-pixels (in the tile's local degrees-per-pixel), which
  dominates the exact path's 8-dp rounding AND the 1-pixel y-truncation
  of tilePoint's flipFloat (lib/mvt/project.go:13-19). Anything within
  the margin of an edge case falls back to 0 (exact path decides).
- ``1``/``2`` require that NO segment comes near the margin-expanded
  tile: its bbox must miss the tile (exact in both spaces — a segment
  stays inside its endpoints' bbox under any per-axis monotone map), OR
  its supporting line must separate the tile with a margin that covers
  the segment's MERCATOR SAG. The projected edge is the graph of a
  curve that deviates from the lon/lat chord only in y (pixel x is
  affine in lon), by at most ``sag = Δφ²/8 · sec(φm)·tan(φm)`` (the
  standard linear-interpolation error bound on mercator y over the
  segment's latitude span). Line-separation by
  ``|nx|·εx + |ny|·(εy + sag)`` therefore keeps the projected curve
  strictly off the tile too. With no edge curve near the tile there is
  no border intersection and no ring vertex inside it, and one interior
  point's even-odd parity (which transfers across the projection — the
  crossing structure of a horizontal ray is preserved when no edge
  enters the tile's strip band) decides full-cover vs outside for the
  whole tile — the same argument the notch guard makes, batched across
  tiles.
"""

from __future__ import annotations

import numpy as np

from .tilemath import tile_edges

# (S*T) cells per vectorized block — bounds the transient boolean matrix
# for huge rings covered by very many tiles (block rows, never give up)
_BLOCK = 4_000_000


def _clear_cells(a, b, zs, xs, ys, rdp: bool = False):
    """The margin test both classifiers share. ``a``/``b``: (S,2) segment
    starts/ends in raw lon/lat; ``zs/xs/ys``: (T,) cell coords. Walks the
    cells per zoom in blocks of at most _BLOCK (segment, cell) pairs and
    yields, per block with any, ``(cells, cx, cy)``: the indices of the
    cells NO segment comes near, and their centers. A segment stays clear
    of a cell when its bbox misses the 2-pixel margin-expanded tile, or
    when its supporting line separates the tile by more than that margin
    plus the segment's mercator sag (module docstring). ``rdp`` widens the
    margin by the RDP tolerance (1 lon-pixel in degrees, the per-zoom
    resolution() the encoder passes to simplify_rdp) and takes the sag
    over the WHOLE line's latitude span — RDP merges segments, so a
    simplified chord can sag more than any original segment."""
    sxlo = np.minimum(a[:, 0], b[:, 0])
    sxhi = np.maximum(a[:, 0], b[:, 0])
    sylo = np.minimum(a[:, 1], b[:, 1])
    syhi = np.maximum(a[:, 1], b[:, 1])
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    # supporting-line coefficients nx*X + ny*Y + c per segment
    nx = ay - by
    ny = bx - ax
    cl = -(nx * ax + ny * ay)
    # mercator sag bound (degrees): max deviation of the projected edge
    # curve from the lon/lat chord, in y only
    dphi = np.radians(syhi.max() - sylo.min() if rdp else syhi - sylo)
    phim = np.radians(np.minimum(np.maximum(np.abs(sylo), np.abs(syhi)), 89.9))
    sag = np.degrees(dphi * dphi / 8.0 / np.cos(phim) * np.tan(phim))

    zs = np.asarray(zs, np.int64)
    step = max(1, _BLOCK // max(1, len(a)))
    for z in np.unique(zs):
        zm = np.flatnonzero(zs == z)
        n = float(2.0**z)
        res = 360.0 / (n * 4096.0)  # 1 lon-pixel == the RDP eps
        extra = res if rdp else 0.0
        for s in range(0, len(zm), step):
            idx = zm[s : s + step]
            w, e, nn, ss = tile_edges(xs[idx], ys[idx], n)
            eps_x = 2.0 * res + extra
            eps_y = 2.0 * (nn - ss) / 4096.0 + extra
            bbox_ov = (
                (sxlo[:, None] <= e[None, :] + eps_x)
                & (sxhi[:, None] >= w[None, :] - eps_x)
                & (sylo[:, None] <= nn[None, :] + eps_y)
                & (syhi[:, None] >= ss[None, :] - eps_y)
            )
            # line-separation with sag-inflated margin: the segment's
            # supporting line keeps the whole expanded tile on one side by
            # more than the projected curve can deviate → the edge provably
            # misses the tile even in pixel space
            nxw = nx[:, None] * w[None, :]
            nxe = nx[:, None] * e[None, :]
            nys = ny[:, None] * ss[None, :]
            nyn = ny[:, None] * nn[None, :]
            smax = np.maximum(nxw, nxe) + np.maximum(nys, nyn) + cl[:, None]
            smin = np.minimum(nxw, nxe) + np.minimum(nys, nyn) + cl[:, None]
            marg = np.abs(nx)[:, None] * eps_x + np.abs(ny[:, None]) * (
                eps_y[None, :] + sag[:, None]
            )
            line_sep = (smin > marg) | (smax < -marg)
            clear = ~(bbox_ov & ~line_sep).any(axis=0)
            if clear.any():
                yield (
                    idx[clear],
                    (w[clear] + e[clear]) / 2.0,
                    (ss[clear] + nn[clear]) / 2.0,
                )


def classify_poly_cells(
    rings, zs: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Classify one polygon (1..R rings) against T cover cells.

    ``rings``: (S,2) raw lon/lat vertex arrays (open or closed); ``zs/xs/ys``:
    (T,) integer cell coords. Returns (T,) int8 of ``_cc`` codes.

    Single-ring polygons get the full 0/1/2 treatment. Multi-ring
    (holed) polygons get 0/2 only, and code 2 additionally requires that
    EVERY ring's center-parity is "outside" individually:

    - code 1 is single-ring-only because holed polygons have no fast
      path in clip_polygon — the general cut path emits the full-tile
      rectangle with a data-dependent starting vertex, so the canonical
      rect literal the encoder substitutes would not be byte-identical.
    - per-ring-outside (not just even total parity) keeps the code-2
      proof structural: each ring is then disjoint from the tile, so
      the four half-plane cuts drop every ring and clip_polygon returns
      [] with no reliance on shell/hole cancellation inside
      _assemble_polygons_f for rings that cover the tile an even number
      of times. (Tiles inside a hole DO clip to [] today, but that goes
      through assembly-level cancellation — left code 0.)

    Tiles need NOT lie inside the ring's bbox: the decision only needs
    "no edge near the margin-expanded tile" (then the boundary misses
    the tile entirely, the tile's side is uniform, and one interior
    point's parity decides). Coverage enumerates the feature's bbox, so
    at deep zooms a concave/diagonal feature has MANY covered tiles that
    straddle or hug the bbox edge and provably clip to nothing — an
    earlier inside-bbox restriction left ~45% of general-path polygon
    clips returning [] at the z13 bench shape. For code 1 the exact
    path's rect short-circuit condition (tile bbox within ring bbox,
    inclusive, in pixels) still provably holds: parity-inside + no-touch
    means the whole tile sits inside the ring, hence inside the ring's
    vertex bbox, and per-axis monotone projection preserves those
    inclusive coordinate comparisons exactly.
    """
    out = np.zeros(len(zs), np.int8)
    segs = []  # per-ring closed vertex arrays
    for ring in rings:
        p = np.asarray(ring, np.float64)
        if len(p) < 3:
            # degenerate ring: no claims for the whole polygon
            return out
        if p[0, 0] != p[-1, 0] or p[0, 1] != p[-1, 1]:
            p = np.vstack([p, p[:1]])
        segs.append(p)
    a = np.concatenate([p[:-1] for p in segs])
    b = np.concatenate([p[1:] for p in segs])
    # ring id per segment → per-ring parity via bincount over ring ids
    rid = np.concatenate(
        [np.full(len(p) - 1, i, np.int64) for i, p in enumerate(segs)]
    )
    n_rings = len(segs)
    ax, ay, bx, by = a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    for cells, cxs, cys in _clear_cells(a, b, zs, xs, ys):
        # even-odd parity, half-open edge rule (same formula as
        # clip._pt_in_ring_f), batched over tile centers
        cross = (ay[:, None] > cys[None, :]) != (by[:, None] > cys[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax[:, None] + (cys[None, :] - ay[:, None]) / (
                by[:, None] - ay[:, None]
            ) * (bx[:, None] - ax[:, None])
        hits = cross & (cxs[None, :] < xi)
        if n_rings == 1:
            par = (hits.sum(axis=0) % 2).astype(bool)
            out[cells] = np.where(par, np.int8(1), np.int8(2))
        else:
            # per-ring crossing counts: (n_rings, n_clear) via bincount
            # over flat (ring, tile) indices of the hit matrix
            flat = rid[:, None] * len(cxs) + np.arange(len(cxs))[None, :]
            cnt = np.bincount(
                flat[hits], minlength=n_rings * len(cxs)
            ).reshape(n_rings, len(cxs))
            all_outside = ((cnt % 2) == 0).all(axis=0)
            out[cells] = np.where(all_outside, np.int8(2), np.int8(0))
    return out


def classify_line_cells(
    line,
    zs: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
    simplify: bool = False,
) -> np.ndarray:
    """Classify one polyline against T cover cells: ``2`` where EVERY
    segment provably misses the margin-expanded tile (clip_line returns
    nothing there — a line's bbox coverage is quadratic in its diagonal
    span while the line itself only touches a linear number of cells, so
    at deep zooms most of its coverage rows are provably empty), else
    ``0``. With ``simplify`` the margin also covers the RDP tolerance
    (``_clear_cells``' ``rdp``)."""
    out = np.zeros(len(zs), np.int8)
    p = np.asarray(line, np.float64)
    if len(p) < 2:
        return out
    for cells, _, _ in _clear_cells(p[:-1], p[1:], zs, xs, ys, rdp=simplify):
        out[cells] = 2
    return out


def classify_rows(zs, xs, ys, wkbs, simplify: bool = False) -> np.ndarray:
    """Classify a batch of coverage rows (the pandas-UDF body).

    Rows arrive pre-shuffle, so a feature's cells form contiguous runs —
    each run parses its WKB once and classifies all its tiles in one
    vectorized call. Single-ring polygons get the full 0/1/2 treatment;
    holed polygons get 0/2 (see classify_poly_cells); lines get 0/2
    (``simplify`` widens their margins to cover the RDP tolerance);
    points stay 0 (the exact path
    decides). A null wkb means the caller's span gate decided the row
    cannot pay for classification (build_tiles' ``classify_min_cells``)
    — null runs stay code 0 without touching the bytes."""
    from .wkb import from_wkb

    n = len(wkbs)
    out = np.zeros(n, np.int8)
    i = 0
    while i < n:
        j = i + 1
        wi = wkbs[i]
        if wi is None:
            while j < n and wkbs[j] is None:
                j += 1
            i = j
            continue
        while j < n and wkbs[j] == wi:
            j += 1
        gt, coords = from_wkb(bytes(wi))
        if gt == 3 and len(coords) >= 1:
            out[i:j] = classify_poly_cells(coords, zs[i:j], xs[i:j], ys[i:j])
        elif gt == 2:
            out[i:j] = classify_line_cells(
                coords, zs[i:j], xs[i:j], ys[i:j], simplify
            )
        i = j
    return out
