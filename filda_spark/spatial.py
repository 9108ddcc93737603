"""Spatial layer: point-in-polygon against broadcast polygon sets, detection
cell encoding (qcell r7/r8/r9 + token + reference tile ids), kNN-style
cross-granule dedup, and 3x3 adjacency counts.

All functions are numpy (shared by oracle and Spark kernels). The Spark side
broadcasts the polygon set and runs these inside Arrow-batched UDFs; the
north rule's "broadcast polygon R-tree" is an STR bulk-loaded static R-tree
(`build_strtree` / `assign_polygons_strtree`): leaf cap 16, packed bottom-up
by Sort-Tile-Recursive order, queried by vectorized BATCH descent — the
whole Arrow batch of points walks the tree together, pruning subtrees whose
boxes contain none of the still-unassigned points, so a granule's
detections touch O(log P + local polygons) exact ray-casting tests instead
of all P. Result is bit-identical to the brute-force scan
(`assign_polygons_np`, kept as the oracle/property-test reference): both
resolve overlaps to the FIRST polygon in input order.
"""

from __future__ import annotations

import numpy as np

from filda_spark.grids import (
    _LVL_SHIFT,
    _Y_SHIFT,
    LEVEL_R7,
    LEVEL_R8,
    LEVEL_R9,
    cell_encode_np,
    cell_xy_np,
    pc_tile_name_np,
)


def point_in_polygon_np(lat, lon, poly_lat, poly_lon):
    """Even-odd ray casting (vectorized over points, loop over edges)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    inside = np.zeros(lat.shape, dtype=bool)
    n = len(poly_lat)
    j = n - 1
    for i in range(n):
        yi, xi = poly_lat[i], poly_lon[i]
        yj, xj = poly_lat[j], poly_lon[j]
        cross = (yi > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= cross & (lon < x_at)
        j = i
    return inside


def assign_polygons_np(lat, lon, polys: list[dict], id_key: str):
    """Point-in-polygon-set: returns the matching polygon id or -1.
    Bounding-box prefilter before exact test (broadcast R-tree role)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    out = np.full(lat.shape, -1, dtype=np.int32)
    for p in polys:
        pla, plo = np.asarray(p["lat"]), np.asarray(p["lon"])
        cand = (
            (lat >= pla.min())
            & (lat <= pla.max())
            & (lon >= plo.min())
            & (lon <= plo.max())
            & (out < 0)
        )
        if not cand.any():
            continue
        hit = point_in_polygon_np(lat[cand], lon[cand], pla, plo)
        idx = np.nonzero(cand)[0] if lat.ndim == 1 else None
        if idx is not None:
            out[idx[hit]] = p[id_key]
        else:
            tmp = out[cand]
            tmp[hit] = p[id_key]
            out[cand] = tmp
    return out


# ---------------------------------------------------------------------------
# STR-packed static R-tree over polygon bounding boxes
# ---------------------------------------------------------------------------

_STR_LEAF_CAP = 16


class STRtree:
    """Static R-tree, Sort-Tile-Recursive bulk load (Leutenegger et al.,
    1997 — the standard packing every spatial library uses). Stored as flat
    per-node arrays so batch queries stay vectorized:

    - ``boxes``  (n_nodes, 4): lat_min, lat_max, lon_min, lon_max
    - ``entries``: ONE flat index pool; a leaf's range holds polygon
      list-indices, an inner node's range holds child NODE indices
      (ranges never overlap — appended append-only at build)
    - ``child0``/``child1`` (n_nodes,): an inner node's [c0, c1) range
      into ``entries``; child0 == -1 marks a leaf
    - ``entry0``/``entry1`` (n_nodes,): a leaf's polygon range into
      ``entries``
    """

    __slots__ = ("boxes", "child0", "child1", "entry0", "entry1", "entries", "root")

    def __init__(self, boxes, child0, child1, entry0, entry1, entries, root):
        self.boxes = boxes
        self.child0 = child0
        self.child1 = child1
        self.entry0 = entry0
        self.entry1 = entry1
        self.entries = entries
        self.root = root


def _str_pack(cx: np.ndarray, cy: np.ndarray, cap: int) -> list[np.ndarray]:
    """STR ordering: sort by x-center, cut into vertical slabs of
    ceil(sqrt(n/cap)) groups, sort each slab by y-center, cut into runs of
    ``cap``. Returns the index groups (the node children)."""
    n = cx.size
    n_groups = -(-n // cap)
    n_slabs = max(1, int(np.ceil(np.sqrt(n_groups))))
    per_slab = -(-n // n_slabs)
    by_x = np.argsort(cx, kind="stable")
    groups = []
    for s in range(0, n, per_slab):
        slab = by_x[s : s + per_slab]
        slab = slab[np.argsort(cy[slab], kind="stable")]
        for g in range(0, slab.size, cap):
            groups.append(slab[g : g + cap])
    return groups


def build_strtree(polys: list[dict], cap: int = _STR_LEAF_CAP) -> STRtree:
    """Bulk-load the polygon bounding boxes bottom-up."""
    cap = max(2, cap)  # fan-out 1 would never shrink a level
    n = len(polys)
    if n == 0:
        z = np.zeros(0)
        return STRtree(np.zeros((0, 4)), z.astype(np.int64), z.astype(np.int64),
                       z.astype(np.int64), z.astype(np.int64), z.astype(np.int64), -1)
    pb = np.empty((n, 4))
    for i, p in enumerate(polys):
        pla, plo = np.asarray(p["lat"], dtype=np.float64), np.asarray(p["lon"], dtype=np.float64)
        pb[i] = (pla.min(), pla.max(), plo.min(), plo.max())

    boxes, child0, child1, entry0, entry1 = [], [], [], [], []
    entries: list[int] = []

    # leaf level from polygon boxes
    groups = _str_pack((pb[:, 2] + pb[:, 3]) / 2, (pb[:, 0] + pb[:, 1]) / 2, cap)
    level = []
    for g in groups:
        e0 = len(entries)
        entries.extend(int(i) for i in g)
        boxes.append(
            [pb[g, 0].min(), pb[g, 1].max(), pb[g, 2].min(), pb[g, 3].max()]
        )
        child0.append(-1)
        child1.append(-1)
        entry0.append(e0)
        entry1.append(len(entries))
        level.append(len(boxes) - 1)

    # inner levels until a single root
    while len(level) > 1:
        lb = np.array([boxes[i] for i in level])
        groups = _str_pack((lb[:, 2] + lb[:, 3]) / 2, (lb[:, 0] + lb[:, 1]) / 2, cap)
        nxt = []
        for g in groups:
            kids = [level[int(i)] for i in g]
            boxes.append(
                [lb[g, 0].min(), lb[g, 1].max(), lb[g, 2].min(), lb[g, 3].max()]
            )
            child0.append(len(entries))
            entries.extend(kids)
            child1.append(len(entries))
            entry0.append(-1)
            entry1.append(-1)
            nxt.append(len(boxes) - 1)
        level = nxt
    return STRtree(
        np.asarray(boxes, dtype=np.float64),
        np.asarray(child0, dtype=np.int64),
        np.asarray(child1, dtype=np.int64),
        np.asarray(entry0, dtype=np.int64),
        np.asarray(entry1, dtype=np.int64),
        np.asarray(entries, dtype=np.int64),
        level[0],
    )


def assign_polygons_strtree(lat, lon, tree: STRtree, polys: list[dict], id_key: str):
    """R-tree point-in-polygon-set assignment; bit-identical to
    ``assign_polygons_np`` (first polygon in input order wins overlaps —
    enforced by keeping the MIN matching polygon list-index per point)."""
    lat = np.asarray(lat, dtype=np.float64).ravel()
    lon = np.asarray(lon, dtype=np.float64).ravel()
    n = lat.size
    best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    if tree.root < 0 or n == 0:
        out = np.full(n, -1, dtype=np.int32)
        return out
    stack: list[tuple[int, np.ndarray]] = [(tree.root, np.arange(n))]
    while stack:
        node, pts = stack.pop()
        b = tree.boxes[node]
        m = (lat[pts] >= b[0]) & (lat[pts] <= b[1]) & (lon[pts] >= b[2]) & (lon[pts] <= b[3])
        pts = pts[m]
        if pts.size == 0:
            continue
        if tree.child0[node] < 0:  # leaf: exact tests, min-index wins
            for poly_idx in tree.entries[tree.entry0[node] : tree.entry1[node]]:
                cand = pts[best[pts] > poly_idx]
                if cand.size == 0:
                    continue
                p = polys[poly_idx]
                pla = np.asarray(p["lat"], dtype=np.float64)
                plo = np.asarray(p["lon"], dtype=np.float64)
                inb = (
                    (lat[cand] >= pla.min()) & (lat[cand] <= pla.max())
                    & (lon[cand] >= plo.min()) & (lon[cand] <= plo.max())
                )
                cand = cand[inb]
                if cand.size == 0:
                    continue
                hit = point_in_polygon_np(lat[cand], lon[cand], pla, plo)
                won = cand[hit]
                best[won] = np.minimum(best[won], poly_idx)
        else:
            for kid in tree.entries[tree.child0[node] : tree.child1[node]]:
                stack.append((int(kid), pts))
    ids = np.array([int(p[id_key]) for p in polys], dtype=np.int64)
    out = np.full(n, -1, dtype=np.int32)
    matched = best < np.iinfo(np.int64).max
    out[matched] = ids[best[matched]]
    return out


S2_TOKEN_LEVEL = 14  # ~600 m edge, the r8-equivalent resolution


def encode_cells_np(det: dict) -> dict:
    """Add qcell r7/r8/r9 ids, the S2 cell token (level 14, filda_spark.s2),
    and the reference Plate-Carree tile id to a detections dict of 1-D
    arrays."""
    from filda_spark import s2

    from filda_spark import hex as hx

    lat, lon = det["FP_Latitude"], det["FP_Longitude"]
    det["cell_r7"] = cell_encode_np(lat, lon, LEVEL_R7)
    det["cell_r8"] = cell_encode_np(lat, lon, LEVEL_R8)
    det["cell_r9"] = cell_encode_np(lat, lon, LEVEL_R9)
    det["hex_r7"] = hx.encode_np(lat, lon, hx.HEX_R7)
    det["hex_r8"] = hx.encode_np(lat, lon, hx.HEX_R8)
    det["hex_r9"] = hx.encode_np(lat, lon, hx.HEX_R9)
    det["s2_token"] = s2.token(s2.cell_id(lat, lon, S2_TOKEN_LEVEL))
    det["tile_id"] = pc_tile_name_np(lat, lon)
    return det


DEDUP_EPS_DEG = 0.008  # ~ one M pixel across the re-observation shift
# dedup neighbourhood cells: level 14 (~0.011 deg tall > eps, so a within-eps
# partner is at most one cell row away)
DEDUP_CELL_LEVEL = 14


def knn_dedup_np(doc_id, lat, lon, power, line, sample, eps: float = DEDUP_EPS_DEG):
    """Cross-granule kNN dominance dedup.

    A detection is a duplicate iff another detection from a DIFFERENT granule
    lies within ``eps`` (equirectangular degrees, cos-lat corrected) and has
    strictly higher priority, where priority orders by (FP_Power desc — NaN
    lowest, doc_id, line, sample). Returns (is_dup bool[], dup_of str[]).

    Single-node reference implementation (O(n^2), fine at fixture scale).
    The engine computes the identical relation twice: ``pipeline.dedup``
    (the ``fire_detections`` query) with a cell-neighborhood shuffle join
    (kRing duplicate -> per-cell pairs), and the fire store's one reconcile
    (``runner.update_dedup_incremental``: bulk load, append and delete)
    per tile with ``knn_dedup_cells_np``.
    """
    doc_id = np.asarray(doc_id)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    power = np.asarray(power, dtype=np.float64)
    n = lat.size
    pw = np.where(np.isnan(power), -np.inf, power)
    keys = list(zip(doc_id.tolist(), np.asarray(line).tolist(), np.asarray(sample).tolist()))
    is_dup = np.zeros(n, dtype=bool)
    dup_of = np.array([""] * n, dtype=object)
    coslat = np.cos(np.radians(lat))
    for i in range(n):
        dlat = lat - lat[i]
        dlon = (lon - lon[i]) * coslat[i]
        near = (dlat * dlat + dlon * dlon) <= eps * eps
        near &= doc_id != doc_id[i]
        if not near.any():
            continue
        cand = np.nonzero(near)[0]
        # strictly higher priority than i?
        best = None
        for j in cand:
            a = (-pw[j], str(doc_id[j]), keys[j][1], keys[j][2])
            b = (-pw[i], str(doc_id[i]), keys[i][1], keys[i][2])
            if a < b and (best is None or a < best[0]):
                best = (a, j)
        if best is not None:
            is_dup[i] = True
            j = best[1]
            dup_of[i] = f"{doc_id[j]}:{keys[j][1]}:{keys[j][2]}"
    return is_dup, dup_of.astype(str)


def knn_dedup_cells_np(
    doc_id, lat, lon, power, line, sample, query=None, eps: float = DEDUP_EPS_DEG,
    level: int = DEDUP_CELL_LEVEL,
):
    """``knn_dedup_np``'s verdicts for the ``query`` rows (bool mask or
    indices; default all) against every row, cell-bucketed: rows are
    sorted by level-``level`` cell id, which orders by (cell row, cell
    column), so each query row's candidates in one cell row are one
    ``searchsorted`` range of half-width floor(eps/(cos(lat)*cell width))+2
    columns (an eps-box strictly covering the relation; no longitude wrap,
    as the relation has none). Cost is O(candidate pairs), not O(n^2).
    Pair test, priority key and ``dup_of`` format are knn_dedup_np's, in
    the same expression order, so the result is bit-identical."""
    doc_id = np.asarray(doc_id)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    power = np.asarray(power, dtype=np.float64)
    line = np.asarray(line)
    sample = np.asarray(sample)
    q = np.arange(lat.size) if query is None else np.asarray(query)
    if q.dtype == bool:
        q = np.flatnonzero(q)
    is_dup = np.zeros(q.size, dtype=bool)
    dup_of = np.full(q.size, "", dtype=object)
    if q.size == 0:
        return is_dup, dup_of.astype(str)
    cells = cell_encode_np(lat, lon, level)
    order = np.argsort(cells, kind="stable")
    sorted_cells = cells[order]
    n = 1 << level
    x, y = cell_xy_np(cells[q])
    coslat = np.cos(np.radians(lat))
    with np.errstate(divide="ignore"):
        kx = np.floor(eps / (np.abs(coslat[q]) * (360.0 / n))) + 2
    kx = np.minimum(kx, n).astype(np.int64)
    x0, x1 = np.maximum(x - kx, 0), np.minimum(x + kx, n - 1)
    los, his = [], []
    for dy in (-1, 0, 1):
        row = np.int64(level) * _LVL_SHIFT + (y + dy) * _Y_SHIFT
        lo = np.searchsorted(sorted_cells, row + x0, "left")
        hi = np.searchsorted(sorted_cells, row + x1, "right")
        ok = (y + dy >= 0) & (y + dy < n)
        los.append(lo)
        his.append(np.where(ok, hi, lo))
    lo, cnt = np.concatenate(los), np.concatenate(his) - np.concatenate(los)
    qi = np.repeat(np.tile(np.arange(q.size), 3), cnt)
    j = order[np.repeat(lo, cnt) + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)]
    i = q[qi]

    dlat = lat[j] - lat[i]
    dlon = (lon[j] - lon[i]) * coslat[i]
    near = (dlat * dlat + dlon * dlon) <= eps * eps
    _, doc = np.unique(doc_id, return_inverse=True)
    doc = doc.ravel()
    negpw = -np.where(np.isnan(power), -np.inf, power)
    # keys of different docs never tie, so "strictly smaller key" reduces
    # to (power, doc); line/sample only order dominators within one doc
    dom = near & (doc[j] != doc[i]) & (
        (negpw[j] < negpw[i]) | ((negpw[j] == negpw[i]) & (doc[j] < doc[i]))
    )
    qi, j = qi[dom], j[dom]
    o = np.lexsort((sample[j], line[j], doc[j], negpw[j], qi))
    qi, j = qi[o], j[o]
    first = np.ones(qi.size, dtype=bool)
    first[1:] = qi[1:] != qi[:-1]
    qi, j = qi[first], j[first]
    is_dup[qi] = True
    dup_of[qi] = [
        f"{d}:{ln}:{sm}"
        for d, ln, sm in zip(doc_id[j].tolist(), line[j].tolist(), sample[j].tolist())
    ]
    return is_dup, dup_of.astype(str)


def adjacency_counts_np(cm_img: np.ndarray, lwm_img: np.ndarray, line, sample):
    """3x3 neighbor counts of cloudy (CM<=0) and water (lwm!=1) pixels around
    each detection (FILDA.py:2179-2254 stencil semantics, window clamped at
    granule edges)."""
    h, w = cm_img.shape
    line = np.asarray(line)
    sample = np.asarray(sample)
    n_cloud = np.zeros(line.size, dtype=np.int8)
    n_water = np.zeros(line.size, dtype=np.int8)
    for k in range(line.size):
        l0, l1 = max(line[k] - 1, 0), min(line[k] + 2, h)
        s0, s1 = max(sample[k] - 1, 0), min(sample[k] + 2, w)
        cl = cm_img[l0:l1, s0:s1] <= 0
        wa = lwm_img[l0:l1, s0:s1] != 1
        # exclude the centre pixel itself
        cl_n = int(cl.sum()) - int(cm_img[line[k], sample[k]] <= 0)
        wa_n = int(wa.sum()) - int(lwm_img[line[k], sample[k]] != 1)
        n_cloud[k] = cl_n
        n_water[k] = wa_n
    return n_cloud, n_water


def demo_zones() -> list[dict]:
    """Deterministic synthetic polygon zones for the oracle-checked zonal
    statistics entry (no RNG, no files): a 9x12 grid of irregular convex
    rings, radii < half the grid spacing so zones never overlap (which makes
    first-in-input-order overlap resolution trivially equal to min-zone-id in
    the SQL twin). Vertices are rounded to 4 dp so the SQL literals parse to
    bit-identical float64 on both engines."""
    import math

    zones = []
    zid = 0
    for gy in range(9):
        for gx in range(12):
            clat = -60.0 + 15.0 * gy
            clon = -165.0 + 30.0 * gx
            nv = 5 + (zid % 4)
            rbase = 3.0 + (zid % 5)
            lats, lons = [], []
            for j in range(nv):
                r = rbase * (0.6 + 0.4 * (((zid * 31 + j * 17) % 10) / 10.0))
                th = 2 * math.pi * j / nv + 0.1 * zid
                lats.append(round(clat + r * math.sin(th), 4))
                lons.append(round(clon + r * math.cos(th), 4))
            zones.append(dict(zone_id=zid, lat=lats, lon=lons))
            zid += 1
    return zones
