"""Aperture-7 hexagonal hierarchical cell index — the true-hex counterpart
of the qcell quadtree (`grids.py`), from scratch.

The north rule names H3-class cells; the engine's workhorse indexes are the
equal-angle quadtree (qcell) and S2. What those lack is the *hexagonal*
property people reach for H3 to get: every cell has exactly SIX equidistant
neighbours (uniform kRing smoothing, no corner-neighbor anisotropy) and a
7-to-1 parent hierarchy. This module supplies that cell algebra from first
principles on the equirectangular plane:

- pointy-top hexagon lattice in (lon, lat); res-0 edge 10 deg, each finer
  resolution shrinks the edge by sqrt(7) and rotates by atan(sqrt(3)/5)
  (~19.1 deg) — the classic Gosper-island aperture-7 hierarchy, so res
  7/8/9 edges (0.0110 / 0.0042 / 0.0016 deg ~ 1.2 km / 460 m / 175 m at
  the equator) match the H3 res 7/8/9 cell scale the north star names.
- axial coordinates (q, r) with cube rounding; parent/child via the exact
  integer lattice relation q = 2i + 3j, r = i - 2j (det -7), so
  child->parent is one 2x2 transform + the same cube rounding, and every
  parent has exactly 7 children (lattice coordinates land on sevenths —
  never on a rounding tie; pinned by property test).
- ids pack into one int64: res * 2^58 + (q + 2^28) * 2^29 + (r + 2^28).

Everything exists three times and is pinned bit-identical: numpy
(oracle/tests), PySpark Columns (JVM, whole-stage codegen), and a DuckDB
SQL generator (driver oracles). All three use floor(x + 0.5) rounding
(half-up — numpy's banker's rounding would diverge from SQL) and the same
literal float constants, so the cube-round branches compare identical
float64 values.

Honest limitations (documented, not hidden): the lattice is planar on
(lon, lat) — cells distort toward the poles exactly like the qcell grid,
and the hierarchy's irrational rotation makes a 360-degree-periodic lattice
impossible, so cells touching the antimeridian do not wrap (the production
dedup neighborhoods use the wrapping qcell ring instead). Not
bit-compatible with Uber H3 ids (that would require H3's exact icosahedron
orientation tables; this is a from-scratch public-knowledge design with the
same cell algebra).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EDGE_R0_DEG = 10.0
MAX_RES = 15

_OFF = 1 << 28
_Q_SHIFT = 1 << 29
_RES_SHIFT = 1 << 58

# H3-equivalent resolution naming (module doc).
HEX_R7, HEX_R8, HEX_R9 = 7, 8, 9


def _bases() -> list[tuple[float, float, float, float]]:
    """(ax, ay, bx, by) per resolution: center(q, r) = q*a + r*b in
    (x=lon, y=lat). Res 0: pointy-top, edge EDGE_R0_DEG; finer bases via
    a' = (2A + B)/7, b' = (3A - 2B)/7 (parent-from-child P1 = 2a + b,
    P2 = 3a - 2b — the aperture-7 pair with |P| = sqrt(7)|a|)."""
    s = EDGE_R0_DEG
    a = (math.sqrt(3.0) * s, 0.0)
    b = (math.sqrt(3.0) / 2.0 * s, 1.5 * s)
    out = [(a[0], a[1], b[0], b[1])]
    for _ in range(MAX_RES):
        a, b = (
            ((2 * a[0] + b[0]) / 7.0, (2 * a[1] + b[1]) / 7.0),
            ((3 * a[0] - 2 * b[0]) / 7.0, (3 * a[1] - 2 * b[1]) / 7.0),
        )
        out.append((a[0], a[1], b[0], b[1]))
    return out


_BASES = _bases()


def _inv(res: int) -> tuple[float, float, float, float]:
    """(cqx, cqy, crx, cry): qf = cqx*x + cqy*y, rf = crx*x + cry*y."""
    ax, ay, bx, by = _BASES[res]
    det = ax * by - bx * ay
    return by / det, -bx / det, -ay / det, ax / det


def edge_deg(res: int) -> float:
    ax, ay, _, _ = _BASES[res]
    return math.hypot(ax, ay) / math.sqrt(3.0)


# --- numpy twins ------------------------------------------------------------


def _cube_round_np(qf, rf):
    x, z = qf, rf
    y = -x - z
    rx, ry, rz = np.floor(x + 0.5), np.floor(y + 0.5), np.floor(z + 0.5)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~(dy > dz)
    q = np.where(fix_x, -ry - rz, rx)
    r = np.where(fix_z, -rx - ry, rz)
    return q.astype(np.int64), r.astype(np.int64)


def _pack_np(q, r, res: int):
    return (
        np.int64(res) * np.int64(_RES_SHIFT)
        + (q + _OFF) * np.int64(_Q_SHIFT)
        + (r + _OFF)
    )


def unpack_np(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _RES_SHIFT
    rem = cell % _RES_SHIFT
    q = rem // _Q_SHIFT - _OFF
    r = rem % _Q_SHIFT - _OFF
    return res, q, r


def encode_np(lat, lon, res: int):
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    cqx, cqy, crx, cry = _inv(res)
    qf = cqx * lon + cqy * lat
    rf = crx * lon + cry * lat
    q, r = _cube_round_np(qf, rf)
    return _pack_np(q, r, res)


def center_np(cell):
    res, q, r = unpack_np(cell)
    ax = np.array([_BASES[k][0] for k in range(MAX_RES + 1)])[res]
    ay = np.array([_BASES[k][1] for k in range(MAX_RES + 1)])[res]
    bx = np.array([_BASES[k][2] for k in range(MAX_RES + 1)])[res]
    by = np.array([_BASES[k][3] for k in range(MAX_RES + 1)])[res]
    return q * ay + r * by, q * ax + r * bx  # (lat, lon)


def parent_np(cell):
    res, q, r = unpack_np(cell)
    if np.any(res < 1):
        raise ValueError("res 0 cells have no parent")
    i, j = _cube_round_np((2.0 * q + 3.0 * r) / 7.0, (q - 2.0 * r) / 7.0)
    # vectorized over a single-res array (the engine's use); mixed-res
    # arrays would need per-row res handling
    return _pack_np(i, j, int(np.asarray(res).flat[0]) - 1)


# axial neighbour directions (pointy-top), E counter-clockwise
DIRS = [(1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1)]


def kring_np(cell, k: int = 1):
    """ndarray (n, m) of cell ids within hex distance k (m = 1+3k(k+1))."""
    res, q, r = unpack_np(cell)
    resv = int(np.asarray(res).flat[0])
    offs = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    cols = [_pack_np(q + dq, r + dr, resv) for dq, dr in offs]
    return np.stack(cols, axis=-1)


def hex_distance_np(cell_a, cell_b):
    _, qa, ra = unpack_np(cell_a)
    _, qb, rb = unpack_np(cell_b)
    dq, dr = qa - qb, ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


# --- PySpark Column twins ---------------------------------------------------


def _cube_round_col(qf: Column, rf: Column) -> tuple[Column, Column]:
    y = -qf - rf
    rx = F.floor(qf + F.lit(0.5))
    ry = F.floor(y + F.lit(0.5))
    rz = F.floor(rf + F.lit(0.5))
    dx = F.abs(rx - qf)
    dy = F.abs(ry - y)
    dz = F.abs(rz - rf)
    fix_x = (dx > dy) & (dx > dz)
    q = F.when(fix_x, -ry - rz).otherwise(rx)
    r = F.when(~fix_x & ~(dy > dz), -rx - ry).otherwise(rz)
    return q.cast("long"), r.cast("long")


def _pack_col(q: Column, r: Column, res: int) -> Column:
    return (
        F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + (q + F.lit(_OFF)) * F.lit(_Q_SHIFT)
        + (r + F.lit(_OFF))
    )


def encode(lat: Column, lon: Column, res: int) -> Column:
    cqx, cqy, crx, cry = _inv(res)
    qf = F.lit(cqx) * lon + F.lit(cqy) * lat
    rf = F.lit(crx) * lon + F.lit(cry) * lat
    q, r = _cube_round_col(qf, rf)
    return _pack_col(q, r, res)


def cell_qr(cell: Column) -> tuple[Column, Column]:
    rem = cell % F.lit(_RES_SHIFT)
    q = (rem / F.lit(_Q_SHIFT)).cast("long") - F.lit(_OFF)
    r = (rem % F.lit(_Q_SHIFT)) - F.lit(_OFF)
    return q, r


def cell_qr_exact(cell: Column) -> tuple[Column, Column]:
    """Bit-exact unpack: shift/mask instead of `cell_qr`'s float division.

    Identical results over the engine's coordinate domain (pinned by test);
    exact for ALL packable (q, r). Used by `children`; its SQL twin
    `qr_sql_exact` anchors the compact oracle."""
    rem = cell.bitwiseAND(F.lit(_RES_SHIFT - 1))
    q = F.shiftright(rem, 29) - F.lit(_OFF)
    r = rem.bitwiseAND(F.lit(_Q_SHIFT - 1)) - F.lit(_OFF)
    return q, r


def parent_exact(cell: Column, res: int) -> Column:
    """Parent at res-1 via the bit-exact unpack.

    NOT used by the compaction queries (they use `parent_pudf` — see its
    docstring for the Catalyst canonicalization blow-up); kept to pin the
    bit-parity of `cell_qr_exact`/`qr_sql_exact` (the compact oracle's
    anchor) against the float twin and numpy in tests."""
    q, r = cell_qr_exact(cell)
    i, j = _cube_round_col(
        (F.lit(2.0) * q + F.lit(3.0) * r) / F.lit(7.0),
        (q - F.lit(2.0) * r) / F.lit(7.0),
    )
    return _pack_col(i, j, res - 1)


def qr_sql_exact(cell_expr: str) -> tuple[str, str]:
    """DuckDB twin of `cell_qr_exact` (bit ops on BIGINT)."""
    rem = f"(({cell_expr}) & {_RES_SHIFT - 1})"
    q = f"(({rem} >> 29) - {_OFF})"
    r = f"(({rem} & {_Q_SHIFT - 1}) - {_OFF})"
    return q, r


def parent_pudf(cell: Column) -> Column:
    """Arrow-vectorized parent (`parent_np`) as a pandas UDF.

    Semantically identical to `parent`/`parent_exact` (bit-parity pinned by
    tests).  Exists because Catalyst inlines the Column-twin hex algebra
    through join conditions and constraint propagation, and its expression
    canonicalization is quadratic on the composed tree: a two-level compact
    (parent(parent(encode(..)))) reaches a ~0.5 MB join condition at one
    level and OOMs the driver at two.  One opaque Arrow node keeps the
    logical plan O(1) — which also matters at cluster scale, where the plan
    is serialized to every task — while the kernel stays vectorized numpy.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _parent(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(parent_np(s.to_numpy()))

    return _parent(cell)


def parent(cell: Column, res: int) -> Column:
    """Parent at res-1 of a res-``res`` cell column."""
    q, r = cell_qr(cell)
    i, j = _cube_round_col(
        (F.lit(2.0) * q + F.lit(3.0) * r) / F.lit(7.0),
        (q - F.lit(2.0) * r) / F.lit(7.0),
    )
    return _pack_col(i, j, res - 1)


def children(cell: Column, res: int) -> Column:
    """Array of the 7 res+1 children of a res-``res`` cell.

    The aperture-7 inverse is exact: the center child of parent (Q, R) is
    (2Q + 3R, Q - 2R) (plug into the forward map (2q+3r)/7, (q-2r)/7 and
    both divisions are integral), and the full child set is the center
    child plus its 6 axial neighbours (pinned by the exactly-7-children
    property test). Linear integer ops only — no cube rounding — so the
    Catalyst tree stays tiny."""
    q, r = cell_qr_exact(cell)
    cq = F.lit(2) * q + F.lit(3) * r
    cr = q - F.lit(2) * r
    ids = [
        _pack_col(cq + F.lit(dq), cr + F.lit(dr), res + 1)
        for dq, dr in [(0, 0)] + DIRS
    ]
    return F.array(*ids)


def center_cols(q: Column, r: Column, res: int) -> tuple[Column, Column]:
    """(lat, lon) Columns of the center of axial (q, r) at ``res``."""
    ax, ay, bx, by = _BASES[res]
    return q * F.lit(ay) + r * F.lit(by), q * F.lit(ax) + r * F.lit(bx)


def pack_cols(q: Column, r: Column, res: int) -> Column:
    """Packed cell id Column from integer axial coordinate Columns."""
    return _pack_col(q, r, res)


def center_sql(q_expr: str, r_expr: str, res: int) -> tuple[str, str]:
    """DuckDB (lat, lon) center expressions — same float64 constants and
    operand order as `center_cols` so results are bit-identical."""
    ax, ay, bx, by = _BASES[res]
    lat = f"(({q_expr}) * ({ay!r}) + ({r_expr}) * ({by!r}))"
    lon = f"(({q_expr}) * ({ax!r}) + ({r_expr}) * ({bx!r}))"
    return lat, lon


def pack_sql(q_expr: str, r_expr: str, res: int) -> str:
    """DuckDB packed cell id from integer axial coordinate expressions."""
    return (
        f"({res} * CAST({_RES_SHIFT} AS BIGINT)"
        f" + (({q_expr}) + {_OFF}) * CAST({_Q_SHIFT} AS BIGINT)"
        f" + (({r_expr}) + {_OFF}))"
    )


def line_np(lat_a, lon_a, lat_b, lon_b, res: int):
    """Grid path between endpoint cells (H3 gridPathCells): cube-lerp at
    k/d steps, hex-rounded — d+1 cells per pair. Returns (offsets, cells):
    pair i's path is cells[offsets[i]:offsets[i+1]], in k order. Ties in
    the rounding break via the same floor(x+0.5) bias as every other twin,
    so paths are deterministic and engine-identical."""
    cqx, cqy, crx, cry = _inv(res)
    qa = np.asarray(cqx * np.asarray(lon_a) + cqy * np.asarray(lat_a))
    ra = np.asarray(crx * np.asarray(lon_a) + cry * np.asarray(lat_a))
    qb = np.asarray(cqx * np.asarray(lon_b) + cqy * np.asarray(lat_b))
    rb = np.asarray(crx * np.asarray(lon_b) + cry * np.asarray(lat_b))
    q0, r0 = _cube_round_np(qa, ra)
    q1, r1 = _cube_round_np(qb, rb)
    dq, dr = q1 - q0, r1 - r0
    d = (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2
    counts = d + 1
    offsets = np.concatenate([[0], np.cumsum(counts)])
    idx = np.repeat(np.arange(len(d)), counts)
    k = np.arange(offsets[-1]) - offsets[idx]
    # lerp in float axial space between the ROUNDED endpoints (so the path
    # starts and ends exactly on the endpoint cells), guarding d=0
    dd = np.maximum(d[idx], 1).astype(np.float64)
    t = k.astype(np.float64) / dd
    qf = q0[idx].astype(np.float64) + t * dq[idx].astype(np.float64)
    rf = r0[idx].astype(np.float64) + t * dr[idx].astype(np.float64)
    q, r = _cube_round_np(qf, rf)
    return offsets, _pack_np(q, r, res)


def children_np(cell):
    """(n, 7) array of res+1 children (single-res input, like parent_np)."""
    res, q, r = unpack_np(cell)
    if res.size == 0:
        return np.empty((0, 7), dtype=np.int64)
    cq, cr = 2 * q + 3 * r, q - 2 * r
    offs = np.array([(0, 0)] + DIRS, dtype=np.int64)
    return _pack_np(
        cq[:, None] + offs[None, :, 0],
        cr[:, None] + offs[None, :, 1],
        int(np.asarray(res).flat[0]) + 1,
    )


def kring(cell: Column, res: int, k: int = 1) -> Column:
    """Array of the 1+3k(k+1) cell ids within hex distance k."""
    q, r = cell_qr(cell)
    ids = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            ids.append(_pack_col(q + F.lit(dq), r + F.lit(dr), res))
    return F.array(*ids)


def token(cell: Column) -> Column:
    return F.lower(F.hex(cell))


# --- DuckDB SQL twin --------------------------------------------------------


def encode_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """One SQL expression computing the packed cell id — same constants,
    same floor(x+0.5) rounding, same branch comparisons as the numpy and
    Column twins."""
    cqx, cqy, crx, cry = _inv(res)
    qf = f"(({cqx!r}) * ({lon_expr}) + ({cqy!r}) * ({lat_expr}))"
    rf = f"(({crx!r}) * ({lon_expr}) + ({cry!r}) * ({lat_expr}))"
    return _cube_round_pack_sql(qf, rf, res)


def parent_sql(q_expr: str, r_expr: str, res: int) -> str:
    """Packed parent id (res-1) from integer axial coord expressions."""
    qf = f"((2.0 * ({q_expr}) + 3.0 * ({r_expr})) / 7.0)"
    rf = f"((({q_expr}) - 2.0 * ({r_expr})) / 7.0)"
    return _cube_round_pack_sql(qf, rf, res - 1)


def _cube_round_pack_sql(qf: str, rf: str, res: int) -> str:
    y = f"(-({qf}) - ({rf}))"
    rx = f"floor(({qf}) + 0.5)"
    ry = f"floor(({y}) + 0.5)"
    rz = f"floor(({rf}) + 0.5)"
    dx = f"abs(({rx}) - ({qf}))"
    dy = f"abs(({ry}) - ({y}))"
    dz = f"abs(({rz}) - ({rf}))"
    fix_x = f"(({dx}) > ({dy}) AND ({dx}) > ({dz}))"
    q = f"CAST(CASE WHEN {fix_x} THEN -({ry}) - ({rz}) ELSE ({rx}) END AS BIGINT)"
    r = (
        f"CAST(CASE WHEN NOT {fix_x} AND NOT (({dy}) > ({dz}))"
        f" THEN -({rx}) - ({ry}) ELSE ({rz}) END AS BIGINT)"
    )
    return (
        f"({res} * CAST({_RES_SHIFT} AS BIGINT)"
        f" + (({q}) + {_OFF}) * CAST({_Q_SHIFT} AS BIGINT)"
        f" + (({r}) + {_OFF}))"
    )
