"""Point-in-polygon join: tile prefilter + exact integer ray-cast refine.

SURVEY.md §2.7 construction: a polygon's covering tile set at an
adaptively chosen level is the generalization of the box decomposition
(each tile = a solid curve interval); candidates come from a broadcast
tile equi-join, and the exact test is a vectorized ray-casting kernel in
an Arrow-batched pandas UDF — exact because all arithmetic is int64 cross
products (coords < 2^20, products < 2^42), no float rounding.

Boundary semantics: points on a polygon edge or vertex count as INSIDE
(matches the closed-box convention of the reference, bitkey.c:52-55, and
the convex-polygon half-plane oracle `cross >= 0`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.columns import tile_id_col
from ..plans.decompose import covering_tiles, pick_cover_level
from ..util import local_df


def _pip_kernel(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Exact inside-or-boundary test, vectorized over points.

    px, py: int64 point arrays; verts: (m, 2) int64 polygon ring (closed
    implicitly).  Returns boolean array.
    """
    n = len(px)
    inside = np.zeros(n, dtype=bool)
    on_edge = np.zeros(n, dtype=bool)
    m = len(verts)
    for j in range(m):
        x1, y1 = int(verts[j][0]), int(verts[j][1])
        x2, y2 = int(verts[(j + 1) % m][0]), int(verts[(j + 1) % m][1])
        # on-segment: collinear and within bbox
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        within = (
            (px >= min(x1, x2)) & (px <= max(x1, x2))
            & (py >= min(y1, y2)) & (py <= max(y1, y2))
        )
        on_edge |= (cross == 0) & within
        # ray casting (strict crossings of the upward ray)
        cond = (y1 > py) != (y2 > py)
        if y2 != y1:
            # x < x1 + (x2-x1)*(py-y1)/(y2-y1), exact integer comparison
            lhs = (px - x1) * (y2 - y1)
            rhs = (x2 - x1) * (py - y1)
            if y2 > y1:
                crossed = cond & (lhs < rhs)
            else:
                crossed = cond & (lhs > rhs)
            inside ^= crossed
    return inside | on_edge


def pip_refine_expr(x, y, edges) -> "F.Column":
    """Exact inside-or-boundary test as a pure Column expression.

    `edges` is an array<struct<ex,ey,fx,fy>> column; ray casting runs as a
    JVM higher-order aggregate over <=12 edges per candidate — no Python,
    no Arrow transfer.  Integer cross products are exact (coords < 2^20).
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y

    def crossing(acc, e):
        cond = (e.ey > y) != (e.fy > y)
        lhs = (x - e.ex) * (e.fy - e.ey)
        rhs = (e.fx - e.ex) * (y - e.ey)
        strict = F.when(e.fy > e.ey, lhs < rhs).otherwise(lhs > rhs)
        return acc + F.when(cond & strict, F.lit(1)).otherwise(F.lit(0))

    def on_edge(acc, e):
        cross = (e.fx - e.ex) * (y - e.ey) - (e.fy - e.ey) * (x - e.ex)
        within = (
            (x >= F.least(e.ex, e.fx)) & (x <= F.greatest(e.ex, e.fx))
            & (y >= F.least(e.ey, e.fy)) & (y <= F.greatest(e.ey, e.fy))
        )
        return acc | ((cross == 0) & within)

    n_cross = F.aggregate(edges, F.lit(0), crossing)
    edge_hit = F.aggregate(edges, F.lit(False), on_edge)
    return (n_cross % 2 == 1) | edge_hit


def _orient(ax, ay, bx, by, cx, cy) -> int:
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0) - (v < 0)


def _seg_intersect(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection, exact integer arithmetic."""
    d1 = _orient(*p3, *p4, *p1)
    d2 = _orient(*p3, *p4, *p2)
    d3 = _orient(*p1, *p2, *p3)
    d4 = _orient(*p1, *p2, *p4)
    if ((d1 > 0) != (d2 > 0) or (d1 == 0) or (d2 == 0)) and (
        (d3 > 0) != (d4 > 0) or (d3 == 0) or (d4 == 0)
    ):
        # conservative (collinear cases resolved by bbox overlap)
        if max(p1[0], p2[0]) >= min(p3[0], p4[0]) and max(p3[0], p4[0]) >= min(p1[0], p2[0]) \
           and max(p1[1], p2[1]) >= min(p3[1], p4[1]) and max(p3[1], p4[1]) >= min(p1[1], p2[1]):
            return True
    return False


def _seg_rect_intersect(a, b, rx0, ry0, rx1, ry1) -> bool:
    """Does segment a-b touch the closed rectangle?"""
    if rx0 <= a[0] <= rx1 and ry0 <= a[1] <= ry1:
        return True
    if rx0 <= b[0] <= rx1 and ry0 <= b[1] <= ry1:
        return True
    corners = [(rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1)]
    for i in range(4):
        if _seg_intersect(a, b, corners[i], corners[(i + 1) % 4]):
            return True
    return False


def classify_tile(tile: int, level: int, bits: int, verts) -> str:
    """'interior' (whole tile inside polygon), 'boundary' (needs per-point
    refinement), or 'outside'.

    The per-point hot path only ever touches *boundary* tiles — work is
    O(polygon perimeter / tile size), not O(area) — the tile analog of
    the solid-interval fast path (sp_query.c:291-301)."""
    import numpy as np

    from ..plans.decompose import decode_point

    shift = bits - level
    tx, ty = decode_point(tile, 2, level)
    x0, y0 = tx << shift, ty << shift
    x1, y1 = x0 + (1 << shift) - 1, y0 + (1 << shift) - 1
    m = len(verts)
    for j in range(m):  # any polygon edge touching the tile -> boundary
        if _seg_rect_intersect(tuple(verts[j]), tuple(verts[(j + 1) % m]), x0, y0, x1, y1):
            return "boundary"
    # no edge crosses: tile is uniformly inside or outside; test one corner
    inside = _pip_kernel(
        np.array([x0], np.int64), np.array([y0], np.int64), np.asarray(verts, np.int64)
    )[0]
    return "interior" if inside else "outside"


def _edges_rows(p: dict) -> list[tuple[int, int, int, int]]:
    vs = p["vertices"]
    return [
        (int(vs[j][0]), int(vs[j][1]), int(vs[(j + 1) % len(vs)][0]), int(vs[(j + 1) % len(vs)][1]))
        for j in range(len(vs))
    ]


def pip_join(
    points: DataFrame,
    polygons: list[dict],
    *,
    zkey_col: str = "zkey",
    bits: int = 20,
    max_tiles: int = 256,
    method: str = "expr",
) -> DataFrame:
    """Join each point to every polygon containing it.

    `polygons`: dicts {poly_id, vertices: [(x, y), ...]} (driver-side,
    broadcastable — the dimension-table side of the join; points side is
    arbitrarily large).  Returns points columns + poly_id.

    Plan: per cover-level group, broadcast a (tile_id, poly_id, edges)
    relation, equi-join on the point's tile at that level, then refine
    exactly.  method='expr' (default) ray-casts with JVM array aggregates
    (whole pipeline stays in the JVM); method='udf' uses the Arrow-batched
    numpy kernel (reference implementation / cross-check).
    """
    spark = points.sparkSession
    by_level: dict[int, list[tuple[int, int, list, bool]]] = {}
    vert_map: dict[int, list[list[int]]] = {}
    for p in polygons:
        vs = p["vertices"]
        xs = [v[0] for v in vs]
        ys = [v[1] for v in vs]
        mins, maxs = (min(xs), min(ys)), (max(xs), max(ys))
        level = pick_cover_level(mins, maxs, bits=bits, max_tiles=max_tiles)
        tiles = covering_tiles(mins, maxs, level, bits=bits, max_tiles=4 * max_tiles)
        edges = _edges_rows(p)
        verts = [[int(a), int(b)] for a, b in vs]
        for t in tiles:
            cls = classify_tile(int(t), level, bits, verts)
            if cls == "outside":
                continue  # pruned: no per-point work at all
            by_level.setdefault(level, []).append(
                (int(t), int(p["poly_id"]), edges, cls == "interior")
            )
        vert_map[int(p["poly_id"])] = verts

    bc_verts = spark.sparkContext.broadcast(vert_map)

    @F.pandas_udf(T.BooleanType())
    def pip_udf(poly_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        vm = bc_verts.value
        px = x.to_numpy(np.int64)
        py = y.to_numpy(np.int64)
        out = np.zeros(len(px), dtype=bool)
        for pid_val, idx in poly_id.groupby(poly_id).groups.items():
            verts = np.asarray(vm[int(pid_val)], dtype=np.int64)
            ii = np.asarray(idx)
            out[ii] = _pip_kernel(px[ii], py[ii], verts)
        return pd.Series(out)

    # ONE scan + ONE broadcast join per level (r6: the previous
    # interior/boundary union scanned the points side twice — union
    # branches share no subtree, so at 600k bench rows the plan held
    # two full scans + two broadcast joins).  The cover relation carries
    # the edges array ONLY on boundary-tile rows (null for interior), so
    # interior candidates — the bulk at scale — still never materialize
    # an edges array (the r3-measured GC trap of copying edges into
    # every candidate row): the refine filter reads the build-side null
    # and short-circuits on `solid` inside the same codegen stage, and
    # the edges column is dropped before anything downstream.
    cover_schema = (
        "tile_id long, poly_id long, solid boolean, "
        "edges array<struct<ex:long,ey:long,fx:long,fy:long>>"
    )
    result = None
    for level, rows in sorted(by_level.items()):
        cover = local_df(
            spark,
            [(t, pid, s, e if not s else None) for t, pid, e, s in rows],
            cover_schema,
        )
        cand = points.withColumn(
            "_tile", tile_id_col(zkey_col, level, bits=bits)
        ).join(F.broadcast(cover), F.col("_tile") == F.col("tile_id"), "inner")
        if method == "expr":
            keep = F.col("solid") | pip_refine_expr("x", "y", F.col("edges"))
            hits = cand.filter(keep).drop("_tile", "tile_id", "solid", "edges")
        else:
            # reference/cross-check path: keep the two-branch shape so the
            # Python kernel only ever sees boundary rows (a single filter
            # `solid | udf` would BatchEvalPython every interior row)
            interior = cand.filter(F.col("solid"))
            boundary = cand.filter(~F.col("solid")).filter(
                pip_udf(F.col("poly_id"), F.col("x"), F.col("y"))
            )
            hits = interior.unionByName(boundary).drop(
                "_tile", "tile_id", "solid", "edges"
            )
        result = hits if result is None else result.unionByName(hits)
    return result


def convex_polygon(poly_id: int, cx: int, cy: int, radius: int, n: int, *, seed: int = 0) -> dict:
    """Deterministic convex test polygon (integer vertices on a circle).

    Convex so the pytest/DuckDB oracle can verify with half-plane cross
    products while the engine runs the general ray-cast path.
    """
    import math

    verts = []
    for i in range(n):
        ang = 2 * math.pi * (i + (seed % 7) / 7.0) / n
        verts.append(
            (int(cx + radius * math.cos(ang)), int(cy + radius * math.sin(ang)))
        )
    return {"poly_id": poly_id, "vertices": verts}
