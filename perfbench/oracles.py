"""Independent oracles for every timed operation.

Each one recomputes an op's answer from the generated inputs without
Spark: numpy for bit-interleaving, brute-force kNN and point-in-polygon,
DuckDB for box counts and the distance self-join.  The only engine code
used is ``functions.s2.s2_cellid``/``s2_parent``, called directly on
numpy arrays, as the S2 reference for the Arrow UDF path.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from zcurve_spark.functions.s2 import s2_cellid, s2_parent

SPAN_BITS = 30  # with_span_geo's quantization grid
S2_LEVEL = 8
TILE_LEVELS = (4, 8, 12)


def interleave2(x: np.ndarray, y: np.ndarray, bits: int) -> np.ndarray:
    """Morton key with x on even bits and y on odd bits, one bit at a time."""
    x = x.astype(np.uint64)
    y = y.astype(np.uint64)
    k = np.zeros_like(x)
    for i in range(bits):
        b = np.uint64(i)
        k |= ((x >> b) & np.uint64(1)) << np.uint64(2 * i)
        k |= ((y >> b) & np.uint64(1)) << np.uint64(2 * i + 1)
    return k.astype(np.int64)


def span_keys(docs: pa.Table) -> dict[str, np.ndarray]:
    """Per-span tile ids at levels 4/8/12 and the level-8 S2 cell id,
    recomputed from (doc number, span index) with with_span_geo's hash."""
    counts = np.asarray(docs["spans"].combine_chunks().value_lengths(), dtype=np.int64)
    doc = np.repeat(docs["_doc_num"].to_numpy(), counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    idx = np.arange(len(doc), dtype=np.int64) - starts
    n = 1 << SPAN_BITS
    qx = (doc * 2654435761 + idx * 97 + 12345) % n
    qy = (doc * 1013904223 + idx * 31 + 54321) % n
    lon = qx.astype(np.float64) / float(n) * 360.0 - 180.0
    lat = qy.astype(np.float64) / float(n) * 180.0 - 90.0
    z = interleave2(qx, qy, SPAN_BITS)
    out = {f"tile_l{lv}": z >> (2 * (SPAN_BITS - lv)) for lv in TILE_LEVELS}
    out["cell"] = s2_parent(s2_cellid(lon, lat), S2_LEVEL).view(np.int64)
    return out


def sorted_rows(mat: np.ndarray) -> np.ndarray:
    """Rows of a 2-D int array in lexicographic column order."""
    return mat[np.lexsort(mat.T[::-1])]


def tile_counts(docs: pa.Table) -> np.ndarray:
    """(tile_l4, tile_l8, tile_l12, cell, n) rows in sorted_rows order."""
    keys = span_keys(docs)
    mat = np.stack([keys["tile_l4"], keys["tile_l8"], keys["tile_l12"], keys["cell"]], axis=1)
    uniq, n = np.unique(mat, axis=0, return_counts=True)
    return sorted_rows(np.concatenate([uniq, n[:, None]], axis=1))


def box_counts(con: duckdb.DuckDBPyConnection, files: list[str], boxes: list[dict]) -> dict[int, int]:
    """qid -> number of points with x0 <= x <= x1 and y0 <= y <= y1."""
    con.register(
        "bx",
        pa.table(
            {
                "qid": [b["qid"] for b in boxes],
                "x0": [b["mins"][0] for b in boxes],
                "y0": [b["mins"][1] for b in boxes],
                "x1": [b["maxs"][0] for b in boxes],
                "y1": [b["maxs"][1] for b in boxes],
            }
        ),
    )
    rows = con.execute(
        "SELECT bx.qid, count(p.x) FROM bx LEFT JOIN read_parquet(?) p "
        "ON p.x BETWEEN bx.x0 AND bx.x1 AND p.y BETWEEN bx.y0 AND bx.y1 GROUP BY bx.qid",
        [files],
    ).fetchall()
    con.unregister("bx")
    return {int(q): int(n) for q, n in rows}


def knn(pid: np.ndarray, x: np.ndarray, y: np.ndarray, qx: int, qy: int, k: int) -> list[tuple[int, int]]:
    """[(pid, d2)] of the k nearest points, ties broken by (pid, x, y)."""
    d2 = (x - qx) ** 2 + (y - qy) ** 2
    cand = np.argpartition(d2, min(k, len(d2) - 1))[: k + 64]
    cut = np.sort(d2[cand])[min(k, len(cand)) - 1]
    sel = np.nonzero(d2 <= cut)[0]  # every point tied with the k-th
    order = np.lexsort((y[sel], x[sel], pid[sel], d2[sel]))[:k]
    return [(int(pid[sel][i]), int(d2[sel][i])) for i in order]


def points_in_polygon(x: np.ndarray, y: np.ndarray, verts: list[tuple[int, int]]) -> np.ndarray:
    """Inside-or-on-boundary mask: crossing number of a ray towards +x,
    plus an exact collinear-and-within-segment test for boundary points."""
    inside = np.zeros(len(x), dtype=bool)
    boundary = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(verts, verts[1:] + verts[:1]):
        straddle = (ay > y) != (by > y)
        # x < ax + (bx-ax)*(y-ay)/(by-ay), compared without division
        num = (bx - ax) * (y - ay)
        left = (x - ax) * (by - ay)
        crosses = straddle & np.where(by > ay, left < num, left > num)
        inside ^= crosses
        on_line = (bx - ax) * (y - ay) == (by - ay) * (x - ax)
        boundary |= (
            on_line
            & (x >= min(ax, bx)) & (x <= max(ax, bx))
            & (y >= min(ay, by)) & (y <= max(ay, by))
        )
    return inside | boundary


def pip(pid: np.ndarray, x: np.ndarray, y: np.ndarray, polys: list[dict]) -> dict[int, tuple[int, int]]:
    """poly_id -> (matching points, sum of their pids), polygons with no match omitted."""
    out = {}
    for p in polys:
        vx = [v[0] for v in p["vertices"]]
        vy = [v[1] for v in p["vertices"]]
        box = (x >= min(vx)) & (x <= max(vx)) & (y >= min(vy)) & (y <= max(vy))
        ids = np.nonzero(box)[0]
        hit = ids[points_in_polygon(x[ids], y[ids], p["vertices"])]
        if len(hit):
            out[int(p["poly_id"])] = (len(hit), int(pid[hit].sum()))
    return out


def distance_self_join(con: duckdb.DuckDBPyConnection, files: list[str], radius: int) -> tuple[int, int, int, int]:
    """(pairs, sum d2, sum a_id, sum b_id) over pairs a_id < b_id within radius.

    Grid hash join: each point probes the 3x3 cells of side `radius`
    around its own cell."""
    row = con.execute(
        f"""
        WITH g AS (SELECT pid, x, y, x // {radius} AS cx, y // {radius} AS cy FROM read_parquet(?)),
        o AS (SELECT * FROM (VALUES (-1), (0), (1)) a(d)),
        nb AS (SELECT g.*, g.cx + ox.d AS nx, g.cy + oy.d AS ny FROM g, o ox, o oy)
        SELECT count(*), sum(d2), sum(a_id), sum(b_id) FROM (
          SELECT a.pid AS a_id, b.pid AS b_id,
                 (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
          FROM nb a JOIN g b ON b.cx = a.nx AND b.cy = a.ny AND a.pid < b.pid)
        WHERE d2 <= {int(radius) * int(radius)}
        """,
        [files],
    ).fetchone()
    return tuple(int(v or 0) for v in row)
