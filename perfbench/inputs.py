"""Seeded input generation.

Every table the engine sees is generated here from one ``numpy``
generator and written to parquet; the engine only ever receives those
files.  The same seed gives byte-identical tables.

Point domain: integer ``x, y`` in ``[0, DOMAIN)`` with 20-bit Z keys,
the shape ``knn_batch`` and ``pip_join`` default to.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAIN = 1_000_000
BITS = 20

_WORDS = np.array(
    "map tile road river city park lake bridge station harbor tower field "
    "forest market school museum street avenue square valley".split(),
    dtype=object,
)


@dataclass(frozen=True)
class HotSpots:
    """Gaussian clusters that hold ``share`` of all points."""

    centers: np.ndarray  # (h, 2) float
    sigmas: np.ndarray  # (h,) float
    share: float

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        which = rng.integers(0, len(self.centers), n)
        xy = self.centers[which] + rng.normal(size=(n, 2)) * self.sigmas[which, None]
        return np.clip(np.rint(xy), 0, DOMAIN - 1).astype(np.int64)


def hot_spots(rng: np.random.Generator, n: int = 6, share: float = 0.3) -> HotSpots:
    centers = rng.uniform(0.05 * DOMAIN, 0.95 * DOMAIN, (n, 2))
    sigmas = rng.uniform(3_000, 9_000, n)
    return HotSpots(centers, sigmas, share)


def points(rng: np.random.Generator, n: int, spots: HotSpots, pid_base: int = 0) -> pa.Table:
    """(pid, x, y): ``spots.share`` of rows in the hot spots, the rest uniform."""
    n_hot = int(n * spots.share)
    xy = np.concatenate([spots.sample(rng, n_hot), rng.integers(0, DOMAIN, (n - n_hot, 2))])
    xy = xy[rng.permutation(n)]
    return pa.table(
        {
            "pid": pa.array(np.arange(pid_base, pid_base + n, dtype=np.int64)),
            "x": pa.array(xy[:, 0]),
            "y": pa.array(xy[:, 1]),
        }
    )


def boxes(rng: np.random.Generator, n: int, viewport: bool, qid_base: int = 0) -> list[dict]:
    """Closed boxes with log-uniform side lengths in [200, 50000].

    A viewport batch clusters its box centres around one random centre
    (so manifest file pruning matters); a scattered batch spreads them
    over the whole domain."""
    if viewport:
        centres = rng.uniform(0, DOMAIN, 2) + rng.normal(size=(n, 2)) * 20_000
    else:
        centres = rng.uniform(0, DOMAIN, (n, 2))
    ext = np.exp(rng.uniform(np.log(200), np.log(50_000), (n, 2)))
    lo = np.clip(np.rint(centres - ext / 2), 0, DOMAIN - 1).astype(np.int64)
    hi = np.clip(np.rint(centres + ext / 2), 0, DOMAIN - 1).astype(np.int64)
    return [
        {"qid": qid_base + i, "mins": (int(lo[i, 0]), int(lo[i, 1])), "maxs": (int(hi[i, 0]), int(hi[i, 1]))}
        for i in range(n)
    ]


def knn_queries(rng: np.random.Generator, n: int, spots: HotSpots, k: int) -> pa.Table:
    """(qid, qx, qy, k): the first half inside hot spots, the rest uniform."""
    n_dense = n // 2
    xy = np.concatenate([spots.sample(rng, n_dense), rng.integers(0, DOMAIN, (n - n_dense, 2))])
    return pa.table(
        {
            "qid": pa.array(np.arange(n, dtype=np.int64)),
            "qx": pa.array(xy[:, 0]),
            "qy": pa.array(xy[:, 1]),
            "k": pa.array(np.full(n, k, dtype=np.int32)),
        }
    )


def polygons(rng: np.random.Generator, n_convex: int, n_concave: int, spots: HotSpots) -> list[dict]:
    """Convex polygons (vertices on a circle at sorted random angles) and
    concave star polygons (alternating outer/inner radius).

    Sizes and vertex counts follow the polygon's index, so every seed
    gets the same cover levels and edge counts; positions and angles are
    random, and every other centre sits in a hot spot."""
    out = []
    n = n_convex + n_concave
    for i in range(n):
        c = spots.sample(rng, 1)[0].astype(float) if i % 2 else rng.uniform(0.1 * DOMAIN, 0.9 * DOMAIN, 2)
        r = 8_000 * 3 ** ((i % max(1, n_convex)) / max(1, n_convex - 1))
        if i < n_convex:
            m = 5 + i % 8
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            rad = np.full(m, r)
        else:
            m = 8 + 2 * (i % 4)
            ang = np.linspace(0, 2 * np.pi, m, endpoint=False) + rng.uniform(0, np.pi)
            rad = np.where(np.arange(m) % 2 == 0, r, r * rng.uniform(0.3, 0.6))
        vx = np.clip(np.rint(c[0] + rad * np.cos(ang)), 0, DOMAIN - 1).astype(np.int64)
        vy = np.clip(np.rint(c[1] + rad * np.sin(ang)), 0, DOMAIN - 1).astype(np.int64)
        out.append({"poly_id": i, "vertices": [(int(a), int(b)) for a, b in zip(vx, vy)]})
    return out


def span_docs(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Documents in the ``input_hint`` shape ``(doc_id, spans)`` plus the
    numeric ``_doc_num`` that ``with_span_geo`` hashes into coordinates.

    1-8 spans per document, 30% of them media spans."""
    doc_num = np.sort(rng.choice(2**31 - 1, n_docs, replace=False)).astype(np.int64)
    counts = rng.integers(1, 9, n_docs)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    total = int(offsets[-1])
    span_idx = np.arange(total) - np.repeat(offsets[:-1], counts)
    media = rng.random(total) < 0.3
    words = _WORDS[rng.integers(0, len(_WORDS), (total, 3))]
    text = np.where(media, "", words[:, 0] + " " + words[:, 1] + " " + words[:, 2])
    refs = np.where(media, np.char.add("m://", rng.integers(0, 2**40, total).astype(str)), "")
    spans = pa.StructArray.from_arrays(
        [
            pa.array(np.where(media, "media", "text").tolist()),
            pa.array(text.tolist()),
            pa.array(refs.tolist()),
            pa.array((span_idx * 64).astype(np.int32)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.table(
        {
            "doc_id": pa.array([f"doc{d:010d}" for d in doc_num]),
            "spans": pa.ListArray.from_arrays(pa.array(offsets), spans),
            "_doc_num": pa.array(doc_num),
        }
    )


def boxes_table(batches: list[list[dict]]) -> pa.Table:
    """(batch, qid, x0, y0, x1, y1) rows for a list of box batches."""
    rows = [(i, b["qid"], *b["mins"], *b["maxs"]) for i, batch in enumerate(batches) for b in batch]
    cols = list(zip(*rows))
    return pa.table({n: pa.array(c, pa.int64()) for n, c in zip(("batch", "qid", "x0", "y0", "x1", "y1"), cols)})


def boxes_from_table(t: pa.Table) -> list[list[dict]]:
    out: list[list[dict]] = []
    for r in t.to_pylist():
        while len(out) <= r["batch"]:
            out.append([])
        out[r["batch"]].append({"qid": r["qid"], "mins": (r["x0"], r["y0"]), "maxs": (r["x1"], r["y1"])})
    return out


def polygons_table(sets: list[list[dict]]) -> pa.Table:
    """(set, poly_id, vertex, x, y) rows, one per polygon vertex."""
    rows = [(i, p["poly_id"], j, x, y) for i, ps in enumerate(sets) for p in ps for j, (x, y) in enumerate(p["vertices"])]
    cols = list(zip(*rows))
    return pa.table({n: pa.array(c, pa.int64()) for n, c in zip(("set", "poly_id", "vertex", "x", "y"), cols)})


def polygons_from_table(t: pa.Table) -> list[list[dict]]:
    out: list[list[dict]] = []
    for r in t.to_pylist():  # rows are in (set, poly_id, vertex) order
        while len(out) <= r["set"]:
            out.append([])
        ps = out[r["set"]]
        if not ps or ps[-1]["poly_id"] != r["poly_id"]:
            ps.append({"poly_id": r["poly_id"], "vertices": []})
        ps[-1]["vertices"].append((r["x"], r["y"]))
    return out


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
