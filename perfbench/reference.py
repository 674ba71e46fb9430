"""Reference answers that share no code path with the engine.

Cell ids, point-in-polygon tests, kNN ranking and Jaccard similarity are
re-derived here from their definitions with numpy, DuckDB and plain
Python sets.  Outputs are compared as fingerprints: a row count plus the
sum of CRC-32 over each row's ``|``-joined key string, which the engine
side computes with Spark's own ``crc32`` inside the timed action.
"""

from __future__ import annotations

import zlib

import numpy as np

RES, JOIN_RES, TILE_RES = 12, 8, 5
BUCKET_SECONDS = 7 * 24 * 3600


def fingerprint(rows) -> tuple[int, int]:
    """(count, Σ crc32) over rows of already-stringified fields."""
    n = h = 0
    for r in rows:
        n += 1
        h += zlib.crc32("|".join(r).encode())
    return n, h


# ---------------------------------------------------------------------------
# grid
# ---------------------------------------------------------------------------

def cell_xy_centi(lon_centi, lat_centi, res: int):
    n = 1 << res
    return lon_centi * n // 36000, lat_centi * n // 18000


def pack(x, y, res: int):
    return (np.int64(res) << 58) | (np.asarray(x, np.int64) << 29) | np.asarray(y, np.int64)


def cell_xy_deg(lon, lat, res: int):
    n = 1 << res
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1)
    y = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1)
    return x.astype(np.int64), y.astype(np.int64)


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def _ccw(ring):
    xs = np.array([p[0] for p in ring], dtype=np.float64)
    ys = np.array([p[1] for p in ring], dtype=np.float64)
    area = np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)
    return (xs[::-1], ys[::-1]) if area < 0 else (xs, ys)


def in_convex(px, py, ring) -> np.ndarray:
    """Boundary-inclusive test against a convex ring (any orientation)."""
    xs, ys = _ccw(ring)
    inside = np.ones(np.shape(px), dtype=bool)
    for i in range(len(xs)):
        x0, y0 = xs[i], ys[i]
        x1, y1 = xs[(i + 1) % len(xs)], ys[(i + 1) % len(ys)]
        inside &= (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0) >= 0
    return inside


def in_rings_even_odd(px, py, rings) -> np.ndarray:
    """Even-odd crossing parity over all rings (holes and parts)."""
    odd = np.zeros(np.shape(px), dtype=bool)
    for ring in rings:
        xs = np.array([p[0] for p in ring], dtype=np.float64)
        ys = np.array([p[1] for p in ring], dtype=np.float64)
        for i in range(len(xs)):
            x0, y0 = xs[i], ys[i]
            x1, y1 = xs[i - 1], ys[i - 1]
            straddle = (y0 > py) != (y1 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xc = (x1 - x0) * (py - y0) / (y1 - y0) + x0
            odd ^= straddle & (px < xc)
    return odd


# ---------------------------------------------------------------------------
# per-workload references
# ---------------------------------------------------------------------------

def centroid_membership(pages: dict, polys: list) -> tuple[np.ndarray, np.ndarray]:
    """(page index, poly id) pairs under the centroid rule at JOIN_RES:
    a page belongs to a polygon iff its join cell's centre is inside."""
    jx, jy = cell_xy_centi(pages["lon_centi"], pages["lat_centi"], JOIN_RES)
    jkey = jx * (1 << JOIN_RES) + jy
    cells, inverse = np.unique(jkey, return_inverse=True)
    n = 1 << JOIN_RES
    clon = (cells // n + 0.5) / n * 360.0 - 180.0
    clat = (cells % n + 0.5) / n * 180.0 - 90.0
    cell_idx, poly_ids = [], []
    for pid, ring in polys:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        near = np.nonzero(
            (clon >= min(xs)) & (clon <= max(xs)) & (clat >= min(ys)) & (clat <= max(ys))
        )[0]
        hit = near[in_convex(clon[near], clat[near], ring)]
        cell_idx.append(hit)
        poly_ids.append(np.full(len(hit), pid, dtype=np.int64))
    cell_idx = np.concatenate(cell_idx)
    poly_ids = np.concatenate(poly_ids)
    order = np.argsort(inverse, kind="stable")
    starts = np.searchsorted(inverse[order], np.arange(len(cells)))
    ends = np.searchsorted(inverse[order], np.arange(len(cells)), side="right")
    page_idx, out_poly = [], []
    for c, pid in zip(cell_idx, poly_ids):
        members = order[starts[c]:ends[c]]
        page_idx.append(members)
        out_poly.append(np.full(len(members), pid, dtype=np.int64))
    if not page_idx:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(page_idx), np.concatenate(out_poly)


def cover_cells(polys: list, res: int) -> int:
    """Cells whose centre lies in some polygon, counted per polygon: the
    size of the layer's centroid-rule cover."""
    n = 1 << res
    total = 0
    for _, ring in polys:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        x0, y0 = cell_xy_deg(min(xs), min(ys), res)
        x1, y1 = cell_xy_deg(max(xs), max(ys), res)
        gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        clon = (gx.ravel() + 0.5) / n * 360.0 - 180.0
        clat = (gy.ravel() + 0.5) / n * 180.0 - 90.0
        total += int(in_convex(clon, clat, ring).sum())
    return total


def tile_batch(con, pages: dict, polys: list) -> tuple[int, int]:
    """Fingerprint of scan → geocode → centroid join → tiles → mosaic
    first-wins dedup, by DuckDB over the reference arrays."""
    import pandas as pd

    idx, pid = centroid_membership(pages, polys)
    x, y = cell_xy_centi(pages["lon_centi"][idx], pages["lat_centi"][idx], RES)
    df = pd.DataFrame({
        "cell_id": pack(x, y, RES),
        "tx": x >> (RES - TILE_RES),
        "ty": y >> (RES - TILE_RES),
        "ts_sec": pages["ts_sec"][idx],
        "url": pages["url"][idx],
        "poly_id": pid,
    })
    con.register("joined", df)
    rows = con.sql(f"""
        SELECT cell_id, ts_bucket, url, poly_id, tx, ty FROM (
          SELECT *, ts_sec // {BUCKET_SECONDS} AS ts_bucket,
                 row_number() OVER (PARTITION BY cell_id, ts_sec // {BUCKET_SECONDS}
                                    ORDER BY ts_sec, url, poly_id) AS rn
          FROM joined) WHERE rn = 1
    """).fetchall()
    con.unregister("joined")
    return fingerprint(
        (str(c), str(b), u, str(p), f"r{TILE_RES}/{tx}/{ty}/{b}")
        for c, b, u, p, tx, ty in rows
    )


def knn(pages: dict, queries: list, k: int) -> tuple[int, int]:
    """Top-k by (squared centi-degree distance with lon wrap, url)."""
    lat, lon = pages["lat_centi"], pages["lon_centi"]
    rows = []
    for qid, qlat, qlon in queries:
        dlon = np.abs(lon - qlon)
        dlon = np.minimum(dlon, 36000 - dlon)
        d = (lat - qlat) ** 2 + dlon ** 2
        cand = np.argpartition(d, k + 64)[: k + 64] if len(d) > k + 64 else np.arange(len(d))
        ranked = sorted(cand, key=lambda i: (d[i], pages["url"][i]))[:k]
        kth = d[ranked[-1]]
        if np.count_nonzero(d <= kth) > k + 64:  # ties beyond the window
            ranked = sorted(np.nonzero(d <= kth)[0], key=lambda i: (d[i], pages["url"][i]))[:k]
        rows += [
            (str(qid), pages["url"][i], str(int(d[i])), str(r + 1))
            for r, i in enumerate(ranked)
        ]
    return fingerprint(rows)


def aoi_zonal(pages: dict, rings: list) -> dict:
    """count/min/max/sum/median of n_chars over pages exactly inside."""
    lon = pages["lon_centi"] / 100.0 - 180.0
    lat = pages["lat_centi"] / 100.0 - 90.0
    xs = [p[0] for r in rings for p in r]
    ys = [p[1] for r in rings for p in r]
    near = np.nonzero(
        (lon >= min(xs)) & (lon <= max(xs)) & (lat >= min(ys)) & (lat <= max(ys))
    )[0]
    hit = near[in_rings_even_odd(lon[near], lat[near], rings)]
    v = pages["n_chars"][hit]
    if len(v) == 0:
        return {}
    return {"cnt": len(v), "min_v": int(v.min()), "max_v": int(v.max()),
            "sum_v": int(v.sum()), "median_v": float(np.median(v))}


def bbox_scan(pages: dict, box) -> tuple[int, int]:
    lon_lo, lon_hi, lat_lo, lat_hi = box
    lon, lat = pages["lon_centi"], pages["lat_centi"]
    m = np.nonzero((lon >= lon_lo) & (lon <= lon_hi) & (lat >= lat_lo) & (lat <= lat_hi))[0]
    x, y = cell_xy_centi(lon[m], lat[m], RES)
    return fingerprint(zip(pages["url"][m], map(str, pack(x, y, RES))))


def sample_points(pages: dict, points: list) -> tuple[int, int]:
    """Left join of points to the pages in their JOIN_RES cell."""
    px, py = cell_xy_centi(pages["lon_centi"], pages["lat_centi"], JOIN_RES)
    by_cell: dict[tuple[int, int], list[str]] = {}
    for i, key in enumerate(zip(px.tolist(), py.tolist())):
        by_cell.setdefault(key, []).append(pages["url"][i])
    rows = []
    for pid, lon, lat in points:
        qx, qy = cell_xy_deg(lon, lat, JOIN_RES)
        urls = by_cell.get((int(qx), int(qy)), [""])
        rows += [(str(pid), u) for u in urls]
    return fingerprint(rows)


def url_fingerprint(urls) -> tuple[int, int]:
    return fingerprint((u,) for u in urls)


def shingle_set(text: str, w: int = 5) -> set:
    if len(text) <= w:
        return {text}
    return {text[i:i + w] for i in range(len(text) - w + 1)}


def jaccard_milli_ok(a: str, b: str, threshold_milli: int) -> bool:
    sa, sb = shingle_set(a), shingle_set(b)
    inter = len(sa & sb)
    return inter * 1000 >= threshold_milli * len(sa | sb)
