"""Seeded raw inputs, generated bench-side and cached per seed.

Pages come from a seed-dependent row-id window of the
``eodal_spark.sources.pages`` generator (its SQL form, evaluated by
DuckDB), so every seed has the same spatial and temporal distribution
but different rows.  Polygons, query points and documents come from
``numpy.random.default_rng(seed)``.  Nothing here runs on Spark: the
inputs are files the engine reads, and their cost is kept out of every
timed region and out of ``setup_s``.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from eodal_spark.sources import pages as P

# row ids must stay below ~3.4e9 so the generator's Knuth hash
# (id * 2654435761) cannot overflow a bigint
_WINDOW_STRIDE = 10_000_000
_WINDOWS = 200

CITIES_LONLAT = [
    (c_lon / 100.0 - 180.0, c_lat / 100.0 - 90.0) for c_lon, c_lat in P.CITIES
]


def page_window(seed: int, stream: int) -> int:
    """First row id of the window for (seed, stream); streams of one
    seed never overlap (each is < 1M rows wide)."""
    return (1 + (seed * 7 + stream) % _WINDOWS) * _WINDOW_STRIDE + stream * 1_000_000


def pages_sql(start: int, n: int) -> str:
    """DuckDB query for generator rows [start, start + n): the pages
    table's columns plus the centi-degree coordinates."""
    sub = P.sql_pages_subquery(n, "duckdb")
    marker = f"FROM range({n}))"
    if sub.count(marker) != 1:
        raise RuntimeError("unexpected shape of sql_pages_subquery")
    sub = sub.replace(marker, f"FROM range({start}, {start + n}))")
    return (
        "SELECT url, ts_sec, text, lang, lat_centi, lon_centi, "
        "'<html><head><title>p' || split_part(url, '/p/', 2) || "
        "'</title></head><body><p>' || text || '</p></body></html>' AS html "
        f"FROM {sub}"
    )


def page_arrays(con: duckdb.DuckDBPyConnection, start: int, n: int) -> dict:
    """The reference view of a page window: numpy columns, row order =
    row id order."""
    tbl = con.sql(pages_sql(start, n)).arrow()
    return {
        "url": tbl.column("url").to_numpy(zero_copy_only=False).astype(object),
        "ts_sec": tbl.column("ts_sec").to_numpy().astype(np.int64),
        "n_chars": np.array(
            [len(t) for t in tbl.column("text").to_pylist()], dtype=np.int64
        ),
        "lat_centi": tbl.column("lat_centi").to_numpy().astype(np.int64),
        "lon_centi": tbl.column("lon_centi").to_numpy().astype(np.int64),
    }


def write_pages(con, start: int, n: int, path: str, files: int) -> int:
    """Write generator rows [start, start+n) as the engine's stored
    pages table (url, warc_ts, html, text, lang) in ``files`` files.
    Returns the bytes written."""
    tbl = con.sql(pages_sql(start, n)).arrow()
    out = pa.table(
        {
            "url": tbl.column("url"),
            "warc_ts": pa.compute.cast(
                pa.compute.multiply(tbl.column("ts_sec").cast(pa.int64()), 1_000_000),
                pa.int64(),
            ).cast(pa.timestamp("us", tz="UTC")),
            "html": tbl.column("html").cast(pa.binary()),
            "text": tbl.column("text"),
            "lang": tbl.column("lang"),
        }
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-n // files)
    for k in range(files):
        pq.write_table(out.slice(k * step, step), os.path.join(tmp, f"part-{k:03d}.parquet"))
    os.replace(tmp, path)
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# polygons, AOIs and query points
# ---------------------------------------------------------------------------

def _ellipse_ring(rng, cx, cy, rx, ry, k) -> list[tuple[float, float]]:
    """Convex ring: k points at sorted random angles on an ellipse."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
    return [(float(cx + rx * np.cos(a)), float(cy + ry * np.sin(a))) for a in ang]


def _page_like_center(rng, spread: float) -> tuple[float, float]:
    """40% near a city hotspot, 60% uniform over the pages' extent."""
    if rng.random() < 0.4:
        lon, lat = CITIES_LONLAT[int(rng.integers(3))]
        return lon + rng.normal(0, spread), lat + rng.normal(0, spread)
    return rng.uniform(-170.0, 170.0), rng.uniform(-55.0, 55.0)


def convex_layer(rng, n: int, radius: float) -> list[tuple[int, list]]:
    """``n`` convex polygons, each an ellipse ring of 5-8 vertices with
    semi-axes in [0.6, 1.0] x ``radius`` degrees."""
    out = []
    for pid in range(1, n + 1):
        cx, cy = _page_like_center(rng, 1.5)
        rx, ry = rng.uniform(0.6, 1.0, 2) * radius
        out.append((pid, _ellipse_ring(rng, cx, cy, rx, ry, int(rng.integers(5, 9)))))
    return out


def _wkt_ring(ring) -> str:
    pts = list(ring) + [ring[0]]
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"


def aoi(rng) -> tuple[str, dict]:
    """A small holed polygon or a two-part multipolygon near a hotspot,
    as WKT plus its rings for the reference."""
    lon, lat = CITIES_LONLAT[int(rng.integers(3))]
    cx, cy = lon + rng.normal(0, 0.3), lat + rng.normal(0, 0.3)
    if rng.random() < 0.5:
        outer = _ellipse_ring(rng, cx, cy, *rng.uniform(0.6, 1.0, 2), 10)
        hole = _ellipse_ring(rng, cx, cy, *rng.uniform(0.15, 0.35, 2), 6)
        wkt = f"POLYGON ({_wkt_ring(outer)}, {_wkt_ring(hole[::-1])})"
        return wkt, {"rings": [outer, hole]}
    a = _ellipse_ring(rng, cx - 0.5, cy, *rng.uniform(0.2, 0.45, 2), 7)
    b = _ellipse_ring(rng, cx + 0.5, cy + 0.2, *rng.uniform(0.2, 0.45, 2), 7)
    wkt = f"MULTIPOLYGON (({_wkt_ring(a)}), ({_wkt_ring(b)}))"
    return wkt, {"rings": [a, b]}


# 5th-neighbour distance band (centi-degrees) of the sparse kNN picks:
# about the densest tenth of background query points over the aoi_query
# base snapshot, so every seed's sparse points need the same ring
# escalation (one step), and none needs a costlier round than the others
SPARSE_KTH_CENTI = (25.0, 34.0)


def _kth_dist_centi(pages: dict, lat_q: int, lon_q: int, k: int) -> float:
    dlon = np.abs(pages["lon_centi"] - lon_q)
    dlon = np.minimum(dlon, 36000 - dlon)
    d2 = (pages["lat_centi"] - lat_q) ** 2 + dlon ** 2
    return float(np.sqrt(np.partition(d2, k - 1)[k - 1]))


def knn_points(rng, pages: dict, k: int = 5) -> list[tuple[int, int, int]]:
    """Five (query_id, lat_centi, lon_centi) points at jittered page
    locations, always in the same mix: two in a city hotspot, two in the
    sparser background and one within 1 degree of ±180°, where
    neighbours wrap across the antimeridian.  The background and
    antimeridian points are drawn until their k-th neighbour lies in
    ``SPARSE_KTH_CENTI``."""
    lon, lat = pages["lon_centi"], pages["lat_centi"]
    near_city = np.zeros(len(lon), dtype=bool)
    for c_lon, c_lat in P.CITIES:
        near_city |= (np.abs(lon - c_lon) <= 100) & (np.abs(lat - c_lat) <= 100)
    edge = np.nonzero(((lon < 100) | (lon >= 35900)) & ~near_city)[0]
    background = np.nonzero(~near_city)[0]

    def jitter(i):
        return int(lat[i] + rng.integers(-40, 41)), int((lon[i] + rng.integers(-40, 41)) % 36000)

    def sparse(pool):
        lo, hi = SPARSE_KTH_CENTI
        for _ in range(1000):
            q = jitter(int(pool[rng.integers(len(pool))]))
            if lo <= _kth_dist_centi(pages, *q, k) <= hi:
                return q
        raise RuntimeError("no query point in the sparse distance band")

    pts = [sparse(edge)]
    pts += [jitter(int(i)) for i in rng.choice(np.nonzero(near_city)[0], 2)]
    pts += [sparse(background) for _ in range(2)]
    return [(q + 1, la, lo) for q, (la, lo) in enumerate(pts)]


def bbox(rng, pages: dict, half: int = 250) -> tuple[int, int, int, int]:
    """(lon_lo, lon_hi, lat_lo, lat_hi) centi-degrees: a 5 x 5 degree box
    around a random page."""
    i = int(rng.integers(len(pages["url"])))
    lon, lat = int(pages["lon_centi"][i]), int(pages["lat_centi"][i])
    return lon - half, lon + half, lat - half, lat + half


def sample_pts(rng, pages: dict, n: int) -> list[tuple[int, float, float]]:
    """(id, lon, lat) in degrees: mostly near pages, a few far away."""
    out = []
    for k in range(n):
        if k % 5 == 4:
            out.append((k + 1, float(rng.uniform(-179, 179)), float(rng.uniform(-89, 89))))
            continue
        i = int(rng.integers(len(pages["url"])))
        out.append((
            k + 1,
            float(pages["lon_centi"][i] / 100.0 - 180.0 + rng.uniform(-0.3, 0.3)),
            float(pages["lat_centi"][i] / 100.0 - 90.0 + rng.uniform(-0.3, 0.3)),
        ))
    return out


# ---------------------------------------------------------------------------
# near-duplicate document shards
# ---------------------------------------------------------------------------

def vocabulary(rng, size: int) -> np.ndarray:
    """``size`` random lowercase words of 3-9 letters."""
    lens = rng.integers(3, 10, size)
    letters = rng.integers(97, 123, (size, 9), dtype=np.uint8)
    return np.array(
        [letters[i, : lens[i]].tobytes().decode() for i in range(size)], dtype=object
    )


def zipf_cdf(size: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return np.cumsum(w / w.sum())


def _draw(rng, cdf: np.ndarray, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)


def _mutate(rng, cdf, toks: np.ndarray, rate: float) -> np.ndarray:
    out = toks.copy()
    hit = np.nonzero(rng.random(len(out)) < rate)[0]
    out[hit] = _draw(rng, cdf, len(hit))
    return out


def doc_shard(rng, vocab: np.ndarray, cdf: np.ndarray, n: int, id0: int):
    """One shard of ``n`` documents with Zipf tokens: ~5% are planted
    near-copies of an earlier document (6-25% of tokens replaced) and
    ~2% are near-copies of one template (a hot LSH bucket).  Returns
    (ids, texts, planted (id_a, id_b) pairs)."""
    n_hot = max(2, n // 50)
    n_dup = n // 20
    n_base = n - n_hot - n_dup
    lens = rng.integers(40, 120, n_base)
    flat = _draw(rng, cdf, int(lens.sum()))
    docs = np.split(flat, np.cumsum(lens)[:-1])
    planted = []
    # replacement rates evenly spread over the range, so every shard has
    # the same mix of easy and borderline pairs
    for rate in rng.permutation(np.linspace(0.06, 0.25, n_dup)):
        src = int(rng.integers(n_base))
        docs.append(_mutate(rng, cdf, docs[src], float(rate)))
        planted.append((src, len(docs) - 1))
    template = _draw(rng, cdf, 80)
    docs += [_mutate(rng, cdf, template, 0.04) for _ in range(n_hot)]
    order = rng.permutation(len(docs))
    pos = np.empty(len(docs), dtype=np.int64)
    pos[order] = np.arange(len(docs))
    ids = id0 + np.arange(len(docs), dtype=np.int64)
    texts = [" ".join(vocab[docs[j]]) for j in order]
    pairs = [tuple(sorted((int(ids[pos[a]]), int(ids[pos[b]])))) for a, b in planted]
    return ids, texts, pairs
