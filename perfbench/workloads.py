"""The workloads and the op kinds they cycle through.  Each workload is
a closed loop with one client.

A workload prepares its raw inputs and reference answers bench-side
(``prepare``, cached per seed, never timed), builds any engine-side
layout (``layout``, timed into ``setup_s``), then runs operations
(``op``) that the harness times one by one and checks against the
reference (``check``).  With tracing on, ``op`` also materialises each
layer's output to a ``noop`` sink inside its own span, so a layer's
self time is its span minus the span of the prefix it consumes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from eodal_spark import geometry
from eodal_spark.operators import dedup as D
from eodal_spark.operators import knn as KNN
from eodal_spark.operators import spatial_join as SJ
from eodal_spark.operators import tiling as TIL
from eodal_spark.operators import zonal as Z
from eodal_spark.plans import metrics as M
from eodal_spark.sources import pages as P
from eodal_spark.sources.catalog import SnapshotCatalog

from perfbench import inputs
from perfbench import reference as R
from perfbench.harness import dur, task_skew

RES, JOIN_RES, TILE_RES = R.RES, R.JOIN_RES, R.TILE_RES
GEO_COLS = ("url", "warc_ts", "lang", "lat_centi", "lon_centi", "lat", "lon", "cell_id")


def sink(df, *fields, collect=None) -> dict:
    """Materialise ``df`` to a ``noop`` sink.  An ``Observation`` on the
    same action returns the row count, the Σ crc32 of the ``|``-joined
    ``fields`` (non-null string columns) and, if asked, a small
    collected column; no second job runs."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if fields:
        key = F.concat_ws("|", *[F.col(f).cast("string") if isinstance(f, str) else f
                                 for f in fields])
        aggs.append(F.sum(F.crc32(key.cast("binary"))).alias("h"))
    if collect is not None:
        aggs.append(F.collect_list(collect).alias("rows"))
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def fp(m: dict) -> tuple[int, int]:
    return int(m["n"]), int(m.get("h") or 0)


def geocoded(pages_df):
    """The stored geocoded-pages projection the catalog workloads use."""
    geo = P.geocode(pages_df, RES)
    return geo.select(*GEO_COLS, F.length("text_extracted").alias("n_chars"))


class Workload:
    name = ""
    KINDS: tuple[str, ...] = ()  # op kinds, run in this order as one cycle
    ROWS: dict[str, int] = {}  # input rows one op of a kind consumes

    def __init__(self, spark, seed: int, cache: str, scratch: str, tracer):
        self.spark = spark
        self.seed = seed
        self.cache = cache
        self.scratch = scratch
        self.tr = tracer
        self.con = duckdb.connect(config={"temp_directory": os.path.join(scratch, "duckdb")})
        self.info: dict = {}  # run facts printed in the report line

    def kind(self, i: int) -> str:
        return self.KINDS[i % len(self.KINDS)]

    def rng(self, *key):
        return np.random.default_rng([self.seed, *key])

    def cached_pages(self, name: str, stream: int, n: int, files: int = 8) -> str:
        path = os.path.join(self.cache, name)
        if not os.path.exists(path):
            inputs.write_pages(self.con, inputs.page_window(self.seed, stream), n, path, files)
        return path

    def cached_json(self, name: str, make):
        path = os.path.join(self.cache, name)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        val = make()
        with open(path + ".tmp", "w") as f:
            json.dump(val, f)
        os.replace(path + ".tmp", path)
        return val

    def prepare(self) -> None: ...
    def layout(self, rep: int) -> None: ...
    def before_op(self, i: int) -> None: ...
    def after_op(self, i: int) -> None: ...
    def op(self, i: int): raise NotImplementedError
    def check(self, i: int, result) -> bool: raise NotImplementedError

    def finish(self) -> bool:
        """End-of-run check; False fails the run."""
        return True

    def recall(self) -> float:
        """Share of the reference answer the engine returned (1.0 for
        the exact workloads, whose ops are checked one by one)."""
        return 1.0

    def layer_metrics(self, i: int, ev) -> dict:
        """Per-layer metrics of traced op ``i``."""
        return {}

    def span_tasks(self, ev, i: int, name: str):
        s = self.tr.op_spans(i).get(name)
        return ev.tasks_in(spans={s["id"]}) if s else []

    def span_jobs(self, ev, i: int, name: str) -> int:
        s = self.tr.op_spans(i).get(name)
        return len(ev.jobs_in(span=s["id"])) if s else 0

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------


class TileJob(Workload):
    """scan → geocode → centroid spatial join (broadcast) → assign_tiles
    → mosaic_dedup → noop, over the same stored pages every op."""

    N_PAGES = 120_000
    KINDS = ("tile",)
    ROWS = {"tile": N_PAGES}
    N_POLYS = 1_000
    POLY_RADIUS = 1.4  # degrees; keeps the cover well below 8,192 cells

    def prepare(self):
        self.path = self.cached_pages("pages", 0, self.N_PAGES)
        self.polys = inputs.convex_layer(self.rng(1), self.N_POLYS, self.POLY_RADIUS)

        def ref():
            pages = inputs.page_arrays(self.con, inputs.page_window(self.seed, 0), self.N_PAGES)
            return list(R.tile_batch(self.con, pages, self.polys))

        self.expected = tuple(self.cached_json("tile_batch_ref.json", ref))
        # polygon_cover_cells builds a literal VALUES relation up to this
        # many cells and an RDD-backed one above: stay clearly on one side
        n = R.cover_cells(self.polys, JOIN_RES)
        limit = getattr(geometry, "_COVER_VALUES_MAX_ROWS", 8192)
        if not (n <= limit // 2 or n >= limit * 2):
            raise RuntimeError(f"cover of {n} cells is too close to the {limit}-row branch")
        self.info["cover_cells"] = n
        self.info["cover_path"] = "values" if n <= limit else "createDataFrame"

    def layout(self, rep):
        self.layer = geometry.polygons_df(self.spark, self.polys)

    def op(self, i):
        tr = self.tr
        pages = self.spark.read.parquet(self.path)
        if tr.on:
            with tr.span("pages.scan"):
                sink(pages)
        geo = P.geocode(pages, RES)
        if tr.on:
            with tr.span("pages.geocode"):
                sink(geo)
            with tr.span("geometry.cover"):
                cover = geometry.polygon_cover_cells(self.layer, JOIN_RES)
            self.trace_cover_cells = int(sink(cover)["n"])
        with tr.span("spatial_join.call"):
            joined = SJ.spatial_join(
                geo, self.layer, JOIN_RES, rule="centroid",
                page_cols=("url", "warc_ts", "cell_id"), page_res=RES,
            )
        if tr.on:
            with tr.span("spatial_join"):
                self.trace_join_rows = int(sink(joined)["n"])
        tiled = TIL.assign_tiles(joined, RES, TILE_RES)
        if tr.on:
            with tr.span("tiling.assign"):
                sink(tiled)
        out = TIL.mosaic_dedup(tiled, keys=("cell_id", "ts_bucket"))
        with tr.span("tiling.dedup"):
            return fp(sink(out, "cell_id", "ts_bucket", "url", "poly_id", "tile_id"))

    def check(self, i, result):
        return result == self.expected

    def layer_metrics(self, i, ev):
        s = self.tr.op_spans(i)
        join_rows = self.trace_join_rows
        dedup_tasks = self.span_tasks(ev, i, "tiling.dedup")
        return {
            "pages.scan_s": dur(s["pages.scan"]),
            "pages.geocode_s": dur(s["pages.geocode"]) - dur(s["pages.scan"]),
            "geometry.cover_s": dur(s["geometry.cover"]),
            "geometry.cover_cells": self.trace_cover_cells,
            "geometry.cover_jobs": self.span_jobs(ev, i, "geometry.cover"),
            "spatial_join.self_s": dur(s["spatial_join.call"]) + dur(s["spatial_join"])
            - dur(s["pages.geocode"]),
            "spatial_join.candidate_rows": join_rows,  # centroid rule: no refine stage
            "spatial_join.output_rows": join_rows,
            "spatial_join.refine_yield": 1.0,
            "spatial_join.shuffle_bytes": sum(
                t["shuffle_write"] for t in self.span_tasks(ev, i, "spatial_join")),
            "spatial_join.decide_jobs": self.span_jobs(ev, i, "spatial_join.call"),
            "tiling.assign_s": dur(s["tiling.assign"]) - dur(s["spatial_join"]),
            "tiling.dedup_s": dur(s["tiling.dedup"]) - dur(s["tiling.assign"]),
            "tiling.dedup_shuffle_bytes": sum(t["shuffle_write"] for t in dedup_tasks),
            "tiling.dedup_spill_bytes": sum(t["spill"] for t in dedup_tasks),
            "tiling.dedup_task_skew": task_skew(dedup_tasks),
            "tiling.dedup_yield": self.expected[0] / max(join_rows, 1),
        }


# ---------------------------------------------------------------------------


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> list[tuple[str, int]]:
    """Files created or rewritten between two tree states."""
    return [(p, v[0]) for p, v in after.items() if before.get(p) != v]


class AoiQuery(Workload):
    """A live cell-sorted snapshot: in a fixed seeded mix, one op appends
    a fresh geocoded batch the way ``scripts/run_pipeline.py`` does
    (append commit, stage metrics, ``read_changes`` of the new snapshot,
    then a binpack compaction of the small files), and the other ops are
    analyst queries: bbox scan, kNN, exact AOI join + zonal stats and
    point sampling, each with fresh seeded parameters."""

    name = "aoi_query"
    N_BASE = 50_000
    N_BATCH = 10_000
    KINDS = ("append", "bbox_scan", "knn", "aoi_zonal", "sample_points")
    ROWS = {"append": N_BATCH}
    TARGET_FILE_BYTES = 8 << 20

    def prepare(self):
        self.base_path = self.cached_pages("base", 0, self.N_BASE)
        self.pages = inputs.page_arrays(self.con, inputs.page_window(self.seed, 0), self.N_BASE)
        self.acked = [R.url_fingerprint(self.pages["url"])]
        self.input_bytes = self.bytes_written = 0
        self.commit_times: dict[int, float] = {}

    def layout(self, rep):
        self.wh = os.path.join(self.scratch, f"warehouse{rep}")
        self.cat = SnapshotCatalog(self.wh)
        self.cat.write(geocoded(self.spark.read.parquet(self.base_path)), "pages",
                       sort_by=("cell_id",))
        if rep:
            shutil.rmtree(os.path.join(self.scratch, f"warehouse{rep - 1}"))
        self.metrics_dir = os.path.join(self.wh, "_metrics")
        os.makedirs(self.metrics_dir, exist_ok=True)
        self.state = tree_state(self.wh)

    def before_op(self, i):
        if self.kind(i) != "append":
            return
        j = i // len(self.KINDS)  # append number; each reads its own generator window
        self.batch_path = self.cached_pages(f"batch{j:03d}", 1 + j, self.N_BATCH, files=2)
        self.batch_pages = inputs.page_arrays(
            self.con, inputs.page_window(self.seed, 1 + j), self.N_BATCH)
        self.input_bytes += inputs.dir_bytes(self.batch_path)

    def after_op(self, i):
        state = tree_state(self.wh)
        self.bytes_written += sum(size for _, size in written(self.state, state))
        self.state = state

    def op(self, i):
        return getattr(self, "op_" + self.kind(i))(i, self.rng(2, i))

    def op_append(self, i, rng):
        tr, spark, cat = self.tr, self.spark, self.cat
        t0 = time.time()
        prev = cat.current_snapshot("pages")["snapshot_id"]
        batch = spark.read.parquet(self.batch_path)
        if tr.on:
            with tr.span("pages.scan"):
                sink(batch)
        geo = geocoded(batch)
        if tr.on:
            with tr.span("pages.geocode"):
                sink(geo)
            pre = tree_state(self.wh)
        with tr.span("catalog.commit"):
            cat.write(geo, "pages", mode="append", sort_by=("cell_id",))
        self.commit_times[i] = time.time() - t0
        # the commit is acknowledged: later queries must see these rows
        self.pages = {k: np.concatenate([v, self.batch_pages[k]]) for k, v in self.pages.items()}
        self.acked.append(R.url_fingerprint(self.batch_pages["url"]))
        if tr.on:
            self.trace_commit = written(pre, tree_state(self.wh))
        new = cat.current_snapshot("pages")["snapshot_id"]
        with tr.span("plans.metrics"):
            M.append_stage_metrics(geo, f"batch{i}", self.metrics_dir)
        res = fp(sink(cat.read_changes(spark, "pages", prev, new), "url"))
        if tr.on:
            pre = tree_state(self.wh)
        with tr.span("catalog.compact"):
            cat.compact(spark, "pages", target_file_bytes=self.TARGET_FILE_BYTES)
        if tr.on:
            self.trace_compact = written(pre, tree_state(self.wh))
        return res

    def op_knn(self, i, rng):
        qs = inputs.knn_points(rng, self.pages, 5)
        self.last = qs
        q = self.spark.createDataFrame(pd.DataFrame(qs, columns=["query_id", "lat_centi", "lon_centi"]))
        with self.tr.span("knn"):
            out = KNN.knn(q, self.cat.read(self.spark, "pages"), RES, k=5)
            res = fp(sink(out, "query_id", "url", "sqdist", "rank"))
        KNN.release_caches()
        return res

    def op_aoi_zonal(self, i, rng):
        tr, spark = self.tr, self.spark
        wkt, shape = inputs.aoi(rng)
        self.last = shape
        layer = geometry.polygons_df(spark, [(1, wkt)])
        pages = self.cat.read(spark, "pages")
        if tr.on:
            with tr.span("geometry.cover"):
                cover = geometry.polygon_cover_cells(layer, JOIN_RES, mode="bbox")
            cells = [r[0] for r in cover.select("cell_id").collect()]
            px, py = R.cell_xy_centi(self.pages["lon_centi"], self.pages["lat_centi"], JOIN_RES)
            self.trace_cover = (len(cells), int(np.isin(R.pack(px, py, JOIN_RES), cells).sum()))
        with tr.span("spatial_join.call"):
            joined = SJ.spatial_join(pages, layer, JOIN_RES, rule="exact",
                                     page_cols=("url", "n_chars"), page_res=RES)
        if tr.on:
            with tr.span("spatial_join"):
                self.trace_join_rows = int(sink(joined)["n"])
        with tr.span("zonal"):
            rows = Z.zonal_stats(joined, "n_chars",
                                 stats=("count", "min", "max", "sum", "median")).collect()
        return [r.asDict() for r in rows]

    def op_bbox_scan(self, i, rng):
        tr, spark, cat = self.tr, self.spark, self.cat
        box = inputs.bbox(rng, self.pages)
        self.last = box
        with tr.span("catalog.scan"):
            df = cat.scan(spark, "pages", ranges={"lon_centi": box[:2], "lat_centi": box[2:]})
            res = fp(sink(df, "url", "cell_id"))
        if tr.on:
            self.trace_files = (len(df.inputFiles()), len(cat.read(spark, "pages").inputFiles()))
        return res

    def op_sample_points(self, i, rng):
        pts = inputs.sample_pts(rng, self.pages, 20)
        self.last = pts
        p = self.spark.createDataFrame(pd.DataFrame(pts, columns=["id", "lon", "lat"]))
        out = SJ.sample_points(p, self.cat.read(self.spark, "pages"), JOIN_RES, ("url",),
                               "left", page_res=RES)
        return fp(sink(out, "id", F.coalesce(F.col("url"), F.lit(""))))

    def check(self, i, result):
        kind = self.kind(i)
        if kind == "append":
            return result == self.acked[-1]
        if kind == "knn":
            return result == R.knn(self.pages, self.last, 5)
        if kind == "aoi_zonal":
            want = R.aoi_zonal(self.pages, self.last["rings"])
            if not want:
                return result == []
            return len(result) == 1 and all(
                float(result[0][k]) == float(v) for k, v in want.items())
        if kind == "bbox_scan":
            return result == R.bbox_scan(self.pages, self.last)
        return result == R.sample_points(self.pages, self.last)

    def finish(self):
        """A fresh catalog on the same warehouse reads back exactly the
        base rows plus every acknowledged append."""
        fresh = SnapshotCatalog(self.wh)
        got = fp(sink(fresh.read(self.spark, "pages"), "url"))
        want = (sum(n for n, _ in self.acked), sum(h for _, h in self.acked))
        self.info["readback_rows"] = got[0]
        return got == want

    def layer_metrics(self, i, ev):
        s = self.tr.op_spans(i)
        kind = self.kind(i)
        n_rows = len(self.pages["url"])
        if kind == "append":
            out = {
                "pages.scan_s": dur(s["pages.scan"]),
                "pages.geocode_s": dur(s["pages.geocode"]) - dur(s["pages.scan"]),
                "catalog.commit_s": dur(s["catalog.commit"]),
                "catalog.bytes_written": sum(n for _, n in self.trace_commit),
                "catalog.manifest_bytes": sum(n for p, n in self.trace_commit
                                              if not p.endswith(".parquet")),
                "catalog.files_per_commit": sum(p.endswith(".parquet")
                                                for p, _ in self.trace_commit),
                "plans.metrics_s": dur(s["plans.metrics"]),
                "plans.metrics_jobs": self.span_jobs(ev, i, "plans.metrics"),
            }
            out["catalog.compact_s"] = dur(s["catalog.compact"])
            out["catalog.compact_bytes_rewritten"] = sum(n for _, n in self.trace_compact)
            return out
        if kind == "knn":
            read = sum(t["records_read"] for t in self.span_tasks(ev, i, "knn"))
            return {
                "knn.call_s": dur(s["knn"]),
                "knn.jobs_per_call": self.span_jobs(ev, i, "knn"),
                "knn.rows_scanned_per_query": read / len(self.last),
                "knn.full_scans_per_call": read / n_rows,
            }
        if kind == "aoi_zonal":
            cells, candidates = self.trace_cover
            out = self.trace_join_rows
            return {
                "geometry.cover_s": dur(s["geometry.cover"]),
                "geometry.cover_cells": cells,
                "geometry.cover_jobs": self.span_jobs(ev, i, "geometry.cover"),
                "spatial_join.self_s": dur(s["spatial_join.call"]) + dur(s["spatial_join"]),
                "spatial_join.candidate_rows": candidates,
                "spatial_join.output_rows": out,
                "spatial_join.refine_yield": out / max(candidates, 1),
                "spatial_join.shuffle_bytes": sum(
                    t["shuffle_write"] for t in self.span_tasks(ev, i, "spatial_join")),
                "spatial_join.decide_jobs": self.span_jobs(ev, i, "spatial_join.call"),
                "zonal.self_s": dur(s["zonal"]) - dur(s["spatial_join"]),
            }
        if kind == "bbox_scan":
            kept, total = self.trace_files
            read = sum(t["records_read"] for t in self.span_tasks(ev, i, "catalog.scan"))
            return {
                "catalog.scan_s": dur(s["catalog.scan"]),
                "catalog.files_kept_ratio": kept / max(total, 1),
                "catalog.rows_read_ratio": read / n_rows,
            }
        return {}


# ---------------------------------------------------------------------------


class NearDupJob(Workload):
    """minhash_dedup(threshold_milli=500) → noop over a fresh seeded
    shard per op."""

    N_DOCS = 1_000
    VOCAB = 100_000
    THRESHOLD = 500
    KINDS = ("near_dup",)
    ROWS = {"near_dup": N_DOCS}

    def prepare(self):
        self.vocab = inputs.vocabulary(self.rng(3), self.VOCAB)
        self.cdf = inputs.zipf_cdf(self.VOCAB)
        self.found = self.planted = 0

    def shard(self, i):
        path = os.path.join(self.cache, f"shard{i:03d}.parquet")
        meta = path + ".json"
        if not os.path.exists(meta):
            ids, texts, pairs = inputs.doc_shard(
                self.rng(4, i), self.vocab, self.cdf, self.N_DOCS, (i + 1) * 1_000_000)
            pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)
            with open(meta + ".tmp", "w") as f:
                json.dump(pairs, f)
            os.replace(meta + ".tmp", meta)
        with open(meta) as f:
            pairs = [tuple(p) for p in json.load(f)]
        texts = dict(zip(*pq.read_table(path).to_pydict().values()))
        return path, texts, pairs

    def before_op(self, i):
        self.path_i, self.texts_i, self.pairs_i = self.shard(i)

    def op(self, i):
        tr = self.tr
        docs = self.spark.read.parquet(self.path_i)
        out = D.minhash_dedup(docs, "text", "doc_id", threshold_milli=self.THRESHOLD)
        with tr.span("dedup.minhash"):
            m = sink(out, collect=F.struct("id_a", "id_b"))
        if tr.on:
            sigs = D.minhash_signatures(docs, "text", "doc_id", 64, 5)
            with tr.span("dedup.signatures"):
                sink(sigs)
            self.trace_candidates = int(sink(D.minhash_lsh_candidates(sigs, 16, 4))["n"])
            bands = Counter()
            for r in sigs.collect():
                for b in range(16):
                    bands[(b, tuple(r["sig"][4 * b:4 * b + 4]))] += 1
            self.trace_max_bucket = max(bands.values())
        pairs = sorted((int(r[0]), int(r[1])) for r in m["rows"])
        self.trace_verified = len(pairs)
        return pairs

    def check(self, i, result):
        got = set(result)
        if len(got) != len(result):
            return False
        if not all(R.jaccard_milli_ok(self.texts_i[a], self.texts_i[b], self.THRESHOLD)
                   for a, b in got):
            return False
        truth = [p for p in self.pairs_i
                 if R.jaccard_milli_ok(self.texts_i[p[0]], self.texts_i[p[1]], self.THRESHOLD)]
        self.planted += len(truth)
        self.found += sum(p in got for p in truth)
        return True

    def recall(self):
        return self.found / max(self.planted, 1)

    def layer_metrics(self, i, ev):
        s = self.tr.op_spans(i)
        tasks = self.span_tasks(ev, i, "dedup.minhash")
        verified = self.trace_verified
        return {
            "dedup.signatures_s": dur(s["dedup.signatures"]),
            "dedup.bucket_verify_s": dur(s["dedup.minhash"]) - dur(s["dedup.signatures"]),
            "dedup.candidate_pairs": self.trace_candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / max(self.trace_candidates, 1),
            "dedup.bucket_task_skew": task_skew(tasks),
            "dedup.max_bucket_members": self.trace_max_bucket,
            "dedup.shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        }


class Mix(Workload):
    """A workload whose cycle runs one op of each part in turn; every
    call is delegated to the part that owns the op's kind."""

    PARTS: tuple[type, ...] = ()

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [p(*args) for p in self.PARTS]
        self.KINDS = tuple(k for p in self.parts for k in p.KINDS)
        self.ROWS = {k: v for p in self.parts for k, v in p.ROWS.items()}
        self.by_kind = {k: p for p in self.parts for k in p.KINDS}
        self.info = {}
        for p in self.parts:  # one shared dict of run facts
            p.info = self.info

    def part(self, i: int) -> Workload:
        return self.by_kind[self.kind(i)]

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def layout(self, rep):
        for p in self.parts:
            p.layout(rep)

    def before_op(self, i):
        self.part(i).before_op(i)

    def after_op(self, i):
        self.part(i).after_op(i)

    def op(self, i):
        return self.part(i).op(i)

    def check(self, i, result):
        return self.part(i).check(i, result)

    def layer_metrics(self, i, ev):
        return self.part(i).layer_metrics(i, ev)

    def finish(self):
        return all([p.finish() for p in self.parts])

    def recall(self):
        return min(p.recall() for p in self.parts)

    def close(self):
        for p in self.parts:
            p.close()
        super().close()


class TileBatch(Mix):
    """The batch jobs: the north-rule tile mosaic job and a near-duplicate
    pass over a fresh document shard, alternating."""

    name = "tile_batch"
    PARTS = (TileJob, NearDupJob)


WORKLOADS = {w.name: w for w in (TileBatch, AoiQuery)}
