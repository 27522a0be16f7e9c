"""The benchmark's workloads: seeded inputs, ops and reference checks.

A workload builds and caches its inputs when it is constructed. Its
``ops()`` returns one pass: a list of ``Op``, each a call into the
public ``geokit_spark`` API that returns a small collected result, and
a check that compares that result with a reference computed here,
outside the program. A check raises ``Mismatch`` on a wrong output.
References are computed on first use and kept for the run.
"""

from __future__ import annotations

import os
import shutil
import zlib
from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from geokit_spark import fixtures
from geokit_spark.constants import (
    GRID_INV_X, GRID_INV_Y, GRID_N, PIX_DX, PIX_DY, RASTER_H, RASTER_W, XMIN, YMAX, YMIN,
)
from geokit_spark.functions.geo import cell_cols, grid_cell_id, with_geocode
from geokit_spark.kernels.geocode import geocode
from geokit_spark.kernels.pip import points_in_poly
from geokit_spark.kernels.raster_fields import pixel_center
from geokit_spark.operators import components, spatial_join, warp, zonal
from geokit_spark.operators import extract_values as ev
from geokit_spark.operators.dedup import LEN_BAND, MH_A, MH_B, MH_PRIME, simhash_near_pairs
from geokit_spark.operators.knn import knn
from geokit_spark.operators.pipeline import corpus_funnel
from geokit_spark.operators.quality import MIN_WORDS
from geokit_spark.operators.similarity import ann_topk_bucketed, suggest_n_planes
from geokit_spark.operators.webgraph import DAMP_DEN, DAMP_NUM, PR_BASE, PR_SCALE, pagerank
from geokit_spark.oracle.sqlgen import cell_exprs
from geokit_spark.plans.lineage import CheckpointTable
from geokit_spark.sources.pages import extract_text, pages_from_docs


class Mismatch(AssertionError):
    """An op's output differs from the reference."""


def expect(ok: bool, what: str):
    if not ok:
        raise Mismatch(what)


@dataclass
class Op:
    name: str
    call: Callable[[], Any]
    check: Callable[[Any], None]
    # runs after the check, outside the op's timing
    cleanup: Callable[[], None] | None = None


def _parts(spark: SparkSession) -> int:
    """Input partitions: one per core of local[N]."""
    return spark.sparkContext.defaultParallelism


def _cache(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


class Points:
    """Point arrays sorted by longitude, for polygon membership tests
    that only look inside each polygon's bounding box."""

    def __init__(self, lon: np.ndarray, lat: np.ndarray):
        self.lon, self.lat = lon, lat
        self.order = np.argsort(lon, kind="stable")
        self.sorted_lon = lon[self.order]

    def inside(self, verts) -> np.ndarray:
        """Indices of the points inside polygon ``verts``."""
        xs = [v[0] for v in verts]
        ys = [v[1] for v in verts]
        lo = np.searchsorted(self.sorted_lon, min(xs), "left")
        hi = np.searchsorted(self.sorted_lon, max(xs), "right")
        cand = self.order[lo:hi]
        cand = cand[(self.lat[cand] >= min(ys)) & (self.lat[cand] <= max(ys))]
        return cand[points_in_poly(self.lon[cand], self.lat[cand], verts)]


# ------------------------------------------------------------------ geo_raster


class GeoRaster:
    """Geocoded pages with the engine's urban hot-spot, plus a seeded
    land-cover tile raster. The only workload that writes."""

    params = gen.GEO_RASTER

    def __init__(self, spark: SparkSession, rng: np.random.Generator, work_dir: str):
        p = self.params
        self.spark = spark
        self.work_dir = work_dir
        n = p["n_pages"]
        self.off = gen.page_id_offset(rng, n)
        pages = spark.range(self.off, self.off + n, 1, _parts(spark))
        pages = with_geocode(pages.withColumnRenamed("id", "doc_id"))
        self.pages = _cache(pages.withColumn("cell_id", grid_cell_id(F.col("lon"), F.col("lat"))))
        self.raster = gen.land_cover(rng, p)
        tiles = gen.tiles_pdf(self.raster)
        self.tiles = _cache(spark.createDataFrame(
            tiles, "tile_x int, tile_y int, data array<double>, nodata double"
        ))
        self.input_rows = n + len(tiles)
        self._pass = 0

    def release(self):
        """Drop the cached inputs."""
        for df in (self.pages, self.tiles):
            df.unpersist(blocking=True)

    # -- references: numpy kernels, the DuckDB oracle's expressions, and
    #    a union-find written here

    @cached_property
    def ids(self) -> np.ndarray:
        return np.arange(self.off, self.off + self.params["n_pages"], dtype=np.int64)

    @cached_property
    def points(self) -> Points:
        return Points(*geocode(self.ids))

    @cached_property
    def ref_region(self) -> tuple[int, int]:
        inside = self.points.inside(fixtures.REGION_VERTS)
        return int(inside.size), int(self.ids[inside].sum())

    @cached_property
    def ref_zones(self) -> dict:
        sizes = {int(z["zone_id"]): self.points.inside(z["verts"]).size for z in fixtures.ZONES}
        return {z: n for z, n in sizes.items() if n}

    @cached_property
    def ref_knn(self) -> list:
        lon, lat, ids, k = self.points.lon, self.points.lat, self.ids, self.params["knn_k"]
        rows = []
        for q in fixtures.POINTS:
            dx = lon - q["lon"]
            dy = lat - q["lat"]
            d2 = dx * dx + dy * dy
            cand = np.argpartition(d2, k + 8)[: k + 8]
            best = sorted(zip(d2[cand], ids[cand]))[:k]
            rows += [(q["id"], r + 1, int(i), float(d)) for r, (d, i) in enumerate(best)]
        return sorted(rows)

    @cached_property
    def ref_cells(self) -> list:
        cx, cy = cell_exprs("lon", "lat")
        con = duckdb.connect()
        try:
            con.register("pts", pd.DataFrame({"lon": self.points.lon, "lat": self.points.lat}))
            return sorted(con.execute(
                f"SELECT {cx} AS cx, {cy} AS cy, COUNT(*) FROM pts GROUP BY 1, 2"
            ).fetchall())
        finally:
            con.close()

    @cached_property
    def ref_values(self) -> dict:
        lon, lat = self.points.lon, self.points.lat
        ix = np.floor((lon - XMIN) / PIX_DX).astype(np.int64)
        iy = np.floor((YMAX - lat) / PIX_DY).astype(np.int64)
        ok = (ix >= 0) & (ix < RASTER_W) & (iy >= 0) & (iy < RASTER_H)
        v, n = np.unique(self.raster[iy[ok], ix[ok]], return_counts=True)
        out = {float(a): int(b) for a, b in zip(v, n)}
        if (~ok).any():
            out[None] = int((~ok).sum())
        return out

    @cached_property
    def ref_zonal(self) -> dict:
        h, w = self.raster.shape
        gy, gx = np.mgrid[0:h, 0:w]
        pix = Points(*pixel_center(gx.ravel(), gy.ravel()))
        vals = self.raster.ravel()
        out = {}
        for z in fixtures.ZONES:
            v = vals[pix.inside(z["verts"])]
            if v.size:
                out[int(z["zone_id"])] = (v.size, float(v.sum()), float(v.min()), float(v.max()))
        return out

    @cached_property
    def ref_components(self) -> list:
        """(value, size) of every 4-connected same-value component."""
        m = self.raster
        h, w = m.shape
        idx = np.arange(h * w).reshape(h, w)
        right = m[:, :-1] == m[:, 1:]
        down = m[:-1, :] == m[1:, :]
        a = np.concatenate([idx[:, :-1][right], idx[:-1, :][down]])
        b = np.concatenate([idx[:, 1:][right], idx[1:, :][down]])
        parent = list(range(h * w))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(a.tolist(), b.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        roots = np.fromiter((find(i) for i in range(h * w)), np.int64, h * w)
        _, first, size = np.unique(roots, return_index=True, return_counts=True)
        return list(zip(m.ravel()[first].tolist(), size.tolist()))

    @cached_property
    def ref_scale_down(self) -> np.ndarray:
        k = self.params["scale_down_k"]
        h, w = self.raster.shape
        return np.sort(self.raster.reshape(h // k, k, w // k, k).mean(axis=(1, 3)).ravel())

    @cached_property
    def ref_grid_cells(self) -> int:
        lon, lat = self.points.lon, self.points.lat
        cx = np.clip(np.floor((lon - XMIN) * GRID_INV_X), 0, GRID_N - 1).astype(np.int64)
        cy = np.clip(np.floor((lat - YMIN) * GRID_INV_Y), 0, GRID_N - 1).astype(np.int64)
        return int(np.unique(cx * GRID_N + cy).size)

    # -- one pass

    def ops(self) -> list[Op]:
        spark, pages, tiles, p = self.spark, self.pages, self.tiles, self.params
        ids = pages.select("doc_id")
        self._pass += 1
        root = os.path.join(self.work_dir, f"lineage-{self._pass}")
        shutil.rmtree(root, ignore_errors=True)
        ckpt = CheckpointTable(spark, root)
        stage_work = pages.groupBy("cell_id").agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("id_sum")
        )

        def check_region(r):
            got = (int(r[0][0]), int(r[0][1] or 0))
            expect(got == self.ref_region, f"region {got}, reference {self.ref_region}")

        def check_zones(r):
            got = {int(x["zone_id"]): int(x["count"]) for x in r}
            expect(got == self.ref_zones, "zone counts differ")

        def check_knn(r):
            expect(sorted(tuple(x) for x in r) == self.ref_knn, "knn rows differ")

        def check_cells(r):
            expect(sorted(tuple(x) for x in r) == self.ref_cells, "cell counts differ")

        def check_values(r):
            expect({x[0]: int(x[1]) for x in r} == self.ref_values, "value counts differ")

        def check_zonal(r):
            got = {int(x["zone_id"]): (int(x["n_pix"]), float(x["sum_v"]),
                                       float(x["min_v"]), float(x["max_v"])) for x in r}
            expect(got == self.ref_zonal, "zonal stats differ")
            for x in r:
                n, s, _, _ = self.ref_zonal[int(x["zone_id"])]
                expect(abs(x["mean_v"] - s / n) <= 1e-9 * abs(s / n), "zonal mean")

        def check_sieve(r):
            # sieve only moves pixels of components below min_size into a
            # neighbour, so each value keeps at least its big components
            # and gains at most the small ones; the total is conserved
            got = dict(zip(r["value"].tolist(), r["n_pixels"].tolist()))
            expect(sum(got.values()) == self.raster.size, "sieve lost pixels")
            comp, min_size = self.ref_components, p["sieve_min_size"]
            small = sum(n for _, n in comp if n < min_size)
            for v in {v for v, _ in comp} | set(got):
                big = sum(n for w, n in comp if w == v and n >= min_size)
                expect(big <= got.get(v, 0) <= big + small, f"sieve total of value {v}")

        def check_scale(r):
            got = np.sort(np.array([x[0] for x in r]))
            expect(np.array_equal(got, self.ref_scale_down), "scale_down blocks differ")

        def check_write(r):
            expect(r == (self.ref_grid_cells,) * 2, f"run_stage wrote {r}")

        def check_resume(r):
            expect(r == (0, 0), f"resume processed {r}")

        def check_verify(r):
            expect(len(r) == self.ref_grid_cells and all(x["ok"] for x in r), "verify_stage")

        cx, cy = cell_cols(F.col("lon"), F.col("lat"))
        return [
            Op("spatial_join.docs_in_region",
               lambda: spatial_join.docs_in_region(spark, ids)
               .agg(F.count("*"), F.sum("doc_id")).collect(), check_region),
            Op("spatial_join.docs_join_zones",
               lambda: spatial_join.docs_join_zones(spark, ids)
               .groupBy("zone_id").count().collect(), check_zones),
            Op("knn", lambda: knn(spark, pages, k=p["knn_k"]).collect(), check_knn),
            Op("geo.cell_counts",
               lambda: pages.select(cx.alias("cx"), cy.alias("cy"))
               .groupBy("cx", "cy").count().collect(), check_cells),
            Op("extract_values",
               lambda: ev.extract_values(pages, tiles, "v").groupBy("v").count().collect(),
               check_values),
            Op("zonal_stats", lambda: zonal.zonal_stats(tiles).collect(), check_zonal),
            Op("components.sieve_merge",
               lambda: components.sieve_merge(tiles, p["sieve_min_size"]), check_sieve),
            Op("warp.scale_down_tiles",
               lambda: warp.scale_down_tiles(tiles, p["scale_down_k"]).select("value").collect(),
               check_scale),
            Op("lineage.run_stage", lambda: ckpt.run_stage("cells", stage_work), check_write),
            Op("lineage.resume", lambda: ckpt.run_stage("cells", stage_work), check_resume),
            Op("lineage.verify_stage", lambda: ckpt.verify_stage("cells").collect(),
               check_verify, cleanup=lambda: shutil.rmtree(root, ignore_errors=True)),
        ]


# ------------------------------------------------------------------ crawl_embed


class CrawlText:
    """Crawl pages with revisit copies and near-duplicate mirrors, and a
    generated link graph."""

    params = gen.CRAWL_TEXT

    def __init__(self, spark: SparkSession, rng: np.random.Generator):
        p = self.params
        self.spark = spark
        self.docs = gen.crawl_docs(rng, p)
        self.crawl = _cache(spark.createDataFrame(self.docs[["doc_id", "text", "lang", "source"]]))
        self.sn_docs = self.crawl.select(
            "doc_id", "text", "lang", F.length("text").cast("long").alias("n_chars")
        )
        self.src, self.dst = gen.web_edges(rng, p)
        self.edges = _cache(
            spark.createDataFrame(pd.DataFrame({"src_id": self.src, "dst_id": self.dst}))
        )
        self.nodes = spark.range(0, p["pr_nodes"], 1, _parts(spark))
        self.nodes = self.nodes.withColumnRenamed("id", "doc_id")
        self.input_rows = len(self.docs)

    def release(self):
        for df in (self.crawl, self.edges):
            df.unpersist(blocking=True)

    @cached_property
    def ref_extract(self) -> tuple[int, int, int]:
        b = [t.encode() for t in self.docs["text"]]
        return len(b), sum(map(len, b)), sum(zlib.crc32(x) for x in b)

    @cached_property
    def ref_funnel(self) -> list:
        # the quality gate drops texts below MIN_WORDS (every generated
        # text passes its other rules), then duplicates collapse to the
        # lowest doc_id
        d = self.docs.assign(n_words=self.docs["text"].str.split().str.len())
        d = d[d["n_words"] >= MIN_WORDS].sort_values("doc_id")
        canon = d.drop_duplicates("text", keep="first")
        pts = Points(*geocode(canon["doc_id"].to_numpy()))
        n_words = canon["n_words"].to_numpy()
        lang = canon["lang"].to_numpy()
        rows = []
        for z in fixtures.ZONES:
            hit = pts.inside(z["verts"])
            for lg in np.unique(lang[hit]):
                sel = hit[lang[hit] == lg]
                rows.append((int(z["zone_id"]), str(lg), int(sel.size), int(n_words[sel].sum())))
        return sorted(rows)

    @cached_property
    def ref_simhash(self) -> set:
        """Pairs within Hamming 3 under the oracle's sketch definition
        (geokit_spark.oracle.textsql.simhash_expr: bit b is the sign of
        the sum, over a doc's distinct 3-char shingle codes, of bit b % 16
        of hash b // 16), evaluated here in numpy. A pair within Hamming
        3 agrees on one of the four 16-bit bands, so pairs are
        enumerated inside band buckets and then tested exactly."""
        d = self.docs
        # sketch each distinct text once
        texts, inv = np.unique(d["text"].to_numpy(), return_inverse=True)
        codes, lens = [], []
        for t in texts:
            b = np.frombuffer(t.encode(), dtype=np.uint8).astype(np.int64)
            c = np.unique(b[:-2] * 65536 + b[1:-1] * 256 + b[2:])
            codes.append(c)
            lens.append(c.size)
        codes = np.concatenate(codes)
        lens = np.array(lens)
        starts = np.r_[0, np.cumsum(lens)[:-1]]
        shifts = np.arange(16, dtype=np.uint64)
        h = np.zeros(len(texts), dtype=np.uint64)
        for j in range(4):
            hv = (MH_A[j] * codes + MH_B[j]) % MH_PRIME
            # bits 0..15 of each hash, one column per bit
            low = (hv & 0xFFFF).astype("<u2").view(np.uint8).reshape(-1, 2)
            bits = np.unpackbits(low, axis=1, bitorder="little")
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
            # the sum of +-1 votes is positive iff more than half are 1
            sign = (2 * ones > lens[:, None]).astype(np.uint64)
            h |= np.bitwise_or.reduce(sign << (shifts + np.uint64(16 * j)), axis=1)
        h = h[inv]
        ids = d["doc_id"].to_numpy()
        n_chars = d["text"].str.len().to_numpy()
        lang = pd.factorize(d["lang"])[0].astype(np.int64)
        pairs = set()
        for band in range(4):
            key = ((h >> np.uint64(16 * band)) & np.uint64(0xFFFF)).astype(np.int64) * 8 + lang
            order = np.argsort(key, kind="stable")
            ks = key[order]
            cut = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1], True])
            for lo, hi in zip(cut[:-1], cut[1:]):
                m = order[lo:hi]
                for x in range(len(m)):
                    for y in range(x + 1, len(m)):
                        i, j = m[x], m[y]
                        ham = int(h[i] ^ h[j]).bit_count()
                        if ham <= 3 and abs(int(n_chars[i]) - int(n_chars[j])) <= LEN_BAND:
                            a, b = sorted((int(ids[i]), int(ids[j])))
                            pairs.add((a, b, ham))
        return pairs

    @cached_property
    def ref_pagerank(self) -> np.ndarray:
        n, src, dst = self.params["pr_nodes"], self.src, self.dst
        outdeg = np.bincount(src, minlength=n)[src]
        s = np.full(src.size, PR_SCALE, dtype=np.int64)
        for _ in range(self.params["pr_iters"]):
            c = (DAMP_NUM * s) // (DAMP_DEN * outdeg)
            # float64 bincount weights are exact: every sum is below 2^53
            inflow = np.bincount(dst, weights=c, minlength=n).astype(np.int64)
            s = PR_BASE + inflow[src]
        return PR_BASE + inflow

    def ops(self) -> list[Op]:
        spark = self.spark

        def check_extract(r):
            got = tuple(int(v) for v in r[0])
            expect(got == self.ref_extract, f"extract {got}, reference {self.ref_extract}")

        def check_funnel(r):
            got = sorted((int(x[0]), x[1], int(x[2]), int(x[3])) for x in r)
            expect(got == self.ref_funnel, "funnel rollup differs")

        def check_simhash(r):
            got = {tuple(int(v) for v in x) for x in r}
            expect(got == self.ref_simhash,
                   f"{len(got)} pairs, reference {len(self.ref_simhash)}")

        def run_pagerank():
            sc = pagerank(self.edges, self.nodes, iters=self.params["pr_iters"])
            try:
                return sc.select("doc_id", "s").collect()
            finally:
                sc._edge_cache.unpersist()

        def check_pagerank(r):
            got = np.zeros(self.params["pr_nodes"], dtype=np.int64)
            for x in r:
                got[int(x[0])] = int(x[1])
            expect(len(r) == got.size and np.array_equal(got, self.ref_pagerank),
                   "pagerank scores differ")

        return [
            Op("pages.extract_text",
               lambda: extract_text(pages_from_docs(self.crawl)).agg(
                   F.count("*"), F.sum(F.octet_length("text_extracted")),
                   F.sum(F.crc32("text_extracted"))).collect(),
               check_extract),
            Op("pipeline.corpus_funnel",
               lambda: corpus_funnel(spark, self.crawl).collect(), check_funnel),
            Op("dedup.simhash_near_pairs",
               lambda: simhash_near_pairs(self.sn_docs, max_hamming=3).collect(),
               check_simhash),
            Op("webgraph.pagerank", run_pagerank, check_pagerank),
        ]

    def dirty_op(self) -> Op:
        """Malformed html through extract_text(as_string=True) and
        through corpus_funnel. A bad row should degrade, not abort."""
        spark = self.spark
        dirty = gen.dirty_pages(self.params)
        pages = spark.createDataFrame(dirty, "url string, html binary")
        crawl = spark.createDataFrame(
            [(i + 1, t, "en", "dirty") for i, t in enumerate(gen.DIRTY_TEXTS)],
            "doc_id long, text string, lang string, source string",
        )

        def call():
            n_pages = extract_text(pages, as_string=True).count()
            corpus_funnel(spark, crawl).collect()
            return n_pages

        def check(n_pages):
            expect(n_pages == len(dirty), f"extract_text kept {n_pages} of {len(dirty)} pages")

        return Op("dirty_pages", call, check)


class EmbedAnn:
    """Clustered 64-dim embeddings, ANN top-k in float32 and int8."""

    params = gen.EMBED_ANN
    # recall@k floors against brute force, fixed when the benchmark was
    # defined (seed 1 read 0.89 and 0.83); below them the answer is
    # wrong, not slow
    MIN_RECALL = {"float32": 0.75, "int8": 0.70}

    def __init__(self, spark: SparkSession, rng: np.random.Generator):
        p = self.params
        self.x = gen.embeddings(rng, p)
        n = self.x.shape[0]
        pdf = pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [r.tobytes() for r in self.x],
        })
        self.emb = _cache(spark.createDataFrame(pdf, "vec_id long, embedding binary"))
        self.n_planes = suggest_n_planes(n, target_bucket=64)
        self.queries = np.sort(rng.choice(n, size=p["n_queries"], replace=False))
        self.input_rows = n

    def release(self):
        self.emb.unpersist(blocking=True)

    @cached_property
    def truth(self) -> dict[int, set]:
        """Exact cosine top-k of each query vector, itself excluded."""
        k = self.params["k"]
        xn = self.x / np.linalg.norm(self.x, axis=1, keepdims=True)
        sims = xn[self.queries] @ xn.T
        sims[np.arange(len(self.queries)), self.queries] = -np.inf
        top = np.argpartition(-sims, k, axis=1)[:, :k]
        return {int(q): set(t.tolist()) for q, t in zip(self.queries, top)}

    def ops(self) -> list[Op]:
        k = self.params["k"]
        qs = [int(q) for q in self.queries]

        def run(quantize):
            return lambda: ann_topk_bucketed(
                self.emb, k=k, n_planes=self.n_planes, n_tables=2,
                binary_dtype="float32", quantize=quantize,
            ).where(F.col("vec_id").isin(qs)).collect()

        def check(label):
            def c(r):
                got: dict[int, set] = {}
                for x in r:
                    got.setdefault(int(x["vec_id"]), set()).add(int(x["neighbor_id"]))
                expect(all(len(got.get(q, ())) == k for q in self.truth), "missing neighbours")
                hits = sum(len(got[q] & t) for q, t in self.truth.items())
                recall = hits / (k * len(self.truth))
                expect(recall >= self.MIN_RECALL[label], f"recall@{k} {recall:.3f}")
            return c

        return [
            Op("similarity.ann_topk_bucketed.float32", run(None), check("float32")),
            Op("similarity.ann_topk_bucketed.int8", run("int8"), check("int8")),
        ]


class CrawlEmbed:
    """The crawl_text ops, then the embed_ann ops, in one session."""

    def __init__(self, spark: SparkSession, rng: np.random.Generator, work_dir: str):
        self.crawl = CrawlText(spark, rng)
        self.ann = EmbedAnn(spark, rng)
        self.input_rows = self.crawl.input_rows + self.ann.input_rows

    def release(self):
        self.crawl.release()
        self.ann.release()

    def ops(self) -> list[Op]:
        return self.crawl.ops() + self.ann.ops()

    def dirty_op(self) -> Op:
        return self.crawl.dirty_op()


WORKLOADS = {"geo_raster": GeoRaster, "crawl_embed": CrawlEmbed}
