"""Line features as join subjects + line rasterize burn.

The reference's spatial predicates branch per geometry type including
lines (/root/reference/geokit/core/vector.py:365-434; constructors
geom.py:355-391). Here:

* lines_in_polygon — line-vs-polygon INTERSECTS as a pure JVM
  DataFrame computation: a line intersects the region iff any of its
  segments properly crosses a region edge OR any waypoint lies inside
  (even-odd parity). Both predicates are +,-,* expression trees
  mirrored token-for-token by the SQL oracle (general-position
  fixtures: no collinear/tangent configurations, so strict signs
  decide).
* rasterize_lines_band — the line burn path of rasterize(allTouched):
  every pixel whose CELL rectangle is intersected by a segment
  (exact segment-vs-rect test, kernels.cells._segs_cross_rects — the
  same kernel as the polygon allTouched band, minus ring closure).

Scale shape: segments/waypoints explode from the feature table
(arrays -> rows, executor-side); the region edge list is the tiny
broadcast side; per-line aggregates are map-side combinable. At
100 TB of lines the crossJoin is lines x |region edges| — linear in
the line table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..kernels.pip import as_rings
from ..session import local_frame


def lines_feature_df(spark: SparkSession, lines=None) -> DataFrame:
    """(line_id, kind, xs array<double>, ys array<double>)."""
    lines = lines if lines is not None else fixtures.LINES
    rows = [
        (
            int(ln["line_id"]),
            ln["kind"],
            [float(x) for x, _ in ln["pts"]],
            [float(y) for _, y in ln["pts"]],
        )
        for ln in lines
    ]
    return local_frame(
        spark, rows, "line_id int, kind string, xs array<double>, ys array<double>"
    )


def _segments_df(spark: SparkSession, lines) -> DataFrame:
    """One row per polyline segment: (line_id, ax, ay, bx, by) —
    exploded executor-side from the waypoint arrays (sequence over
    consecutive index pairs; no closing edge)."""
    feats = lines_feature_df(spark, lines)
    return (
        feats.select(
            "line_id",
            F.explode(F.sequence(F.lit(1), F.size("xs") - 1)).alias("i"),
            "xs", "ys",
        )
        .select(
            "line_id",
            F.element_at("xs", F.col("i")).alias("ax"),
            F.element_at("ys", F.col("i")).alias("ay"),
            F.element_at("xs", F.col("i") + 1).alias("bx"),
            F.element_at("ys", F.col("i") + 1).alias("by"),
        )
    )


def _edges_df(spark: SparkSession, region) -> DataFrame:
    """Directed closed edges of all region rings (outer + holes)."""
    rows = []
    for ring in as_rings(region):
        v = [(float(x), float(y)) for x, y in ring]
        if len(v) > 1 and v[0] == v[-1]:
            v = v[:-1]
        n = len(v)
        for i in range(n):
            x1, y1 = v[i]
            x2, y2 = v[(i + 1) % n]
            rows.append((x1, y1, x2, y2))
    return local_frame(
        spark, rows, "ex1 double, ey1 double, ex2 double, ey2 double"
    )


def _proper_cross_cond(
    seg=("ax", "ay", "bx", "by"), other=("ex1", "ey1", "ex2", "ey2")
) -> F.Column:
    """Strict proper-crossing of segment (ax,ay)-(bx,by) vs segment
    (ex1,ey1)-(ex2,ey2): endpoints of each segment strictly on
    opposite sides of the other's line. Same +,-,* tree as the SQL
    oracle; valid under general position (no collinearity)."""
    ax, ay, bxn, byn = (F.col(c) for c in seg)
    cx, cy, dxn, dyn = (F.col(c) for c in other)
    bx, by, dx, dy = bxn, byn, dxn, dyn
    o1 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    o2 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
    o3 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
    o4 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
    return ((o1 > 0) != (o2 > 0)) & ((o3 > 0) != (o4 > 0))


def lines_in_polygon(
    spark: SparkSession, lines=None, region=None
) -> DataFrame:
    """(line_id, n_cross, n_verts_in, touches): segment-vs-edge proper
    crossing counts, waypoints inside the region (even-odd over all
    rings), and the INTERSECTS predicate — touches iff the line
    crosses the boundary or has a waypoint inside (a line fully inside
    has waypoints inside; one fully outside has neither)."""
    region = region if region is not None else fixtures.REGION_VERTS
    segs = _segments_df(spark, lines)
    edges = F.broadcast(_edges_df(spark, region))

    ncross = (
        segs.crossJoin(edges)
        .select(
            "line_id",
            F.when(_proper_cross_cond(), 1).otherwise(0).alias("c"),
        )
        .groupBy("line_id")
        .agg(F.sum("c").cast("long").alias("n_cross"))
    )

    verts = lines_feature_df(spark, lines).select(
        "line_id",
        F.explode(F.arrays_zip("xs", "ys")).alias("p"),
    ).select(
        "line_id", F.col("p.xs").alias("px"), F.col("p.ys").alias("py")
    )
    # even-odd parity per waypoint over ALL ring edges (same crossing
    # expression tree as the PIP joins)
    straddle = (F.col("ey1") > F.col("py")) != (F.col("ey2") > F.col("py"))
    xcross = (
        (F.col("ex2") - F.col("ex1"))
        * (F.col("py") - F.col("ey1"))
        / (F.col("ey2") - F.col("ey1"))
        + F.col("ex1")
    )
    crossing = F.when(
        (F.col("ey1") != F.col("ey2")) & straddle & (F.col("px") < xcross), 1
    ).otherwise(0)
    vin = (
        verts.crossJoin(edges)
        .groupBy("line_id", "px", "py")
        .agg(F.sum(crossing).alias("k"))
        .filter(F.col("k") % 2 == 1)
        .groupBy("line_id")
        .agg(F.count("*").cast("long").alias("n_verts_in"))
    )
    return (
        ncross.join(vin, "line_id", "left")
        .select(
            "line_id",
            "n_cross",
            F.coalesce("n_verts_in", F.lit(0)).cast("long").alias(
                "n_verts_in"
            ),
            (
                (F.col("n_cross") > 0)
                | (F.coalesce("n_verts_in", F.lit(0)) > 0)
            ).alias("touches"),
        )
    )


def line_crossing_pairs(
    spark: SparkSession, lines=None, grid_n: int = 64
) -> DataFrame:
    """(id_a, id_b, n_cross): line pairs (id_a < id_b) with at least
    one proper segment crossing — the line-vs-line INTERSECTS join
    (reference predicates branch per geometry pair).

    Scale shape: a LOSSLESS cell-blocked equijoin, not an all-pairs
    theta join — each segment explodes to the grid cells its bbox
    covers (two crossing segments' bboxes overlap, an overlap point's
    cell is covered by both, so every crossing pair shares >= 1 cell);
    candidate (segment, segment) pairs dedupe by id before the strict-
    orientation test. The oracle runs the plain theta join (fixture-
    sized) over the same expression tree."""
    from ..constants import XMAX, XMIN, XSPAN, YMAX, YMIN, YSPAN

    segs = _segments_df(spark, lines).withColumn(
        "sid", F.monotonically_increasing_id()
    )
    inv_x = F.lit(grid_n / XSPAN)
    inv_y = F.lit(grid_n / YSPAN)

    def cells(df):
        cx0 = F.greatest(
            F.lit(0),
            F.floor((F.least("ax", "bx") - F.lit(XMIN)) * inv_x),
        )
        cx1 = F.least(
            F.lit(grid_n - 1),
            F.floor((F.greatest("ax", "bx") - F.lit(XMIN)) * inv_x),
        )
        cy0 = F.greatest(
            F.lit(0),
            F.floor((F.least("ay", "by") - F.lit(YMIN)) * inv_y),
        )
        cy1 = F.least(
            F.lit(grid_n - 1),
            F.floor((F.greatest("ay", "by") - F.lit(YMIN)) * inv_y),
        )
        return (
            df.withColumn("cx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("cy", F.explode(F.sequence(cy0, cy1)))
            .withColumn("cell", F.col("cx") * F.lit(grid_n) + F.col("cy"))
            .drop("cx", "cy")
        )

    a = cells(segs).select(
        F.col("line_id").alias("id_a"), F.col("sid").alias("sid_a"),
        "ax", "ay", "bx", "by", "cell",
    )
    b = cells(segs).select(
        F.col("line_id").alias("id_b"), F.col("sid").alias("sid_b"),
        F.col("ax").alias("ex1"), F.col("ay").alias("ey1"),
        F.col("bx").alias("ex2"), F.col("by").alias("ey2"),
        "cell",
    )
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("cell")
        .distinct()  # one test per (segment, segment) pair
    )
    return (
        cand.filter(_proper_cross_cond())
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_cross"))
    )


def line_lengths(spark: SparkSession, lines=None) -> DataFrame:
    """(line_id, kind, length): polyline length as the LEFT-ASSOC fold
    of per-segment sqrt(dx^2 + dy^2) in waypoint order (reference
    geom Length on lines). sqrt is IEEE-correctly-rounded on both
    engines and the fold order pins the float summation tree, so the
    oracle's ordered list_reduce reproduces it bit-for-bit."""
    feats = lines_feature_df(spark, lines)
    seg = F.expr(
        "aggregate(transform(sequence(1, size(xs) - 1), i -> "
        "sqrt((element_at(xs, i + 1) - element_at(xs, i))"
        " * (element_at(xs, i + 1) - element_at(xs, i))"
        " + (element_at(ys, i + 1) - element_at(ys, i))"
        " * (element_at(ys, i + 1) - element_at(ys, i)))), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return feats.select("line_id", "kind", seg.alias("length"))


def rasterize_lines_band(tiles: DataFrame, lines=None) -> DataFrame:
    """(ix, iy, burn): every pixel whose CELL rectangle is intersected
    by a line segment, burn = MAX line_id among hitting lines (a
    deterministic, order-free winner — the sequential last-wins of
    polygon burning is order-dependent across partitions). Fully
    tile-parallel; the oracle mirrors the segment-vs-rect arithmetic
    expression-for-expression (the allTouched SQL with polyline
    segments instead of ring edges)."""
    from ..constants import PIX_DX, PIX_DY
    from ..kernels.cells import _segs_cross_rects
    from ..sources.tiles import tile_pixel_indices
    from .rasterize import _cell_corners

    lines = lines if lines is not None else fixtures.LINES
    seglist = []
    for ln in lines:
        p = ln["pts"]
        for i in range(len(p) - 1):
            seglist.append(
                (int(ln["line_id"]), p[i][0], p[i][1], p[i + 1][0], p[i + 1][1])
            )
    sarr = np.asarray([(a, b, c, d) for _, a, b, c, d in seglist])
    sids = np.asarray([s[0] for s in seglist], dtype=np.int64)

    def fn(batches):
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                tx, ty = int(r.tile_x), int(r.tile_y)
                gx, gy = tile_pixel_indices(tx, ty)
                cx0, cy0 = _cell_corners(gx, gy)
                burn = np.full(len(gx), -1, dtype=np.int64)
                for lid in np.unique(sids):
                    m = sids == lid
                    hit = _segs_cross_rects(
                        sarr[m, 0], sarr[m, 1], sarr[m, 2], sarr[m, 3],
                        cx0, cy0, PIX_DX, PIX_DY,
                    )
                    burn[hit] = np.maximum(burn[hit], lid)
                hot = burn >= 0
                if hot.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "ix": gx[hot].astype(np.int64),
                                "iy": gy[hot].astype(np.int64),
                                "burn": burn[hot],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return tiles.mapInPandas(fn, schema="ix long, iy long, burn long")
