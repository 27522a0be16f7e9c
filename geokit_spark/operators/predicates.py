"""Spatial predicates Touches / Overlaps / CentroidWithin on the
boxes fixture (reference refinement semantics,
/root/reference/geokit/core/vector.py:365-434; harry/ron/hermoine
corner-touching boxes, test_05_vector.py:43-131).

For axis-aligned boxes every predicate is closed-form column
arithmetic (JVM + SQL-oracle expressible):

  touches        = bboxes intersect (closed) — the reference's base
                   extraction predicate
  overlaps       = interiors intersect (strict) OR one contains the
                   other — corner/edge-only contact does NOT count
  centroid_within= box centroid strictly inside the filter box

General polygons route through the PIP/clip kernels instead (see
spatial_join / clipops); boxes are the predicate-semantics contract
the reference's suite pins down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import BOXES
from ..session import local_frame


def boxes_df(spark: SparkSession) -> DataFrame:
    rows = []
    for b in BOXES:
        xs = [v[0] for v in b["verts"]]
        ys = [v[1] for v in b["verts"]]
        rows.append(
            (b["name"], b["smart"], float(min(xs)), float(min(ys)),
             float(max(xs)), float(max(ys)))
        )
    return local_frame(
        spark, rows, "name string, smart int, x0 double, y0 double, x1 double, y1 double"
    )


def box_predicates(
    spark: SparkSession, fx0: float, fy0: float, fx1: float, fy1: float
) -> DataFrame:
    """Predicates of every fixture box against a filter box."""
    df = boxes_df(spark)
    x0, y0, x1, y1 = F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")
    touches = (x0 <= fx1) & (fx0 <= x1) & (y0 <= fy1) & (fy0 <= y1)
    strict = (x0 < fx1) & (fx0 < x1) & (y0 < fy1) & (fy0 < y1)
    within = (x0 >= fx0) & (x1 <= fx1) & (y0 >= fy0) & (y1 <= fy1)
    contains = (fx0 >= x0) & (fx1 <= x1) & (fy0 >= y0) & (fy1 <= y1)
    overlaps = strict | within | contains
    cx = (x0 + x1) / F.lit(2.0)
    cy = (y0 + y1) / F.lit(2.0)
    centroid_within = (cx > fx0) & (cx < fx1) & (cy > fy0) & (cy < fy1)
    return df.select(
        "name",
        "smart",
        touches.alias("touches"),
        overlaps.alias("overlaps"),
        centroid_within.alias("centroid_within"),
    )


def sql_box_predicates(fx0: float, fy0: float, fx1: float, fy1: float) -> str:
    """DuckDB oracle: identical expressions over literal box rows."""
    rows = []
    for b in BOXES:
        xs = [v[0] for v in b["verts"]]
        ys = [v[1] for v in b["verts"]]
        rows.append(
            f"('{b['name']}',{b['smart']},CAST('{min(xs)!r}' AS DOUBLE),"
            f"CAST('{min(ys)!r}' AS DOUBLE),CAST('{max(xs)!r}' AS DOUBLE),"
            f"CAST('{max(ys)!r}' AS DOUBLE))"
        )
    d = lambda v: f"CAST('{v!r}' AS DOUBLE)"  # noqa: E731
    return f"""
WITH boxes(name, smart, x0, y0, x1, y1) AS (VALUES {",".join(rows)})
SELECT name, smart,
  (x0 <= {d(fx1)} AND {d(fx0)} <= x1 AND y0 <= {d(fy1)} AND {d(fy0)} <= y1) AS touches,
  ((x0 < {d(fx1)} AND {d(fx0)} < x1 AND y0 < {d(fy1)} AND {d(fy0)} < y1)
   OR (x0 >= {d(fx0)} AND x1 <= {d(fx1)} AND y0 >= {d(fy0)} AND y1 <= {d(fy1)})
   OR ({d(fx0)} >= x0 AND {d(fx1)} <= x1 AND {d(fy0)} >= y0 AND {d(fy1)} <= y1)) AS overlaps,
  ((x0 + x1) / CAST(2.0 AS DOUBLE) > {d(fx0)} AND (x0 + x1) / CAST(2.0 AS DOUBLE) < {d(fx1)}
   AND (y0 + y1) / CAST(2.0 AS DOUBLE) > {d(fy0)} AND (y0 + y1) / CAST(2.0 AS DOUBLE) < {d(fy1)}) AS centroid_within
FROM boxes
"""
