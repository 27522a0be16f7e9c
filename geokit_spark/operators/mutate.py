"""mutateVector / mutateRaster — the user-processor hooks
(reference vector.py:1482-1617, raster.py:1310-1449).

mutate_vector: applyInPandas-style per-feature transform over the
feature table (vertex arrays + attributes); mutate_raster:
mapInPandas over tiles. Both ship the user's numpy processor to the
executors; no per-row Python.

The demo transform (scale_zones) scales each zone quad by 1.1 about
its vertex mean and returns the new shoelace area — fixed 4-vertex
closed forms, so the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..session import local_frame


def zones_feature_df(spark: SparkSession, zones=None) -> DataFrame:
    """The zones feature table: vertex coordinate arrays + attributes
    (the engine's 'pandas DataFrame with geom column' analog — arrays,
    never Python geometry objects per row)."""
    rows = []
    for z in (zones if zones is not None else fixtures.ZONES):
        xs = [float(v[0]) for v in z["verts"]]
        ys = [float(v[1]) for v in z["verts"]]
        rows.append((z["zone_id"], z["site_code"], z["year"], z["designate"], xs, ys))
    return local_frame(
        spark,
        rows,
        "zone_id int, site_code string, year int, designate string, "
        "xs array<double>, ys array<double>",
    )


def mutate_vector(features: DataFrame, processor, schema: str) -> DataFrame:
    """Arrow-batched per-feature map: processor(pdf) -> pdf
    (reference mutateVector processor hook, vector.py:1595-1601)."""

    def fn(batches):
        for pdf in batches:
            yield processor(pdf)

    return features.mapInPandas(fn, schema=schema)


def scale_zones(spark: SparkSession, factor: float = 1.1) -> DataFrame:
    """Demo mutateVector: scale quads about their vertex mean, return
    (zone_id, new_area)."""

    def processor(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples():
            xs = np.asarray(r.xs)
            ys = np.asarray(r.ys)
            cx = (xs[0] + xs[1] + xs[2] + xs[3]) / 4.0
            cy = (ys[0] + ys[1] + ys[2] + ys[3]) / 4.0
            nx = cx + factor * (xs - cx)
            ny = cy + factor * (ys - cy)
            # shoelace, explicit 4-term order (mirrored in the oracle)
            area = (
                (nx[0] * ny[1] - nx[1] * ny[0])
                + (nx[1] * ny[2] - nx[2] * ny[1])
                + (nx[2] * ny[3] - nx[3] * ny[2])
                + (nx[3] * ny[0] - nx[0] * ny[3])
            ) / 2.0
            out.append({"zone_id": r.zone_id, "new_area": abs(area)})
        return pd.DataFrame(out)

    return mutate_vector(
        zones_feature_df(spark), processor, "zone_id int, new_area double"
    )


def sql_zone_verts_values() -> str:
    """(zone_id, x1..x4, y1..y4) literal rows for the oracle."""
    d = lambda v: f"CAST('{v!r}' AS DOUBLE)"  # noqa: E731
    rows = []
    for z in fixtures.ZONES:
        xs = [v[0] for v in z["verts"]]
        ys = [v[1] for v in z["verts"]]
        coords = ",".join([d(x) for x in xs] + [d(y) for y in ys])
        rows.append(f"({z['zone_id']},{coords})")
    return ",".join(rows)


def sql_scale_zones(factor: float = 1.1) -> str:
    f = f"CAST('{factor!r}' AS DOUBLE)"
    nx = [f"(cx + {f} * (x{i} - cx))" for i in range(1, 5)]
    ny = [f"(cy + {f} * (y{i} - cy))" for i in range(1, 5)]
    area = (
        f"(({nx[0]} * {ny[1]} - {nx[1]} * {ny[0]})"
        f" + ({nx[1]} * {ny[2]} - {nx[2]} * {ny[1]})"
        f" + ({nx[2]} * {ny[3]} - {nx[3]} * {ny[2]})"
        f" + ({nx[3]} * {ny[0]} - {nx[0]} * {ny[3]})) / CAST(2.0 AS DOUBLE)"
    )
    return f"""
WITH zv(zone_id, x1, x2, x3, x4, y1, y2, y3, y4) AS (VALUES {sql_zone_verts_values()}),
c AS (
  SELECT *, (x1 + x2 + x3 + x4) / CAST(4.0 AS DOUBLE) AS cx,
            (y1 + y2 + y3 + y4) / CAST(4.0 AS DOUBLE) AS cy
  FROM zv
)
SELECT zone_id, abs({area}) AS new_area FROM c
"""
