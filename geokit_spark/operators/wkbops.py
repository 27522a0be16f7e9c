"""WKB-column operators: the BinaryType geometry representation of
SURVEY §1.7 (geometry scalar = WKB binary column + attributes).

zones_wkb_df builds the zones feature table in WKB form; wkb_areas
parses the binary column inside an Arrow-batched pandas UDF (one
frombuffer per geometry) and computes shoelace areas — the pattern for
any WKB-consuming kernel (PIP, clip, ...) over binary geometry
columns ingested from external systems."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fixtures
from ..kernels.wkb import polygon_wkb, polygon_wkb_area
from ..session import local_frame


def zones_wkb_df(spark: SparkSession) -> DataFrame:
    """(zone_id, site_code, year, designate, geom binary)."""
    rows = [
        (z["zone_id"], z["site_code"], z["year"], z["designate"],
         bytearray(polygon_wkb(z["verts"])))
        for z in fixtures.ZONES
    ]
    return local_frame(
        spark,
        rows,
        "zone_id int, site_code string, year int, designate string, geom binary",
    )


@F.pandas_udf(T.DoubleType())
def _wkb_area_udf(geom: pd.Series) -> pd.Series:
    return geom.map(lambda b: polygon_wkb_area(bytes(b)))


def wkb_areas(spark: SparkSession) -> DataFrame:
    """(zone_id, area) computed from the WKB binary column."""
    return zones_wkb_df(spark).select(
        "zone_id", _wkb_area_udf(F.col("geom")).alias("area")
    )


def transform_geoms(
    df: DataFrame, from_srs, to_srs, col: str = "geom",
    out: str = "geom_t",
) -> DataFrame:
    """geom.transform over a WKB column (reference geom.py transform /
    srs routing): parse each polygon's ring, transform every vertex
    with the closed-form kernels.srs math, re-serialize WKB. Arrow-
    batched, per-row numpy — no shuffle; the geometry column stays an
    opaque binary payload for Catalyst (metadata columns prune it)."""
    from ..kernels.srs import load_srs, xy_transform
    from ..kernels.wkb import (
        linestring_wkb,
        multilinestring_wkb,
        multipoint_wkb,
        multipolygon_wkb,
        parse_wkb,
        point_wkb,
        polygon_wkb,
        polygon_wkb_rings,
    )

    fs, ts = load_srs(from_srs), load_srs(to_srs)

    def _tf_ring(ring):
        tx, ty = xy_transform(ring[:, 0], ring[:, 1], fs, ts)
        return list(zip(tx.tolist(), ty.tolist()))

    @F.pandas_udf(T.BinaryType())
    def tf(geoms: pd.Series) -> pd.Series:
        out_ = []
        for buf in geoms:
            kind, data = parse_wkb(bytes(buf))
            if kind == "point":
                tx, ty = xy_transform(data[0], data[1], fs, ts)
                out_.append(point_wkb(float(tx), float(ty)))
            elif kind == "multipoint":
                out_.append(multipoint_wkb(_tf_ring(data)))
            elif kind == "linestring":
                out_.append(linestring_wkb(_tf_ring(data)))
            elif kind == "multilinestring":
                out_.append(multilinestring_wkb(
                    [_tf_ring(ln) for ln in data]
                ))
            elif kind == "multipolygon":
                out_.append(multipolygon_wkb(
                    [[_tf_ring(r) for r in rings] for rings in data]
                ))
            elif kind == "polygon" and isinstance(data, list):
                # holes transform ring-wise, nesting preserved
                out_.append(polygon_wkb_rings([_tf_ring(r) for r in data]))
            else:
                out_.append(polygon_wkb(_tf_ring(data)))
        return pd.Series(out_)

    return df.withColumn(out, tf(F.col(col)))


def _wkb_bounds(buf: bytes):
    """(xmin, ymin, xmax, ymax) of any supported WKB geometry."""
    from ..kernels.wkb import parse_wkb

    kind, data = parse_wkb(bytes(buf))
    if kind == "point":
        return data[0], data[1], data[0], data[1]
    if kind in ("polygon",) and isinstance(data, list):
        arrs = data
    elif kind == "multipolygon":
        arrs = [r for rings in data for r in rings]
    elif kind == "multilinestring":
        arrs = data
    else:  # single ndarray: polygon ring, linestring, multipoint
        arrs = [data]
    import numpy as np

    xs = np.concatenate([a[:, 0] for a in arrs])
    ys = np.concatenate([a[:, 1] for a in arrs])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def wkb_vector_info(df: DataFrame, geom_col: str = "geom") -> dict:
    """vectorInfo over a WKB geometry column (reference vectorInfo,
    vector.py:205-256, which reports count/attributes/bounds for any
    OGR layer regardless of geometry type — including MULTIPOINT):
    one Arrow-batched bounds pass + a JVM min/max aggregate."""
    @F.pandas_udf("struct<x0: double, y0: double, x1: double, y1: double>")
    def bnd(geoms: pd.Series) -> pd.DataFrame:
        rows = [_wkb_bounds(b) for b in geoms]
        return pd.DataFrame(rows, columns=["x0", "y0", "x1", "y1"])

    row = (
        df.withColumn("_b", bnd(F.col(geom_col)))
        .select(
            F.count("*").alias("n"),
            F.min("_b.x0").alias("xmin"),
            F.min("_b.y0").alias("ymin"),
            F.max("_b.x1").alias("xmax"),
            F.max("_b.y1").alias("ymax"),
        )
        .collect()[0]
    )
    attrs = [c for c in df.columns if c != geom_col]
    return {
        "count": row["n"],
        "attributes": attrs,
        "bounds": (row["xmin"], row["ymin"], row["xmax"], row["ymax"]),
    }
