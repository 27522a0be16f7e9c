"""Zonal statistics as partial/final aggregation over tiles.

Physical shape (the reference's rasterStats + RegionMask workflow,
/root/reference/geokit/core/raster.py:586-635, regionmask.py:768-1289,
re-expressed as Spark's two-stage agg):

  tiles ──mapInPandas──► per-(tile, zone) PARTIAL sums
        ──groupBy(zone)──► FINAL sums → mean/var by exact arithmetic

The pandas stage tests each tile's pixel-center coordinate arrays
against the (broadcast) zone polygons with the same vectorized
ray-casting kernel as the point joins. Partial sums are integers
(fields are integer-valued), so the final sums are exact and
order-independent — aggregation results are reproducible bit-for-bit
regardless of partitioning, which is what makes the oracle comparison
(and resume idempotence) possible at any cluster size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fixtures
from ..constants import PIX_DX, PIX_DY, TILE_SIZE, XMIN, YMAX
from ..kernels.pip import as_rings, points_in_poly_rings
from ..kernels.raster_fields import pixel_center
from ..sources.tiles import tile_pixel_indices

_PARTIAL_SCHEMA = (
    "zone_id int, n long, s double, s2 double, vmin double, vmax double, "
    "c1 double, c2 double, c3 double, c4 double"
)

# Moment shift: higher moments are summed on (v - SHIFT) so every
# partial stays integer-valued BELOW 2^53 (exact in float64 at any
# summation order). elev ∈ [100, ~1730]; |v-900|^4 ≈ 4.7e11 and zones
# hold ~2.3k pixels → totals ≤ ~1.1e15 < 2^53. The final skew/kurt are
# derived from these exact sums with expression trees mirrored by the
# SQL oracle.
ZONAL_SHIFT = 900.0


def _tile_bbox(tx: int, ty: int):
    x0 = XMIN + tx * TILE_SIZE * PIX_DX
    x1 = XMIN + (tx + 1) * TILE_SIZE * PIX_DX
    y1 = YMAX - ty * TILE_SIZE * PIX_DY
    y0 = YMAX - (ty + 1) * TILE_SIZE * PIX_DY
    return x0, y0, x1, y1


def zonal_partials(tiles: DataFrame, zones=None, transform=None) -> DataFrame:
    """Per-(tile, zone) partial aggregates. `transform` optionally maps
    the tile's value array (e.g. a DSL indicator) before aggregation.

    Zones are PRE-INDEXED per tile driver-side (each zone's bbox maps
    to its covering tile-coordinate range — O(zones) work once), so an
    executor touches only its tile's candidate zones: per-batch cost is
    O(tiles x candidates), not O(tiles x zones). At 10^4+ zones the
    round-1 bbox scan would have been the bottleneck (VERDICT #5)."""
    zones = zones if zones is not None else fixtures.ZONES
    # rings-aware: a zone's verts may be a ring list [outer, hole, ...]
    # (donut regions); the tile index uses the OUTER ring's bbox and
    # membership is even-odd parity over all rings
    zlist = [
        (
            z["zone_id"],
            z["verts"],
            fixtures.poly_bbox(as_rings(z["verts"])[0]),
        )
        for z in zones
    ]
    tspan_x = TILE_SIZE * PIX_DX
    tspan_y = TILE_SIZE * PIX_DY
    tile_index: dict[tuple[int, int], list[int]] = {}
    for zi, (_, _, (zx0, zy0, zx1, zy1)) in enumerate(zlist):
        tx0 = int((zx0 - XMIN) // tspan_x)
        tx1 = int((zx1 - XMIN) // tspan_x)
        ty0 = int((YMAX - zy1) // tspan_y)
        ty1 = int((YMAX - zy0) // tspan_y)
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                tile_index.setdefault((tx, ty), []).append(zi)

    def fn(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                tx, ty = int(r.tile_x), int(r.tile_y)
                cand = tile_index.get((tx, ty))
                if not cand:
                    continue
                data = np.asarray(r.data, dtype=np.float64)
                if transform is not None:
                    data = transform(data)
                gx, gy = tile_pixel_indices(tx, ty)
                px, py = pixel_center(gx, gy)
                for zi in cand:
                    zid, verts, _ = zlist[zi]
                    m = points_in_poly_rings(px, py, verts)
                    n = int(m.sum())
                    if n == 0:
                        continue
                    v = data[m]
                    c = v - ZONAL_SHIFT
                    c2 = c * c
                    rows.append(
                        (zid, n, float(v.sum()), float((v * v).sum()),
                         float(v.min()), float(v.max()),
                         float(c.sum()), float(c2.sum()),
                         float((c2 * c).sum()), float((c2 * c2).sum()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["zone_id", "n", "s", "s2", "vmin", "vmax",
                         "c1", "c2", "c3", "c4"],
            )

    return tiles.mapInPandas(fn, schema=_PARTIAL_SCHEMA)


def zonal_stats(tiles: DataFrame, zones=None) -> DataFrame:
    """Final zonal statistics per zone: count / sum / mean / min / max /
    population variance / skewness / kurtosis-excess — the full
    scipy-describe surface of the reference's rasterStats
    (raster.py:586-635), all derived from exact integer sums (higher
    moments on shifted values, see ZONAL_SHIFT)."""
    p = zonal_partials(tiles, zones)
    agg = p.groupBy("zone_id").agg(
        F.sum("n").alias("n_pix"),
        F.sum("s").alias("sum_v"),
        F.sum("s2").alias("_s2"),
        F.min("vmin").alias("min_v"),
        F.max("vmax").alias("max_v"),
        F.sum("c1").alias("_c1"),
        F.sum("c2").alias("_c2"),
        F.sum("c3").alias("_c3"),
        F.sum("c4").alias("_c4"),
    )
    n = F.col("n_pix").cast("double")
    mean = F.col("sum_v") / n
    var = (F.col("_s2") - F.col("sum_v") * F.col("sum_v") / n) / n
    # central moments from the shifted exact sums (biased, matching
    # scipy.stats.describe's default skew/kurtosis)
    mc = F.col("_c1") / n
    mu2 = F.col("_c2") / n - mc * mc
    mu3 = (
        F.col("_c3") / n
        - F.lit(3.0) * mc * (F.col("_c2") / n)
        + F.lit(2.0) * mc * mc * mc
    )
    mu4 = (
        F.col("_c4") / n
        - F.lit(4.0) * mc * (F.col("_c3") / n)
        + F.lit(6.0) * mc * mc * (F.col("_c2") / n)
        - F.lit(3.0) * mc * mc * mc * mc
    )
    # a constant zone has mu2 == 0: NULL skew/kurtosis (what the DuckDB
    # oracle's x / 0 gives) instead of an ANSI DIVIDE_BY_ZERO
    flat = mu2 == F.lit(0.0)
    skew = F.when(~flat, mu3 / (mu2 * F.sqrt(mu2)))
    kurt = F.when(~flat, mu4 / (mu2 * mu2) - F.lit(3.0))
    return agg.select(
        "zone_id", "n_pix", "sum_v", mean.alias("mean_v"),
        "min_v", "max_v", var.alias("var_v"),
        skew.alias("skew_v"), kurt.alias("kurt_v"),
    )


def region_mask_stats(tiles: DataFrame) -> DataFrame:
    """RegionMask.area analog (regionmask.py:535-536): pixel count of
    the rasterized region mask and its geographic area."""
    region_zone = [{"zone_id": 0, "verts": fixtures.REGION_VERTS}]
    p = zonal_partials(tiles, zones=region_zone)
    return p.groupBy("zone_id").agg(F.sum("n").alias("n_pix")).select(
        F.col("n_pix"),
        (F.col("n_pix").cast("double") * F.lit(PIX_DX) * F.lit(PIX_DY)).alias("area"),
    )
