"""Raster operator tests: engine vs single-node numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geokit_spark import fixtures
from geokit_spark.constants import RASTER_H, RASTER_W, TILE_SIZE
from geokit_spark.kernels.geocode import geocode
from geokit_spark.kernels.pip import points_in_poly
from geokit_spark.kernels.raster_fields import (
    clc_value, elev_value, pixel_center, raster_cell_no,
)
from geokit_spark.operators import extract_values as ev
from geokit_spark.operators import indicate, rasterize, zonal
from geokit_spark.operators.indicate import compile_classifier, parse_value_dsl
from geokit_spark.sources import tiles as tilesrc


@pytest.fixture(scope="module")
def elev_tiles(spark):
    return tilesrc.raster_table(spark, "elev").cache()


@pytest.fixture(scope="module")
def clc_tiles(spark):
    return tilesrc.raster_table(spark, "clc").cache()


def _full_matrix(fn):
    ix, iy = np.meshgrid(np.arange(RASTER_W), np.arange(RASTER_H))
    return fn(ix, iy)


def test_tile_table_reassembles_field(spark, elev_tiles):
    rows = elev_tiles.collect()
    assert len(rows) == (RASTER_W // TILE_SIZE) * (RASTER_H // TILE_SIZE)
    full = _full_matrix(elev_value)
    for r in rows[:5]:
        tx, ty = r.tile_x, r.tile_y
        block = full[
            ty * TILE_SIZE : (ty + 1) * TILE_SIZE,
            tx * TILE_SIZE : (tx + 1) * TILE_SIZE,
        ]
        assert np.array_equal(np.asarray(r.data).reshape(TILE_SIZE, TILE_SIZE), block)


def test_extract_values_matches_kernel(spark, docs, clc_tiles):
    got = (
        ev.extract_values(
            __import__("geokit_spark.functions.geo", fromlist=["with_geocode"])
            .with_geocode(docs.select("doc_id")),
            clc_tiles,
            "v",
        )
        .toPandas()
        .set_index("doc_id")["v"]
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    ix, iy = raster_cell_no(lon, lat)
    expected = clc_value(ix, iy).astype(float)
    for d, exp in zip(ids, expected):
        assert got[d] == exp


def test_zonal_stats_matches_numpy(spark, elev_tiles):
    got = zonal.zonal_stats(elev_tiles).toPandas().set_index("zone_id")
    full = _full_matrix(elev_value).astype(np.float64)
    ix, iy = np.meshgrid(np.arange(RASTER_W), np.arange(RASTER_H))
    px, py = pixel_center(ix.ravel(), iy.ravel())
    vals = full.ravel()
    for z in fixtures.ZONES[:20]:
        m = points_in_poly(px, py, z["verts"])
        v = vals[m]
        row = got.loc[z["zone_id"]]
        assert row["n_pix"] == m.sum()
        assert row["sum_v"] == v.sum()
        assert row["min_v"] == v.min() and row["max_v"] == v.max()
        assert np.isclose(row["var_v"], v.var())
        # skew/kurt: biased central moments (scipy.describe defaults)
        mu = v.mean()
        m2 = ((v - mu) ** 2).mean()
        m3 = ((v - mu) ** 3).mean()
        m4 = ((v - mu) ** 4).mean()
        assert np.isclose(row["skew_v"], m3 / m2**1.5, rtol=1e-9)
        assert np.isclose(row["kurt_v"], m4 / m2**2 - 3.0, rtol=1e-9)


def test_zonal_stats_constant_zone_is_null_moment(spark, elev_tiles):
    """Every pixel equal -> mu2 == 0. Under ANSI the skew/kurtosis
    division used to raise DIVIDE_BY_ZERO; the DuckDB oracle's x / 0 is
    NULL, so the engine returns NULL there too."""
    import duckdb

    assert duckdb.sql("SELECT 1.0::DOUBLE / 0.0::DOUBLE").fetchone()[0] is None
    flat = tilesrc.raster_like(spark, elev_tiles, fill=7.0)
    got = zonal.zonal_stats(flat, fixtures.ZONES[:5]).toPandas()
    assert len(got) == 5
    assert (got["min_v"] == 7.0).all() and (got["max_v"] == 7.0).all()
    assert (got["mean_v"] == 7.0).all() and (got["var_v"] == 0.0).all()
    assert got["skew_v"].isna().all() and got["kurt_v"].isna().all()


def test_rasterize_last_wins(spark, elev_tiles):
    got = (
        rasterize.rasterize_zone_counts(elev_tiles)
        .toPandas()
        .set_index("burn_value")["n_pixels"]
    )
    ix, iy = np.meshgrid(np.arange(RASTER_W), np.arange(RASTER_H))
    px, py = pixel_center(ix.ravel(), iy.ravel())
    burn = np.full(px.shape, -1, dtype=np.int64)
    for z in fixtures.ZONES:  # ascending zone_id = burn order
        m = points_in_poly(px, py, z["verts"])
        burn[m] = z["year"]
    vals, counts = np.unique(burn[burn >= 0], return_counts=True)
    assert dict(zip(vals.tolist(), counts.tolist())) == got.to_dict()


def test_value_dsl_parser():
    # grammar mirror of regionmask.py:1006-1062
    assert parse_value_dsl("12") == [(12.0, 12.0, True, True)]
    assert parse_value_dsl("[1-5)") == [(1.0, 5.0, True, False)]
    assert parse_value_dsl("(22-26]") == [(22.0, 26.0, False, True)]
    assert parse_value_dsl("[20-]") == [(20.0, None, True, True)]
    assert parse_value_dsl("[-5]") == [(None, 5.0, True, True)]
    assert parse_value_dsl("1,3,[7-9)") == [
        (1.0, 1.0, True, True), (3.0, 3.0, True, True), (7.0, 9.0, True, False),
    ]
    with pytest.raises(ValueError):
        parse_value_dsl("abc")


def test_classifier_semantics():
    c = compile_classifier("[2-4),7")
    data = np.array([1.0, 2.0, 3.9, 4.0, 7.0, 8.0])
    assert c(data).tolist() == [False, True, True, False, True, False]


def test_indicate_values_fraction_bounds(spark, clc_tiles):
    got = indicate.indicate_values(clc_tiles, "[20-30),40").toPandas()
    assert len(got) == 115
    assert ((got["frac"] >= 0) & (got["frac"] <= 1)).all()
    assert (got["n_match"] <= got["n_pix"]).all()


def test_extract_join_is_broadcast(spark, docs, clc_tiles):
    from geokit_spark.functions.geo import with_geocode

    df = ev.extract_values(with_geocode(docs.select("doc_id")), clc_tiles, "v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_extract_values_size_aware_join(spark, docs, clc_tiles):
    """The point->tile join must not FORCE a raster broadcast: with
    auto-broadcast disabled the plan must still execute (shuffle join)
    and produce identical values; with the default threshold the small
    fixture raster must broadcast."""
    from geokit_spark.functions.geo import with_geocode

    pts = with_geocode(docs.limit(200)).select("doc_id", "lon", "lat")

    def run():
        df = ev.extract_values(pts, clc_tiles, "v")
        plan = df._jdf.queryExecution().executedPlan().toString()
        return df.orderBy("doc_id").toPandas(), plan

    with_b, plan_b = run()
    assert "BroadcastHashJoin" in plan_b  # small raster: broadcast chosen
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        without_b, plan_s = run()
        assert "BroadcastHashJoin" not in plan_s  # survives without it
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert with_b.equals(without_b)


def test_rasterize_all_touched_superset(spark, elev_tiles):
    """allTouched must burn a strict superset of center burning, and
    the extra pixels must be exactly the edge-band pixels whose
    centers are outside (reference rasterize ALL_TOUCHED,
    vector.py:1680)."""
    zones = [fixtures.ZONES[0]]
    center = rasterize.rasterize_zones_tiles(elev_tiles, zones).toPandas()
    touched = rasterize.rasterize_zones_tiles(
        elev_tiles, zones, all_touched=True
    ).toPandas()

    def burned(df):
        out = set()
        for r in df.itertuples():
            arr = np.asarray(r.burn)
            for off in np.nonzero(arr >= 0)[0]:
                out.add((r.tile_x, r.tile_y, int(off)))
        return out

    c, t = burned(center), burned(touched)
    assert c < t  # strict superset (the band adds pixels)
    band = rasterize.all_touched_band(
        elev_tiles, zones[0]["verts"]
    ).toPandas()
    extra_expected = int((~band["center_in"]).sum())
    assert len(t - c) == extra_expected
