"""Round-13 pins.

1. Grid guards on tile-index joins (the r12 advisory's HIGH finding):
   the zero-shuffle upscale RELABEL re-anchors its grid onto the
   occupied coarse lattice, so a downstream binary tiled op keyed by
   tile indices would silently pair geographically misaligned tiles
   (mask) or hard-error where the long plan succeeds (merge). Both now
   raise :class:`TiledRegridUnsupported`, which the planner catches and
   demotes to the long tier — correct result, recorded demotion.
"""
import json

import pandas as pd
import pytest

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec
from openeo_odc_driver_spark.sources.synthetic import (
    DEFAULT_SPEC,
    CubeSpec,
    synthetic_cube,
)


def _frames_equal(a_df, b_df):
    cols = sorted(a_df.columns)
    a = a_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    b = b_df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)
    return len(a)


_COARSE_SPEC = CubeSpec(ny=8, nx=8, resx=20.0, resy=20.0,
                        va=11, vb=5, vc=23, vd=3, nm=29)


def _relabel_cube(spark):
    """An upscale-relabel TiledCube: 8×8 @ res 20 snapped onto the fine
    res-10 lattice — the tile DataFrame is untouched (zero shuffle) and
    the grid is re-anchored to the occupied COARSE lattice, NOT the
    fine target grid (core/tiled.py resample_cube_spatial_tiled)."""
    src = synthetic_cube(spark, _COARSE_SPEC)
    target = Cube(
        src.df,
        CubeSchema(
            bands=DEFAULT_SPEC.bands, crs="EPSG:32632",
            grid=GridSpec(x0=0.0, y0=150.0, resx=10.0, resy=10.0),
        ),
    )
    tc = t.resample_cube_spatial_tiled(
        t.to_tiled(src, tile=8, n_y=8, n_x=8), target
    )
    assert (tc.n_y, tc.n_x) == (8, 8)  # relabel: source scene dims
    assert tc.schema.grid.resx == 20.0  # occupied lattice, not res 10
    return tc


def test_mask_tiled_grid_mismatch_demotes(spark):
    """mask_tiled on a relabel cube vs a fine-grid mask must NOT join
    tile indices across different lattices (tile (0,0) covers 160 m on
    one side, 80 m on the other) — it raises the demotion signal."""
    relabel = _relabel_cube(spark)
    fine_mask = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    with pytest.raises(t.TiledRegridUnsupported):
        t.mask_tiled(relabel, fine_mask)


def test_merge_cubes_tiled_grid_mismatch_demotes_not_errors(spark):
    """merge_cubes_tiled used to raise ValueError('scene mismatch')
    where the long plan succeeds — breaking demote-never-error. Both
    the grid and the scene check now raise TiledRegridUnsupported."""
    relabel = _relabel_cube(spark)
    fine = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    with pytest.raises(t.TiledRegridUnsupported):
        t.merge_cubes_tiled(relabel, fine)


def test_mask_tiled_retiles_mismatched_mask_edge(spark):
    """Same grid, different tile edges (two stores with different
    layouts): the mask side adapts through the fragment repack instead
    of erroring — result identical to the same-edge join."""
    from openeo_odc_driver_spark.sources.synthetic import MASK_SPEC

    data = synthetic_cube(spark)
    mask = synthetic_cube(spark, MASK_SPEC)
    same = t.mask_tiled(
        t.to_tiled(data, tile=8, n_y=16, n_x=16),
        t.to_tiled(mask, tile=8, n_y=16, n_x=16),
    )
    mixed = t.mask_tiled(
        t.to_tiled(data, tile=8, n_y=16, n_x=16),
        t.to_tiled(mask, tile=5, n_y=16, n_x=16),
    )
    _frames_equal(t.from_tiled(same).df, t.from_tiled(mixed).df)


def test_upscale_then_mask_graph_demotes_and_matches_long(spark):
    """Planner E2E for the advisory's exact pattern: resample a coarse
    collection onto the fine grid (upscale relabel), align its time
    axis, then mask with a band of the fine collection. Tiled mode must
    demote the mask (recorded) and match the long plan exactly."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    graph = {"process_graph": {
        "loadf": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic",
                                "bands": ["B04", "B08", "SCL"]}},
        "loadc": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic_coarse"}},
        "snap": {"process_id": "resample_cube_spatial",
                 "arguments": {"data": {"from_node": "loadc"},
                               "target": {"from_node": "loadf"},
                               "method": "near"}},
        "align": {"process_id": "resample_cube_temporal",
                  "arguments": {"data": {"from_node": "snap"},
                                "target": {"from_node": "loadf"}}},
        "mband": {"process_id": "filter_bands",
                  "arguments": {"data": {"from_node": "loadf"},
                                "bands": ["SCL"]}},
        "masked": {"process_id": "mask",
                   "arguments": {"data": {"from_node": "align"},
                                 "mask": {"from_node": "mband"}},
                   "result": True},
    }}
    pg = ProcessGraph(graph, save_dir="/tmp/pg_upmask_tiled", tiled=True)
    tiled_out = pg.execute(spark)
    assert "mask" in pg.tiled_demotions
    long_pg = ProcessGraph(graph, save_dir="/tmp/pg_upmask_long")
    long_out = long_pg.execute(spark)
    n = _frames_equal(tiled_out.df, long_out.df)
    assert n > 0
    # non-degenerate: the align step gave the coarse cube the fine
    # cube's timestamps, so some pixels survive the mask
    surv = tiled_out.df.where("value IS NOT NULL").count()
    assert surv > 0


def _overlap_merge_graph(resolver):
    """Two same-band same-time collections merged — requires a
    resolver. `resolver` plugs into the merge node's arguments."""
    return {"process_graph": {
        "a": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "b": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "m": {"process_id": "merge_cubes",
              "arguments": {"cube1": {"from_node": "a"},
                            "cube2": {"from_node": "b"},
                            **resolver},
              "result": True},
    }}


def test_planner_merge_overlap_resolver_child_graph(spark):
    """openEO-standard resolver: a child process graph over parameters
    x/y compiles into the operators' binary resolver hook (round 13 —
    the planner previously ignored the argument and errored)."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    resolver = {"overlap_resolver": {"process_graph": {
        "r": {"process_id": "max",
              "arguments": {"x": {"from_parameter": "x"},
                            "y": {"from_parameter": "y"}},
              "result": True},
    }}}
    pg = ProcessGraph(_overlap_merge_graph(resolver),
                      save_dir="/tmp/pg_mr_long")
    out = pg.execute(spark)
    # max(v, v) over two identical collections == the collection
    n = _frames_equal(out.df, synthetic_cube(spark).df)
    assert n == 3 * 24 * 16 * 16

    tpg = ProcessGraph(_overlap_merge_graph(resolver),
                       save_dir="/tmp/pg_mr_tiled", tiled=True)
    tiled_out = tpg.execute(spark)
    assert tpg.tiled_demotions == []
    _frames_equal(tiled_out.df, out.df)


def test_planner_merge_overlap_resolver_from_node_quirk(spark):
    """Reference quirk parity (openeo_odc_driver.py:1181-1187): when
    the resolver is a from_node pointing at a sibling NODE, merge
    forwards that node's already-evaluated result."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    g = _overlap_merge_graph({"overlap_resolver": {"from_node": "rv"}})
    g["process_graph"]["rv"] = {
        "process_id": "reduce_dimension",
        "arguments": {"data": {"from_node": "a"}, "dimension": "bands",
                      "reducer": {"process_graph": {
                          "mx": {"process_id": "max",
                                 "arguments": {
                                     "data": {"from_parameter": "data"}},
                                 "result": True}}}},
    }
    pg = ProcessGraph(g, save_dir="/tmp/pg_mr_quirk")
    out = pg.execute(spark)
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    expected = reduce_dimension(synthetic_cube(spark), "bands", "max").df
    _frames_equal(out.df, expected)


def test_planner_merge_overlap_missing_resolver_still_errors(spark):
    """Without any resolver, overlapping cubes keep the reference's
    OverlapResolverMissing-shaped error in BOTH modes."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    for tiled in (False, True):
        pg = ProcessGraph(_overlap_merge_graph({}),
                          save_dir="/tmp/pg_mr_err", tiled=tiled)
        with pytest.raises(ValueError, match="overlap_resolver"):
            pg.execute(spark)


_GEO_SPEC_4326 = CubeSpec(
    resx=0.0078125, resy=0.00390625, x0=11.2890625, y0=46.51953125,
)


def test_proj_inverse_roundtrip():
    """Vectorized inverse TM round-trips the scalar forward to <1e-6°
    (sub-pixel for any realistic grid); central-meridian and equator
    anchors hold independently of the round trip."""
    import numpy as np

    from openeo_odc_driver_spark.functions.proj import (
        utm_to_wgs84_np,
        wgs84_to_utm,
    )

    rng = np.random.default_rng(7)
    lons = rng.uniform(9.01, 14.99, 300)
    lats = rng.uniform(-79.0, 84.0, 300)
    E, N = zip(*[wgs84_to_utm(lo, la, 32632) for lo, la in zip(lons, lats)])
    lo2, la2 = utm_to_wgs84_np(np.array(E), np.array(N), 32632)
    assert np.abs(lo2 - lons).max() < 1e-6
    assert np.abs(la2 - lats).max() < 1e-6
    # central meridian of zone 32 is exactly lon 9 → easting 500000
    e, n = wgs84_to_utm(9.0, 0.0, 32632)
    assert abs(e - 500000.0) < 1e-6 and abs(n) < 1e-6
    # south zone: same point carries the 10,000 km false northing
    e_s, n_s = wgs84_to_utm(9.0, -0.001, 32732)
    assert 9_999_000 < n_s < 10_000_000
    lo3, la3 = utm_to_wgs84_np(np.array([e_s]), np.array([n_s]), 32732)
    assert abs(lo3[0] - 9.0) < 1e-9 and abs(la3[0] + 0.001) < 1e-9


def test_resample_spatial_warp_values_and_geometry(spark):
    """The 4326→UTM warp: every output pixel's value equals the source
    value at the nearest source pixel of its inverse-projected center,
    and the metric pixel spacing matches ground truth (~111.32 km · cosφ
    per degree of longitude)."""
    import math

    import numpy as np

    from openeo_odc_driver_spark.functions.proj import (
        utm_to_wgs84_np,
        wgs84_to_utm,
    )
    from openeo_odc_driver_spark.operators.resample import (
        resample_spatial_warp,
    )

    cube = synthetic_cube(spark, _GEO_SPEC_4326)
    assert cube.schema.crs == "EPSG:4326"
    out = resample_spatial_warp(cube, 32632, 200.0)
    assert out.schema.crs == "EPSG:32632"
    assert out.schema.grid.resx == 200.0
    pdf = out.df.toPandas()
    assert len(pdf) > 0
    # independent physics: 0.0078125° of longitude at ~46.5°N ≈ 598.6 m
    e1, _ = wgs84_to_utm(_GEO_SPEC_4326.x0, _GEO_SPEC_4326.y0, 32632)
    e2, _ = wgs84_to_utm(_GEO_SPEC_4326.x0 + _GEO_SPEC_4326.resx,
                         _GEO_SPEC_4326.y0, 32632)
    expect = 111_320.0 * math.cos(math.radians(46.5)) * 0.0078125
    assert abs((e2 - e1) - expect) < 2.0
    # value parity: recompute each output pixel's source index from its
    # UTM center and compare against the source long frame
    src = cube.df.toPandas()
    src["_yi"] = np.rint(
        (_GEO_SPEC_4326.y0 - src["y"]) / _GEO_SPEC_4326.resy
    ).astype(int)
    src["_xi"] = np.rint(
        (src["x"] - _GEO_SPEC_4326.x0) / _GEO_SPEC_4326.resx
    ).astype(int)
    lut = {(b, ts, int(yy), int(xx)): v
           for b, ts, yy, xx, v in src[
               ["band", "time", "_yi", "_xi", "value"]
           ].itertuples(index=False, name=None)}
    lon, lat = utm_to_wgs84_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                               32632)
    yi = np.floor((_GEO_SPEC_4326.y0 - lat) / _GEO_SPEC_4326.resy
                  + 0.5).astype(int)
    xi = np.floor((lon - _GEO_SPEC_4326.x0) / _GEO_SPEC_4326.resx
                  + 0.5).astype(int)
    for i in range(len(pdf)):
        want = lut[(pdf["band"].iloc[i], pdf["time"].iloc[i],
                    int(yi[i]), int(xi[i]))]
        got = pdf["value"].iloc[i]
        assert (got == want) or (
            got is None and want is None
        ) or (got != got and want != want)


def test_planner_resample_spatial_projection(spark):
    """Graph-level: resample_spatial with resolution + projection runs
    the warp (not the silent drop it used to be) and does NOT fold into
    the scan."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    g = {"process_graph": {
        "load": {"process_id": "load_collection",
                 "arguments": {"id": "s2_l2a"}},
        "warp": {"process_id": "resample_spatial",
                 "arguments": {"data": {"from_node": "load"},
                               "resolution": 500,
                               "projection": 32632},
                 "result": True},
    }}
    pg = ProcessGraph(g, save_dir="/tmp/pg_warp")
    out = pg.execute(spark)
    assert out.schema.crs == "EPSG:32632"
    assert out.schema.grid.resx == 500.0
    assert out.df.count() > 0


# id kept stable for test history: to_tiled has one engine now; this
# checks a NaN-bearing cube packs exactly like the same cube with NULLs
def test_to_tiled_nan_folds_to_null_both_engines(spark):
    """Tiled-boundary convention (round 13): a float NaN input VALUE
    folds to NULL on pack — the packed array's only missing-value
    representation is NULL, so a NaN-bearing cube packs exactly like
    the same cube with those cells NULL."""
    from pyspark.sql import functions as F

    src = synthetic_cube(spark)
    hit = (F.col("x") < 20) & F.col("value").isNotNull()
    nan_df = src.df.withColumn(
        "value", F.when(hit, F.lit(float("nan"))).otherwise(F.col("value")),
    )
    null_df = src.df.withColumn(
        "value", F.when(hit, F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    a = t.to_tiled(Cube(nan_df, src.schema), tile=8, n_y=16, n_x=16)
    b = t.to_tiled(Cube(null_df, src.schema), tile=8, n_y=16, n_x=16)
    keys = ["band", "time", "tile_row", "tile_col"]
    pa = a.df.toPandas().sort_values(keys).reset_index(drop=True)
    pb = b.df.toPandas().sort_values(keys).reset_index(drop=True)
    assert len(pa) == 3 * 24 * 4  # 2x2 tiles per (band, time)
    pd.testing.assert_frame_equal(
        pa[sorted(pa.columns)], pb[sorted(pb.columns)],
        check_exact=True, check_dtype=False,
    )
    # and no NaN survives into the packed arrays
    nan_tiles = a.df.where(
        "exists(data, v -> isnan(v))"
    ).count()
    assert nan_tiles == 0


def _banded_grid_cube(spark, spec=None):
    """Time-reduced (band, y, x) cube — the GTiff-writable shape."""
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    return reduce_dimension(
        synthetic_cube(spark, spec) if spec else synthetic_cube(spark),
        "time", "mean",
    )


def test_gtiff_tiled_matches_driver_writer(spark, tmp_path):
    """The distributed tiled writer (executors pwrite tiles at static
    offsets, zero driver pixels) decodes to the SAME raster and geo
    tags as the driver-side single-strip writer (sinks/save.py)."""
    import numpy as np

    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        decode_tiff,
        save_gtiff_tiled,
    )
    from openeo_odc_driver_spark.sinks.save import save_gtiff

    cube = _banded_grid_cube(spark)
    long_path = save_gtiff(cube, str(tmp_path / "long"))
    tc = t.to_tiled(cube, tile=8, n_y=16, n_x=16)  # retiles to 16 inside
    dist_path = save_gtiff_tiled(tc, str(tmp_path / "dist"))
    a, ma = decode_tiff(long_path)
    b, mb = decode_tiff(dist_path)
    assert mb["tiled"] and not ma["tiled"]
    assert a.shape == b.shape == (3, 16, 16)
    assert np.array_equal(a, b, equal_nan=True)
    assert ma["pixel_scale"] == mb["pixel_scale"]
    assert ma["tiepoint"] == mb["tiepoint"]
    assert ma["geo_keys"] == mb["geo_keys"]


def test_gtiff_tiled_partial_edge_tiles(spark, tmp_path):
    """A scene that is not a tile multiple (18×13, T=16): padding lives
    only in the file's edge tiles and the decode drops it — pixel-equal
    to the driver-side writer."""
    import numpy as np

    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        decode_tiff,
        save_gtiff_tiled,
    )
    from openeo_odc_driver_spark.sinks.save import save_gtiff

    spec = CubeSpec(ny=18, nx=13)
    cube = _banded_grid_cube(spark, spec)
    long_path = save_gtiff(cube, str(tmp_path / "long"))
    tc = t.to_tiled(cube, tile=16, n_y=18, n_x=13)
    dist_path = save_gtiff_tiled(tc, str(tmp_path / "dist"))
    a, _ = decode_tiff(long_path)
    b, mb = decode_tiff(dist_path)
    assert a.shape == b.shape == (3, 18, 13)
    assert np.array_equal(a, b, equal_nan=True)
    assert not mb["bigtiff"]


def test_gtiff_tiled_bigtiff_roundtrip(spark, tmp_path):
    """force_bigtiff exercises the 8-byte-offset layout end to end (the
    auto switch fires above the 4 GiB pixel region — a 1.26 G-px scene —
    which this decodes at miniature scale)."""
    import numpy as np

    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        decode_tiff,
        save_gtiff_tiled,
    )

    cube = _banded_grid_cube(spark)
    tc = t.to_tiled(cube, tile=16, n_y=16, n_x=16)
    p_small = save_gtiff_tiled(tc, str(tmp_path / "classic"))
    p_big = save_gtiff_tiled(tc, str(tmp_path / "big"), force_bigtiff=True)
    a, ma = decode_tiff(p_small)
    b, mb = decode_tiff(p_big)
    assert not ma["bigtiff"] and mb["bigtiff"]
    assert np.array_equal(a, b, equal_nan=True)
    assert ma["tiepoint"] == mb["tiepoint"]


def test_gtiff_tiled_sparse_scene_nan_fills(spark, tmp_path):
    """Missing tiles (sparse cube) read back as NaN, not zeros — the
    driver's streaming pre-fill covers exactly the untouched ranges."""
    import numpy as np
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        decode_tiff,
        save_gtiff_tiled,
    )

    spec = CubeSpec(ny=32, nx=32)
    cube = _banded_grid_cube(spark, spec)
    tc = t.to_tiled(cube, tile=16, n_y=32, n_x=32)
    holey = t.TiledCube(
        tc.df.where(~((F.col("tile_row") == 1) & (F.col("tile_col") == 0))),
        tc.schema, tc.tile, tc.n_y, tc.n_x,
    )
    path = save_gtiff_tiled(holey, str(tmp_path / "sparse"))
    arr, _ = decode_tiff(path)
    assert np.isnan(arr[:, 16:32, 0:16]).all()      # the dropped tile
    assert not np.isnan(arr[:, 0:16, 0:16]).all()   # present tiles intact


def test_gtiff_tiled_source_roundtrip(spark, tmp_path):
    """load_gtiff_tiled (distributed pread source) round-trips the
    distributed sink pixel- and coordinate-exactly: NULL→NaN(f32)→NULL,
    grid recovered from ModelPixelScale/Tiepoint, CRS from GeoKeys."""
    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        load_gtiff_tiled,
        save_gtiff_tiled,
    )

    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    # max keeps the fixture's dyadic values — float32-exact through the
    # file (mean of 24 values is NOT f32-representable)
    cube = reduce_dimension(
        synthetic_cube(spark, CubeSpec(ny=18, nx=13)), "time", "max"
    )
    tc = t.to_tiled(cube, tile=16, n_y=18, n_x=13)
    path = save_gtiff_tiled(tc, str(tmp_path / "scene"))
    back = load_gtiff_tiled(spark, path, bands=cube.schema.bands)
    assert back.tile == 16 and (back.n_y, back.n_x) == (18, 13)
    assert back.schema.crs == "EPSG:32632"
    assert back.schema.grid == cube.schema.grid
    n = _frames_equal(t.from_tiled(back).df, t.from_tiled(tc).df)
    assert n == 3 * 18 * 13
    # zero shuffle: the source plan has no exchange
    plan = back.df._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan or "range" in plan.lower()


def test_gtiff_tiled_deflate_roundtrip(spark, tmp_path):
    """compress='deflate' (the COG-standard codec): executors stage
    compressed blobs, the driver gathers only the byte-count index and
    stream-concats — decode equals the uncompressed file bit-exactly,
    the distributed source reads it back, and a sparse scene's missing
    tiles decode as tiny NaN blobs."""
    import numpy as np
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        decode_tiff,
        load_gtiff_tiled,
        save_gtiff_tiled,
    )

    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    cube = reduce_dimension(  # max: dyadic values stay f32-exact
        synthetic_cube(spark, CubeSpec(ny=18, nx=13)), "time", "max"
    )
    tc = t.to_tiled(cube, tile=16, n_y=18, n_x=13)
    p_raw = save_gtiff_tiled(tc, str(tmp_path / "raw"))
    p_z = save_gtiff_tiled(tc, str(tmp_path / "z"), compress="deflate")
    import os

    assert os.path.getsize(p_z) < os.path.getsize(p_raw)
    a, ma = decode_tiff(p_raw)
    b, mb = decode_tiff(p_z)
    assert ma["compression"] == 1 and mb["compression"] == 8
    assert np.array_equal(a, b, equal_nan=True)
    # the distributed source reads the compressed file too
    back = load_gtiff_tiled(spark, p_z, bands=cube.schema.bands)
    n = _frames_equal(t.from_tiled(back).df, t.from_tiled(tc).df)
    assert n == 3 * 18 * 13

    # sparse: a dropped tile decodes as NaN (per-missing-tile NaN blob)
    holey = t.TiledCube(
        tc.df.where(~((F.col("tile_row") == 1) & (F.col("tile_col") == 0))),
        tc.schema, tc.tile, tc.n_y, tc.n_x,
    )
    p_sparse = save_gtiff_tiled(holey, str(tmp_path / "sp"),
                                compress="deflate")
    arr, _ = decode_tiff(p_sparse)
    assert np.isnan(arr[:, 16:18, 0:13]).all()
    assert not np.isnan(arr[:, 0:16, 0:13]).all()


def test_gtiff_tiled_source_bigtiff_and_default_bands(spark, tmp_path):
    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        load_gtiff_tiled,
        save_gtiff_tiled,
    )

    cube = _banded_grid_cube(spark)
    tc = t.to_tiled(cube, tile=16, n_y=16, n_x=16)
    path = save_gtiff_tiled(tc, str(tmp_path / "big"), force_bigtiff=True)
    # r14: with the sidecar present the real band names round-trip;
    # b1..bn is the FOREIGN-TIFF fallback (no sidecar)
    back = load_gtiff_tiled(spark, path)
    assert back.schema.bands == ("B04", "B08", "SCL")
    import os

    os.remove(str(tmp_path / "big.json"))
    back = load_gtiff_tiled(spark, path)
    assert back.schema.bands == ("b1", "b2", "b3")
    got = t.from_tiled(back).df.groupBy("band").count().collect()
    assert {r["band"]: r["count"] for r in got} == {
        "b1": 256, "b2": 256, "b3": 256
    }


def test_planner_tiled_gtiff_sink_distributed(spark, tmp_path):
    """Planner E2E: the NDVI-median graph's GTiff sink in tiled mode
    rides the distributed tiled writer (no driver pixel collect) and
    its artifact decodes pixel-equal to the long plan's single-strip
    GTiff."""
    import numpy as np

    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.sinks.gtiff_tiled import decode_tiff

    pg = ProcessGraph.from_file(
        "tests/process_graphs/ndvi_median.json",
        save_dir=str(tmp_path / "tiled"), tiled=True,
    )
    pg.execute(spark)
    long_pg = ProcessGraph.from_file(
        "tests/process_graphs/ndvi_median.json",
        save_dir=str(tmp_path / "long"),
    )
    long_pg.execute(spark)
    a, ma = decode_tiff(str(tmp_path / "tiled" / "save.tif"))
    b, mb = decode_tiff(str(tmp_path / "long" / "save.tif"))
    assert ma["tiled"] and not mb["tiled"]
    assert a.shape == b.shape
    assert np.array_equal(a, b, equal_nan=True)
    assert ma["tiepoint"] == mb["tiepoint"]


def test_gtiff_tiled_time_rejected(spark, tmp_path):
    from openeo_odc_driver_spark.sinks.gtiff_tiled import save_gtiff_tiled

    tc = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    with pytest.raises(ValueError, match="reduce time first"):
        save_gtiff_tiled(tc, str(tmp_path / "nope"))


def _tiled_rows(tc):
    keys = [c for c in tc.df.columns if c != "data"]
    pdf = tc.df.toPandas().sort_values(keys).reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


@pytest.mark.parametrize("spec,t_in,t_out", [
    (None, 16, 8),            # SPLIT k=2, exact tiling
    (CubeSpec(ny=18, nx=13), 16, 4),   # SPLIT k=4, partial edge tiles
    (None, 8, 16),            # MERGE k=2, exact tiling
    (CubeSpec(ny=18, nx=13), 4, 16),   # MERGE k=4, partial + missing
])
def test_retile_integer_ratio_jvm_matches_python(spark, spec, t_in, t_out):
    """Round 13: the JVM integer-ratio retile (zero-shuffle split /
    k²-role merge) is row-identical to the Python fragment plan it
    replaces, including NULL padding on partial edge tiles."""
    from openeo_odc_driver_spark.core.tiled import (
        _retile_integer_ratio_jvm,
        _retile_python,
    )

    cube = synthetic_cube(spark, spec) if spec else synthetic_cube(spark)
    ny, nx = (spec.ny, spec.nx) if spec else (16, 16)
    tc = t.to_tiled(cube, tile=t_in, n_y=ny, n_x=nx)
    jvm = _retile_integer_ratio_jvm(tc, t_out, tc.schema)
    py = _retile_python(tc, t_out, 0, 0, ny, nx, tc.schema)
    a, b = _tiled_rows(jvm), _tiled_rows(py)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a, b, check_exact=True, check_dtype=False)
    # and the repack is lossless end-to-end
    n = _frames_equal(t.from_tiled(jvm).df, cube.df)
    assert n == 3 * 24 * ny * nx


def test_retile_integer_ratio_split_is_shuffle_free(spark):
    """The SPLIT direction (new edge divides old) must be a pure
    projection — no Exchange in the optimized plan."""
    tc = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    out = t.retile(tc, 8)
    plan = out.df._jdf.queryExecution().optimizedPlan().toString()
    # the only exchange allowed is the one to_tiled itself planted
    packed = tc.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == packed.count("Aggregate")


def test_retile_sparse_merge_null_blocks(spark):
    """MERGE with a missing source tile: its block coalesces to NULL in
    the destination canvas (same as the Python plan's absent group)."""
    import numpy as np
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.core.tiled import _retile_python

    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    holey = t.TiledCube(
        tc.df.where(~((F.col("tile_row") == 1) & (F.col("tile_col") == 1))),
        tc.schema, tc.tile, tc.n_y, tc.n_x,
    )
    jvm = t.retile(holey, 16)
    py = _retile_python(holey, 16, 0, 0, 16, 16, tc.schema)
    pd.testing.assert_frame_equal(
        _tiled_rows(jvm), _tiled_rows(py),
        check_exact=True, check_dtype=False,
    )
    one = jvm.df.where("band = 'B04'").limit(1).collect()[0]["data"]
    block = np.array(one, dtype="float64").reshape(16, 16)[8:, 8:]
    assert np.isnan(block).all()


@pytest.mark.parametrize("ny,nx,tile", [
    (18, 13, 8),   # partial on both axes
    (16, 13, 8),   # exact rows, partial cols
    (18, 18, 6),   # exact with tile 6 (3x3 tiles)... 18%6==0 exact
    (10, 10, 4),   # vh_last = vw_last = 2 (> radius 1)
])
def test_tiled_kernel_wrap_partial_matches_long(spark, ny, nx, tile):
    """Round 13 (VERDICT r12 item 7): periodic border natively on tiles
    over PARTIAL tilings — crossing strips slice the last VALID
    rows/cols and land adjacent to the target's valid region; pixel-
    equal to the long shift-and-sum scatter."""
    from openeo_odc_driver_spark.operators.kernel import apply_kernel

    kernel = [[0.0, 0.25, 0.0], [0.25, -1.0, 0.25], [0.0, 0.25, 0.0]]
    cube = synthetic_cube(spark, CubeSpec(ny=ny, nx=nx))
    long_df = apply_kernel(cube, kernel, factor=2.0, border="wrap").df
    tc = t.to_tiled(cube, tile=tile, n_y=ny, n_x=nx)
    tiled_df = t.from_tiled(
        t.apply_kernel_tiled_layout(tc, kernel, factor=2.0, border="wrap")
    ).df
    n = _frames_equal(long_df, tiled_df)
    assert n == 3 * 24 * ny * nx


def test_tiled_kernel_wrap_radius_over_span_demotes(spark):
    """Radius larger than the last tile's valid span still demotes
    (the crossing strip would straddle two source tiles)."""
    cube = synthetic_cube(spark, CubeSpec(ny=17, nx=16))  # vh_last = 1
    tc = t.to_tiled(cube, tile=8, n_y=17, n_x=16)
    k5 = [[0.0] * 5 for _ in range(5)]
    k5[2][2] = 1.0
    with pytest.raises(NotImplementedError, match="wrap radius"):
        t.apply_kernel_tiled_layout(tc, k5, border="wrap")


def test_graph_md5_legacy_long_mode_keys(spark):
    """Long-mode cache keys use the ORIGINAL bare-graph serialization
    (pre-tiled rows still hit); tiled keys are mode-wrapped and
    distinct."""
    import hashlib

    from openeo_odc_driver_spark.service import _graph_md5

    payload = {"process_graph": {"n": {"process_id": "load_collection",
                                       "arguments": {"id": "synthetic"},
                                       "result": True}}}
    legacy = hashlib.md5(
        json.dumps(payload["process_graph"], sort_keys=True).encode()
    ).hexdigest()
    assert _graph_md5(payload) == legacy
    assert _graph_md5(payload, tiled=True) != legacy
    assert _graph_md5(payload, tiled=True, tile=16) != _graph_md5(
        payload, tiled=True, tile=8
    )
