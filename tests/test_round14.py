"""Round-14 pins.

1. The warp keep-mask CROP bug (ADVICE r13, high): source-index keep
   bounds were measured from the grid ORIGIN but sized from the DATA
   extent, so any cropped cube (filter_bbox keeps the GridSpec anchor)
   silently lost its east/south — or everything. Bounds now anchor at
   the data extent's index window.
2. Warp directions UTM→4326 and UTM→UTM, and the bilinear method
   (VERDICT r13 item 4), with independent ground truth: bilinear over
   a linear field is exact; a constant field stays constant under
   weight renormalization.
3. Planner routing: ``projection == cube CRS`` is a resolution-only
   resample, not a warp death in ``utm_zone_from_epsg``; non-UTM
   targets fail fast with a named error BEFORE the extent aggregate
   (ADVICE r13, low ×2).
"""
import math

import numpy as np
import pytest

from openeo_odc_driver_spark.core.cube import VALUE, X, Y
from openeo_odc_driver_spark.operators.resample import (
    resample_spatial_warp,
)
from openeo_odc_driver_spark.sources.synthetic import (
    CubeSpec,
    synthetic_cube,
)

_GEO_SPEC_4326 = CubeSpec(
    resx=0.0078125, resy=0.00390625, x0=11.2890625, y0=46.51953125,
)
# a realistic zone-32 metric grid near the 4326 fixture's footprint
_UTM_SPEC = CubeSpec(x0=676000.0, y0=5153000.0, resx=10.0, resy=10.0)


def _lut(cube, spec):
    """(band, time, yi, xi) -> value from the long frame, indices
    relative to the GRID ORIGIN (spec.x0/y0)."""
    src = cube.df.toPandas()
    src["_yi"] = np.rint((spec.y0 - src["y"]) / spec.resy).astype(int)
    src["_xi"] = np.rint((src["x"] - spec.x0) / spec.resx).astype(int)
    return {
        (b, ts, int(yy), int(xx)): v
        for b, ts, yy, xx, v in src[
            ["band", "time", "_yi", "_xi", "value"]
        ].itertuples(index=False, name=None)
    }


def _check_near_parity(pdf, lut, spec, to_source):
    """Every warp output equals the source value at the nearest source
    pixel of its inverse-projected center."""
    sx, sy = to_source(pdf["x"].to_numpy(), pdf["y"].to_numpy())
    xi = np.floor((sx - spec.x0) / spec.resx + 0.5).astype(int)
    yi = np.floor((spec.y0 - sy) / spec.resy + 0.5).astype(int)
    for i in range(len(pdf)):
        want = lut[(pdf["band"].iloc[i], pdf["time"].iloc[i],
                    int(yi[i]), int(xi[i]))]
        got = pdf["value"].iloc[i]
        assert (got == want) or (got is None and want is None) or (
            got != got and want != want
        )


def test_warp_cropped_cube_keeps_east_south(spark):
    """ADVICE r13 (high): crop the 4326 cube to its EAST half (data
    min x > grid x0) and warp.  With origin-anchored bounds the whole
    output vanished; with the index-window fix every target pixel maps
    to a kept source pixel and parity holds."""
    from openeo_odc_driver_spark.functions.proj import utm_to_wgs84_np

    spec = _GEO_SPEC_4326
    full = synthetic_cube(spark, spec)
    crop_x = spec.x0 + 8 * spec.resx  # keep xi >= 8 (east half)
    from openeo_odc_driver_spark.core.cube import Cube

    cropped = Cube(full.df.where(full.df[X] >= crop_x), full.schema)
    out = resample_spatial_warp(cropped, 32632, 200.0)
    pdf = out.df.toPandas()
    # the east half is 8 source columns * ~598 m/col ≈ 4.8 km wide →
    # ~24 target columns at 200 m; the bug produced ZERO rows here
    assert len(pdf) > 200
    lut = _lut(cropped, spec)
    _check_near_parity(
        pdf, lut, spec, lambda e, n: utm_to_wgs84_np(e, n, 32632)
    )
    # and the footprint really is the EAST half: output easting span
    # must cover the cropped extent's projected width, not collapse
    from openeo_odc_driver_spark.functions.proj import wgs84_to_utm

    e_lo, _ = wgs84_to_utm(crop_x, spec.y0, 32632)
    e_hi, _ = wgs84_to_utm(spec.x0 + 15 * spec.resx, spec.y0, 32632)
    assert pdf["x"].max() - pdf["x"].min() > 0.8 * (e_hi - e_lo)


def test_wgs84_to_utm_np_matches_scalar():
    from openeo_odc_driver_spark.functions.proj import (
        wgs84_to_utm,
        wgs84_to_utm_np,
    )

    rng = np.random.default_rng(11)
    lons = rng.uniform(9.01, 14.99, 200)
    lats = rng.uniform(-79.0, 84.0, 200)
    E, N = wgs84_to_utm_np(lons, lats, 32632)
    for i in range(0, 200, 17):
        e, n = wgs84_to_utm(float(lons[i]), float(lats[i]), 32632)
        assert E[i] == pytest.approx(e, abs=1e-9)
        assert N[i] == pytest.approx(n, abs=1e-9)
    # south zone false northing
    Es, Ns = wgs84_to_utm_np(np.array([9.0]), np.array([-0.001]), 32732)
    assert 9_999_000 < Ns[0] < 10_000_000


def test_warp_utm_to_wgs84(spark):
    """UTM→4326 direction (round 14): per-pixel parity via the forward
    transform; output lattice is degree multiples of the resolution."""
    from openeo_odc_driver_spark.functions.proj import wgs84_to_utm_np

    cube = synthetic_cube(spark, _UTM_SPEC)
    assert cube.schema.crs == "EPSG:32632"
    out = resample_spatial_warp(cube, 4326, 0.0001)
    assert out.schema.crs == "EPSG:4326"
    pdf = out.df.toPandas()
    assert len(pdf) > 0
    lut = _lut(cube, _UTM_SPEC)
    _check_near_parity(
        pdf, lut, _UTM_SPEC,
        lambda lo, la: wgs84_to_utm_np(lo, la, 32632),
    )
    # lattice anchored on resolution multiples (pixel centers at
    # k*res + res/2)
    fx = (pdf["x"].to_numpy() / 0.0001 - 0.5)
    assert np.abs(fx - np.rint(fx)).max() < 1e-6


def test_warp_utm_to_utm(spark):
    """UTM→UTM (zone 32 → zone 33) goes through lon/lat; parity via the
    composed transform."""
    from openeo_odc_driver_spark.functions.proj import (
        utm_to_wgs84_np,
        wgs84_to_utm_np,
    )

    cube = synthetic_cube(spark, _UTM_SPEC)
    out = resample_spatial_warp(cube, 32633, 20.0)
    assert out.schema.crs == "EPSG:32633"
    pdf = out.df.toPandas()
    assert len(pdf) > 0

    def to_src(e, n):
        lo, la = utm_to_wgs84_np(e, n, 32633)
        return wgs84_to_utm_np(lo, la, 32632)

    _check_near_parity(pdf, _lut(cube, _UTM_SPEC), _UTM_SPEC, to_src)


# linear field: value = (b*va + ti*vb + yi*vc + xi*vd)/8 - vs with a
# modulus too large to wrap for 16×16 indices → bilinear interpolation
# of the field is EXACT at any fractional (qx, qy)
_LINEAR_SPEC = CubeSpec(
    bands=("B04",), n_times=1, resx=0.0078125, resy=0.00390625,
    x0=11.2890625, y0=46.51953125, vm=100003, nm=99991,
)


def test_warp_bilinear_linear_field_exact(spark):
    """Bilinear over a field linear in (xi, yi) reproduces the plane:
    v(qx,qy) = c0 + vd/8*qx + vc/8*qy — independent ground truth, no
    shared code path with the operator's weight algebra."""
    from openeo_odc_driver_spark.functions.proj import utm_to_wgs84_np

    s = _LINEAR_SPEC
    cube = synthetic_cube(spark, s)
    out = resample_spatial_warp(cube, 32632, 100.0, method="bilinear")
    pdf = out.df.toPandas()
    assert len(pdf) > 100
    lon, lat = utm_to_wgs84_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                               32632)
    qx = (lon - s.x0) / s.resx
    qy = (s.y0 - lat) / s.resy
    # interior only: edge pixels have clipped neighbor sets whose
    # renormalized blend is a different (still correct) extrapolation
    inner = (qx >= 0) & (qx <= 15) & (qy >= 0) & (qy <= 15)
    # source pixel (0,0) is the spec's one NULL (index sum 0 % nm == 0);
    # its renormalized 3-neighbor blend is correct but not the plane
    inner &= ~((qx < 1) & (qy < 1))
    assert inner.sum() > 50
    c0 = -s.vs  # b=0, ti=0 term
    want = c0 + (s.vd / 8.0) * qx + (s.vc / 8.0) * qy
    got = pdf["value"].to_numpy()
    np.testing.assert_allclose(got[inner], want[inner], rtol=0, atol=1e-9)


def test_warp_bilinear_constant_field(spark):
    """vm=1 makes every value exactly -vs; renormalized weights keep the
    constant bit-exact wherever any neighbor is non-null (GDAL-style
    nodata blending, matching resample_cube_spatial_bilinear)."""
    s = CubeSpec(bands=("B04",), n_times=1, resx=0.0078125,
                 resy=0.00390625, x0=11.2890625, y0=46.51953125,
                 vm=1, nm=99991)
    cube = synthetic_cube(spark, s)
    out = resample_spatial_warp(cube, 32632, 150.0, method="bilinear")
    vals = out.df.where(out.df[VALUE].isNotNull()).toPandas()["value"]
    assert len(vals) > 100
    # sum(w·v)/sum(w) reassociates the constant — equal to the last ulp
    np.testing.assert_allclose(vals, -s.vs, rtol=0, atol=1e-12)


def test_warp_same_crs_routes_to_resolution_only(spark):
    """projection equal to the cube CRS (ADVICE r13, low): the planner
    treats it as a resolution-only resample — no utm_zone_from_epsg
    death, result matches the explicit resolution-only node."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    def graph(projection):
        n = {
            "load": {"process_id": "load_collection",
                     "arguments": {"id": "synthetic"}},
            "k": {"process_id": "apply",
                  "arguments": {"data": {"from_node": "load"},
                                "process": {"process_graph": {
                                    "a": {"process_id": "absolute",
                                          "arguments": {"x": {"from_parameter": "x"}},
                                          "result": True}}}}},
            "rs": {"process_id": "resample_spatial",
                   "arguments": {"data": {"from_node": "k"},
                                 "resolution": 20.0},
                   "result": True},
        }
        if projection is not None:
            n["rs"]["arguments"]["projection"] = projection
        return n

    pg_plain = ProcessGraph(graph(None), save_dir="/tmp/pg_r14a")
    pg_same = ProcessGraph(graph("EPSG:32632"), save_dir="/tmp/pg_r14b")
    a = pg_plain.execute(spark).df
    b = pg_same.execute(spark).df
    cols = sorted(a.columns)
    pa = a.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pb = b.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(pa, pb, check_exact=True)


def test_warp_non_utm_target_fails_fast(spark):
    """An unsupported target raises a NAMED NotImplementedError naming
    the EPSG — before any Spark job fires. (3035 was the r14 example;
    it is a real warp target since round 15, so Lambert-93 stands in.)"""
    cube = synthetic_cube(spark, _GEO_SPEC_4326)
    with pytest.raises(NotImplementedError, match="2154"):
        resample_spatial_warp(cube, 2154, 100.0)


def test_warp_rejects_same_crs_direct_call(spark):
    cube = synthetic_cube(spark, _GEO_SPEC_4326)
    with pytest.raises(ValueError, match="resolution-only"):
        resample_spatial_warp(cube, 4326, 0.001)


def test_resolver_standard_array_shape(spark):
    """ADVICE r13 (medium): the spec-conformant resolver shape
    ``max(data=[{from_parameter: x}, {from_parameter: y}])`` lowers to
    the same greatest/least as the binary x/y dialect instead of
    hard-erroring as an unsupported process — checked through the
    planner in both modes, plus a direct NULL-semantics unit."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph, _compile_expr
    from pyspark.sql import functions as F

    def merge_graph(resolver_node):
        return {"process_graph": {
            "a": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "b": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "m": {"process_id": "merge_cubes",
                  "arguments": {"cube1": {"from_node": "a"},
                                "cube2": {"from_node": "b"},
                                "overlap_resolver": {
                                    "process_graph": resolver_node}},
                  "result": True},
        }}

    array_max = {"r": {"process_id": "max",
                       "arguments": {"data": [
                           {"from_parameter": "x"},
                           {"from_parameter": "y"}]},
                       "result": True}}
    import pandas as pd

    for tiled in (False, True):
        pg = ProcessGraph(merge_graph(array_max),
                          save_dir="/tmp/pg_r14_res", tiled=tiled)
        out = pg.execute(spark)
        cols = sorted(out.df.columns)
        a = out.df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
        b = (synthetic_cube(spark).df.toPandas()[cols]
             .sort_values(cols).reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b, check_exact=True,
                                      check_dtype=False)

    # NULL semantics: greatest/least skip NULLs (openEO ignore_nodata)
    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 3.0), (4.0, None), (None, None)],
        "a double, b double")
    for pid, fn in (("max", F.greatest), ("min", F.least)):
        child = {"r": {"process_id": pid,
                       "arguments": {"data": [
                           {"from_parameter": "x"},
                           {"from_parameter": "y"}]},
                       "result": True}}
        got = df.select(
            _compile_expr(child, {"x": F.col("a"), "y": F.col("b")})
            .alias("v")).toPandas()["v"]
        want = df.select(fn("a", "b").alias("v")).toPandas()["v"]
        assert got.equals(want)


def test_gtiff_tiled_sidecar_and_band_roundtrip(spark, tmp_path):
    """ADVICE r13 (low): the tiled GTiff sink writes the same metadata
    sidecar as the driver-side sink (bands, axes, crs), and
    load_gtiff_tiled reads real band names back from it instead of
    inventing b1..bn — for both the uncompressed and DEFLATE paths."""
    import json

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        load_gtiff_tiled,
        save_gtiff_tiled,
    )

    cube = reduce_dimension(synthetic_cube(spark), "time", "max")
    tc = t.to_tiled(cube, tile=16, n_y=16, n_x=16)
    for compress in (None, "deflate"):
        tag = compress or "raw"
        p = save_gtiff_tiled(tc, str(tmp_path / tag), compress=compress)
        side = json.loads((tmp_path / f"{tag}.json").read_text())
        assert side["bands"] == ["B04", "B08", "SCL"]
        assert side["crs"] == "EPSG:32632"
        assert len(side["xs"]) == 16 and len(side["ys"]) == 16
        assert side["ys"][0] == 150.0 and side["xs"][0] == 0.0
        back = load_gtiff_tiled(spark, p)
        assert tuple(back.schema.bands) == ("B04", "B08", "SCL")
        # explicit bands= still wins over the sidecar
        named = load_gtiff_tiled(spark, p, bands=["r", "g", "b"])
        assert tuple(named.schema.bands) == ("r", "g", "b")


def test_gtiff_tiled_singleton_time_squeeze(spark, tmp_path):
    """VERDICT r13 item 5: an NDVI-shaped graph whose temporal extent
    selects exactly ONE time step writes through the DISTRIBUTED tiled
    sink (squeeze-then-write, zero driver pixel collect) instead of
    falling back to the long writer — and the artifact is pixel-equal
    to the long plan's."""
    import numpy as np

    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.sinks.gtiff_tiled import decode_tiff

    def graph():
        return {"process_graph": {
            "load": {"process_id": "load_collection",
                     "arguments": {
                         "id": "s2_l2a",
                         "temporal_extent": ["2022-06-03T00:00:00Z",
                                             "2022-06-04T00:00:00Z"],
                         "bands": ["B04", "B08"]}},
            "ndvi": {"process_id": "reduce_dimension",
                     "arguments": {
                         "data": {"from_node": "load"},
                         "dimension": "bands",
                         "reducer": {"process_graph": {
                             "nir": {"process_id": "array_element",
                                     "arguments": {"data": {"from_parameter": "data"},
                                                   "label": "B08"}},
                             "red": {"process_id": "array_element",
                                     "arguments": {"data": {"from_parameter": "data"},
                                                   "label": "B04"}},
                             "d": {"process_id": "subtract",
                                   "arguments": {"x": {"from_node": "nir"},
                                                 "y": {"from_node": "red"}}},
                             "s": {"process_id": "add",
                                   "arguments": {"x": {"from_node": "nir"},
                                                 "y": {"from_node": "red"}}},
                             "r": {"process_id": "divide",
                                   "arguments": {"x": {"from_node": "d"},
                                                 "y": {"from_node": "s"}},
                                   "result": True}}}}},
            "save": {"process_id": "save_result",
                     "arguments": {"data": {"from_node": "ndvi"},
                                   "format": "GTiff"},
                     "result": True},
        }}

    pg = ProcessGraph(graph(), save_dir=str(tmp_path / "tiled"), tiled=True)
    pg.execute(spark)
    long_pg = ProcessGraph(graph(), save_dir=str(tmp_path / "long"))
    long_pg.execute(spark)
    a, ma = decode_tiff(str(tmp_path / "tiled" / "save.tif"))
    b, mb = decode_tiff(str(tmp_path / "long" / "save.tif"))
    assert ma["tiled"] and not mb["tiled"]  # distributed sink was used
    assert a.shape == b.shape
    assert np.array_equal(a, b, equal_nan=True)
    assert ma["tiepoint"] == mb["tiepoint"]
    # a multi-step time axis still refuses the tiled sink (long fallback)
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import squeeze_time_tiled

    tc = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    assert squeeze_time_tiled(tc) is None


def test_raster_exchange_width_guard_and_scale(spark):
    """VERDICT r13 item 1: the raster fold exchanges size themselves
    from catalog constants. At gate scale the rule returns None (plan
    byte-identical — the oracle-determinism guard); at the probe's
    1.26 G-cell scale it widens well past the 32-partition default
    that measured memory-bound (exponent 1.55)."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import (
        _raster_exchange_width,
        _widen_df,
    )

    # gate scale: 16x16 px, 3 bands, 24 steps -> ~0.2 MB payload
    small = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    assert _raster_exchange_width(small) is None
    assert _widen_df(small, small.df, ["band", "tile_row", "tile_col"]) is small.df

    # probe scale as METADATA ONLY (the rule is action-free): the sf100
    # s2 scene — 2 bands x 30 days x 4580^2 px at tile 256
    from datetime import datetime, timedelta

    from openeo_odc_driver_spark.core.cube import CubeSchema, GridSpec
    from openeo_odc_driver_spark.core.tiled import TiledCube

    ax = tuple(datetime(2022, 6, 1) + timedelta(days=i) for i in range(30))
    big = TiledCube(
        small.df, CubeSchema(
            dims=("band", "time", "y", "x"), bands=("B04", "B08"),
            grid=GridSpec(0.0, 0.0, 10.0, 10.0), time_axis=ax,
        ), 256, 4580, 4580,
    )
    w = _raster_exchange_width(big)
    # payload = 18*18 tiles x 2 bands x 30 x 256^2 x 8 B ≈ 10.2 GB
    # -> ~300 partitions at 32 MiB/task (the band dim halves before median;
    assert w is not None and 120 <= w <= 400  # well past the default 32
    plan = (_widen_df(big, big.df, ["band", "tile_row", "tile_col"])
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "RepartitionByExpression" in plan


def test_tiled_store_time_axis_roundtrip(spark, tmp_path):
    """save_tiled persists the time axis; load_tiled restores it (and
    the implied extent) so stored scenes keep action-free planning."""
    from openeo_odc_driver_spark.core import tiled as t

    tc = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    assert tc.schema.time_axis is not None
    p = str(tmp_path / "store")
    t.save_tiled(tc, p)
    back = t.load_tiled(spark, p)
    assert back.schema.time_axis == tc.schema.time_axis
    assert back.schema.time_extent == (
        tc.schema.time_axis[0], tc.schema.time_axis[-1]
    )


@pytest.mark.parametrize("t_in,t_out,spec", [
    (24, 16, None),                     # gcd 8: split 3, merge 2
    (16, 24, None),                     # gcd 8: split 2, merge 3
    (32, 48, CubeSpec(ny=50, nx=37)),   # gcd 16, partial edge tiles
])
def test_retile_rational_ratio_jvm_matches_python(spark, t_in, t_out, spec):
    """Round 14 (VERDICT r13 item 6): rational edge ratios decompose
    split-to-gcd + merge-to-target through the two proven JVM paths —
    row-identical to the Python fragment plan, one raster exchange."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import _retile_python, retile

    cube = synthetic_cube(spark, spec) if spec else synthetic_cube(spark)
    ny, nx = (spec.ny, spec.nx) if spec else (16, 16)
    tc = t.to_tiled(cube, tile=t_in, n_y=ny, n_x=nx)
    out = retile(tc, t_out)
    py = _retile_python(tc, t_out, 0, 0, ny, nx, tc.schema)
    import pandas as pd

    def rows(x):
        keys = [c for c in x.df.columns if c != "data"]
        pdf = x.df.toPandas().sort_values(keys).reset_index(drop=True)
        return pdf[sorted(pdf.columns)]

    a, b = rows(out), rows(py)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_exact=True,
                                  check_dtype=False)
    # and the repack is lossless end-to-end
    back = t.from_tiled(out).df
    cols = sorted(back.columns)
    x = back.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    y = cube.df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(x, y, check_exact=True,
                                  check_dtype=False)


def test_retile_rational_gcd_too_small_stays_python(spark):
    """gcd < 16 (e.g. 20↔24, gcd 4) keeps the Python fragment plan —
    the decomposition would churn 16-element arrays."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import retile

    tc = t.to_tiled(synthetic_cube(spark), tile=20, n_y=16, n_x=16)
    out = retile(tc, 24)  # must still be CORRECT via the python path
    back = t.from_tiled(out).df
    assert back.count() == 3 * 24 * 16 * 16


def test_gtiff_tiled_time_as_planes(spark, tmp_path):
    """The reference's OTHER squeeze rule (openeo_odc_driver.py:
    1693-1703): a single-band cube with a multi-step time axis writes
    one GeoTIFF plane per timestamp. Now tile-native: the distributed
    sink's artifact decodes pixel-equal to the long writer's, planes
    in the same (chronological) order, labels round-tripping through
    the sidecar."""
    import json

    import numpy as np

    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.sinks.gtiff_tiled import decode_tiff

    def graph():
        return {"process_graph": {
            "load": {"process_id": "load_collection",
                     "arguments": {
                         "id": "s2_l2a",
                         "temporal_extent": ["2022-06-01T00:00:00Z",
                                             "2022-06-07T00:00:00Z"],
                         "bands": ["B08"]}},
            "save": {"process_id": "save_result",
                     "arguments": {"data": {"from_node": "load"},
                                   "format": "GTiff"},
                     "result": True},
        }}

    pg = ProcessGraph(graph(), save_dir=str(tmp_path / "tiled"), tiled=True)
    pg.execute(spark)
    long_pg = ProcessGraph(graph(), save_dir=str(tmp_path / "long"))
    long_pg.execute(spark)
    a, ma = decode_tiff(str(tmp_path / "tiled" / "save.tif"))
    b, mb = decode_tiff(str(tmp_path / "long" / "save.tif"))
    assert ma["tiled"] and not mb["tiled"]
    assert a.shape == b.shape == (6, 16, 16)  # 6 days -> 6 planes
    assert np.array_equal(a, b, equal_nan=True)
    # sidecar labels match the long sink's str(timestamp) plane labels
    side_t = json.loads((tmp_path / "tiled" / "save.json").read_text())
    side_l = json.loads((tmp_path / "long" / "save.json").read_text())
    assert side_t["bands"] == side_l["bands"]
    assert side_t["bands"][0].startswith("2022-06-01")
    # multi-band x multi-time still refuses both tiers identically
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import time_to_planes_tiled

    tc = t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16)
    assert time_to_planes_tiled(tc) is None


def test_warp_tiled_matches_long(spark):
    """The tile-native projection warp (round 14): value parity with
    the LONG warp on every row the long warp emits, and the tiled
    tier's only extra rows are the NULL fringe (target cells whose
    nearest source pixel is off-scene — the packed canvas has no
    absent-pixel representation)."""
    import pandas as pd

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import (
        from_tiled,
        resample_spatial_warp_tiled,
    )

    spec = _GEO_SPEC_4326
    cube = synthetic_cube(spark, spec)
    tc = t.to_tiled(cube, tile=16, n_y=16, n_x=16)
    tiled_out = resample_spatial_warp_tiled(tc, 32632, 200.0)
    assert tiled_out.schema.crs == "EPSG:32632"
    got = from_tiled(tiled_out).df.toPandas()
    want = resample_spatial_warp(cube, 32632, 200.0).df.toPandas()
    cols = ["band", "time", "y", "x"]
    g = got.set_index(cols)["value"].sort_index()
    w = want.set_index(cols)["value"].sort_index()
    # every long row exists in the tiled view with the same value
    pd.testing.assert_series_equal(g.loc[w.index], w, check_exact=True)
    # the extra tiled rows are all NULL (off-scene fringe)
    extra = g.drop(w.index)
    assert extra.isna().all()
    # and the fringe is thin: well under the interior row count
    assert len(extra) < len(w)


def test_warp_tiled_planner_no_demotion(spark):
    """Planner E2E in tiled mode: a projection-change resample no
    longer demotes — and the result matches the long plan's on the
    long plan's rows."""
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    def graph():
        return {"process_graph": {
            "load": {"process_id": "load_collection",
                     "arguments": {"id": "s2_l2a", "bands": ["B04"]}},
            "rs": {"process_id": "resample_spatial",
                   "arguments": {"data": {"from_node": "load"},
                                 "resolution": 200.0,
                                 "projection": 32632},
                   "result": True},
        }}

    tpg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_wt", tiled=True)
    out = tpg.execute(spark)
    assert "resample_spatial" not in tpg.tiled_demotions
    long_pg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_wl")
    want = long_pg.execute(spark).df.toPandas()
    got = out.df.toPandas()
    cols = ["band", "time", "y", "x"]
    import pandas as pd

    g = got.set_index(cols)["value"].sort_index()
    w = want.set_index(cols)["value"].sort_index()
    pd.testing.assert_series_equal(g.loc[w.index], w, check_exact=True)
    # bilinear is tile-native too (round 14, late): no demotion, and
    # it agrees with the long bilinear to 1e-9 on the long rows (the
    # two tiers sum the ≤4-weight blend in different orders)
    g2 = graph()
    g2["process_graph"]["rs"]["arguments"]["method"] = "bilinear"
    tpg2 = ProcessGraph(g2, save_dir="/tmp/pg_r14_wb", tiled=True)
    out2 = tpg2.execute(spark)
    assert "resample_spatial" not in tpg2.tiled_demotions
    lpg2 = ProcessGraph(g2, save_dir="/tmp/pg_r14_wbl")
    want2 = lpg2.execute(spark).df.toPandas()
    got2 = out2.df.toPandas()
    g2s = got2.set_index(cols)["value"].sort_index()
    w2s = want2.set_index(cols)["value"].sort_index()
    import numpy as np

    np.testing.assert_allclose(
        g2s.loc[w2s.index].to_numpy(dtype=float),
        w2s.to_numpy(dtype=float), rtol=0, atol=1e-9,
    )


def test_warp_tiled_bilinear_linear_field_exact(spark):
    """The tiled bilinear warp against the same independent ground
    truth as the long one: a field linear in (xi, yi) reproduces the
    plane at every interior target pixel."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.core.tiled import (
        from_tiled,
        resample_spatial_warp_tiled,
    )
    from openeo_odc_driver_spark.functions.proj import utm_to_wgs84_np

    s = _LINEAR_SPEC
    cube = synthetic_cube(spark, s)
    tc = t.to_tiled(cube, tile=16, n_y=16, n_x=16)
    out = from_tiled(
        resample_spatial_warp_tiled(tc, 32632, 100.0, method="bilinear")
    )
    pdf = out.df.toPandas()
    pdf = pdf[pdf["value"].notna()]
    assert len(pdf) > 100
    lon, lat = utm_to_wgs84_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                               32632)
    qx = (lon - s.x0) / s.resx
    qy = (s.y0 - lat) / s.resy
    inner = (qx >= 0) & (qx <= 15) & (qy >= 0) & (qy <= 15)
    inner &= ~((qx < 1) & (qy < 1))  # the spec's one NULL pixel corner
    assert inner.sum() > 50
    want = -s.vs + (s.vd / 8.0) * qx + (s.vc / 8.0) * qy
    np.testing.assert_allclose(pdf["value"].to_numpy()[inner],
                               want[inner], rtol=0, atol=1e-9)


def test_resample_spatial_resolution_only_tiled_native(spark):
    """A resolution-only resample_spatial at an explicit plan position
    (not adjacent to the load, so not folded into the scan) runs the
    native covering-downscale snap in tiled mode — no demotion — and
    matches the long plan exactly."""
    import pandas as pd

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    def graph():
        return {"process_graph": {
            "load": {"process_id": "load_collection",
                     "arguments": {"id": "synthetic"}},
            "k": {"process_id": "apply",
                  "arguments": {"data": {"from_node": "load"},
                                "process": {"process_graph": {
                                    "a": {"process_id": "absolute",
                                          "arguments": {"x": {"from_parameter": "x"}},
                                          "result": True}}}}},
            "rs": {"process_id": "resample_spatial",
                   "arguments": {"data": {"from_node": "k"},
                                 "resolution": 20.0},
                   "result": True},
        }}

    tpg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_ro", tiled=True)
    out = tpg.execute(spark)
    assert "resample_spatial" not in tpg.tiled_demotions
    long_pg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_rol")
    want = long_pg.execute(spark).df.toPandas()
    got = out.df.toPandas()
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True,
                                  check_dtype=False)


def test_store_load_keeps_store_under_resample_pushdown(spark, tmp_path):
    """A resample pushed into a stored load no longer forfeits the
    tiled store: the store is read (band/temporal pruning intact) and
    the covering-downscale snap runs natively — result identical to
    the long plan's in-scan coarsening."""
    import pandas as pd

    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    store_root = str(tmp_path)
    t.save_tiled(
        t.to_tiled(synthetic_cube(spark), tile=16, n_y=16, n_x=16),
        f"{store_root}/synthetic",
    )

    def graph():
        return {"process_graph": {
            "load": {"process_id": "load_collection",
                     "arguments": {"id": "synthetic",
                                   "bands": ["B04", "B08"]}},
            "rs": {"process_id": "resample_spatial",
                   "arguments": {"data": {"from_node": "load"},
                                 "resolution": 20.0},
                   "result": True},
        }}

    tpg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_sp", tiled=True,
                       tile=16, tiled_store_dir=store_root)
    out = tpg.execute(spark)
    # the store was read: the scan's schema is the PACKED layout
    # (tile_row/tile_col/data), not the long synthetic SQL generator
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "tile_row:int,tile_col:int,data:array<double>" in plan
    assert tpg.tiled_demotions == []
    long_pg = ProcessGraph(graph(), save_dir="/tmp/pg_r14_spl")
    want = long_pg.execute(spark).df.toPandas()
    got = out.df.toPandas()
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True,
                                  check_dtype=False)
