"""The oracle gate runs the engine production runs.

Gate rows pack the fixture at tiles of 4-8 px; production stores use
64-256 px tiles. Every tiled fold must plan the same Python stage at
both sizes, so a gate pass says something about the shipped engine.
"""
import re

import pytest

from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS
from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

_PY_NODE = re.compile(r"\b(FlatMapGroupsInPandas|MapInPandas)\b")

_OPS = {
    "to_tiled": lambda cube, tc: t.to_tiled(cube, tile=tc.tile,
                                            n_y=16, n_x=16).df,
    "reduce_time_tiled": lambda cube, tc: t.reduce_time_tiled(tc, "sum").df,
    "reduce_spatial_tiled": lambda cube, tc: t.reduce_spatial_tiled(
        tc, "x", "mean").df,
    "resample_spatial_tiled": lambda cube, tc: t.resample_spatial_tiled(
        tc, 2, "mean").df,
    "aggregate_spatial_tiled": lambda cube, tc: t.aggregate_spatial_tiled(
        tc, FIXTURE_POLYGONS, "mean").df,
}


def _python_nodes(df) -> set:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return set(_PY_NODE.findall(plan))


@pytest.mark.parametrize("op", sorted(_OPS))
def test_gate_tile_plans_the_production_engine(spark, op):
    cube = synthetic_cube(spark)  # 16x16 px: one padded tile at 64
    nodes = {}
    for tile in (8, 64):
        # checkpoint the pack so the operator's own plan is all the
        # assertion sees (the pack is itself a Python stage)
        tc = t.to_tiled(cube, tile=tile, n_y=16, n_x=16)
        tc = t.TiledCube(tc.df.localCheckpoint(eager=True), tc.schema,
                         tc.tile, tc.n_y, tc.n_x)
        nodes[tile] = _python_nodes(_OPS[op](cube, tc))
    assert nodes[8], f"{op} plans no Python stage at the gate tile"
    assert nodes[8] == nodes[64], nodes
