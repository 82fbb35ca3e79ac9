"""Seeded request streams for the benchmark workloads.

Every request is an openEO payload for ``POST /graph``. The seed picks
temporal windows and multipliers; the amount of work per graph kind is
fixed, so seeds differ in which pixels are read, not in how many.
Result node ids carry the request number, which makes every executed
graph distinct for the service's md5 result cache without changing the
work it does.
"""

from __future__ import annotations

import copy
import random
from dataclasses import dataclass, field, replace

from openeo_odc_driver_spark.sources.synthetic import CubeSpec

# The scene both scene workloads read: 3 bands x 24 months x 128 x 128
# px (1.18 M px). Tile 64 is the smallest tile on the numpy side of
# core.tiled.TILE_VECTORIZE_CELLS, and gives 4 tiles per plane.
SCENE_ID = "perfbench_scene"
SCENE_SPEC = CubeSpec(bands=("B04", "B08", "SCL"), n_times=24, ny=128, nx=128)
SCENE_TILE = 64
SCENE_REDUCE_MONTHS = 12
SCENE_EXPORT_MONTHS = 3
# The graph kinds of one cycle of the request stream, and the nominal
# wall of one cycle on 4 cores: a run times round(seconds / SCENE_CYCLE_S)
# whole cycles.
SCENE_CYCLE = ("reduce", "reduce", "export")
SCENE_CYCLE_S = 5.0

_NDVI_REDUCER = {
    "process_graph": {
        "nir": {"process_id": "array_element",
                "arguments": {"data": {"from_parameter": "data"},
                              "label": "B08"}},
        "red": {"process_id": "array_element",
                "arguments": {"data": {"from_parameter": "data"},
                              "label": "B04"}},
        "diff": {"process_id": "subtract",
                 "arguments": {"x": {"from_node": "nir"},
                               "y": {"from_node": "red"}}},
        "total": {"process_id": "add",
                  "arguments": {"x": {"from_node": "nir"},
                                "y": {"from_node": "red"}}},
        "ratio": {"process_id": "divide",
                  "arguments": {"x": {"from_node": "diff"},
                                "y": {"from_node": "total"}},
                  "result": True},
    }
}


def _reducer(name: str) -> dict:
    return {"process_graph": {"r": {
        "process_id": name,
        "arguments": {"data": {"from_parameter": "data"}},
        "result": True,
    }}}


def month_iso(spec: CubeSpec, offset: int) -> str:
    """ISO timestamp of month ``offset`` of a monthly spec."""
    y0, m0 = int(spec.t0[:4]), int(spec.t0[5:7]) - 1
    y, m = divmod(m0 + offset, 12)
    return f"{y0 + y:04d}-{m + 1:02d}-01T00:00:00Z"


@dataclass
class Request:
    """One client request: the payload plus what the verifier needs."""

    rid: str
    payload: dict
    kind: str  # "reduce" (time axis reduced) or "export" (time kept)
    tier: str  # "long" or "tiled"
    params: dict = field(default_factory=dict)
    repeat_of: "Request | None" = None


def scene_graph(kind: str, start: int, months: int, mult: float, tier: str,
                rid: str, long_path: str) -> dict:
    """NDVI over a month window of the scene, then either a median over
    time (reduce, one GTIFF plane) or a per-pixel multiply (export, one
    GTIFF plane per month). The tiled tier loads the stored collection;
    the long tier loads the scene's long parquet through load_result."""
    lo, hi = month_iso(SCENE_SPEC, start), month_iso(SCENE_SPEC, start + months)
    if tier == "tiled":
        nodes = {"load": {"process_id": "load_collection", "arguments": {
            "id": SCENE_ID, "temporal_extent": [lo, hi],
            "bands": ["B04", "B08"]}}}
    else:
        nodes = {
            "scene": {"process_id": "load_result",
                      "arguments": {"path": long_path}},
            "window": {"process_id": "filter_temporal", "arguments": {
                "data": {"from_node": "scene"}, "extent": [lo, hi]}},
            "load": {"process_id": "filter_bands", "arguments": {
                "data": {"from_node": "window"}, "bands": ["B04", "B08"]}},
        }
    nodes["ndvi"] = {"process_id": "reduce_dimension", "arguments": {
        "data": {"from_node": "load"}, "dimension": "bands",
        "reducer": copy.deepcopy(_NDVI_REDUCER)}}
    if kind == "reduce":
        nodes["out"] = {"process_id": "reduce_dimension", "arguments": {
            "data": {"from_node": "ndvi"}, "dimension": "t",
            "reducer": _reducer("median")}}
    else:
        nodes["out"] = {"process_id": "apply", "arguments": {
            "data": {"from_node": "ndvi"},
            "process": {"process_graph": {"m": {
                "process_id": "multiply",
                "arguments": {"x": {"from_parameter": "x"}, "y": mult},
                "result": True}}}}}
    nodes[f"save_{rid}"] = {"process_id": "save_result", "arguments": {
        "data": {"from_node": "out"}, "format": "GTIFF"}, "result": True}
    payload = {"process_graph": nodes, "id": rid}
    if tier == "tiled":
        payload.update(tiled=True, tile=SCENE_TILE)
    return payload


def scene_stream(seed: int, tier: str, long_path: str):
    """Endless request stream of ``SCENE_CYCLE`` cycles, each graph over
    a seeded month window (exports with a seeded multiplier). A run
    times whole cycles, so every seed times the same mix of kinds, with
    reduces in the majority. Both tiers draw the same stream for the
    same seed."""
    rng = random.Random(f"scene-{seed}")
    i = 0
    while True:
        for kind in SCENE_CYCLE:
            months = SCENE_REDUCE_MONTHS if kind == "reduce" else SCENE_EXPORT_MONTHS
            start = rng.randrange(SCENE_SPEC.n_times - months + 1)
            mult = 1.0 + rng.randrange(8) / 8.0  # dyadic: exact products
            rid = f"s{seed}-{i}"
            params = {"start": start, "months": months, "mult": mult}
            yield Request(rid, scene_graph(kind, start, months, mult, tier,
                                           rid, long_path),
                          kind, tier, params)
            i += 1


def repeat(req: Request, rid: str) -> Request:
    """The same graph under a new request id: a result-cache hit."""
    return replace(req, rid=rid, payload=dict(req.payload, id=rid),
                   repeat_of=req)
