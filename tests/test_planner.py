"""Process-graph planner: golden NDVI graph end-to-end + pushdown rule.

Acceptance (VERDICT r1 item 5): the planner must execute the reference's
own fixture graph `/root/reference/tests/process_graphs/
NDVI_Bolzano_median.json` (read in place, never copied).
"""

import os

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from openeo_odc_driver_spark.plans.graph import ProcessGraph

HERE = os.path.dirname(os.path.abspath(__file__))
REF_GRAPH = "/root/reference/tests/process_graphs/NDVI_Bolzano_median.json"


def test_own_ndvi_graph_end_to_end(spark, tmp_path):
    pg = ProcessGraph.from_file(
        f"{HERE}/process_graphs/ndvi_median.json", save_dir=str(tmp_path)
    )
    cube = pg.execute(spark)
    rows = cube.df.collect()
    assert len(rows) == 256  # one NDVI median per pixel
    vals = [r.value for r in rows if r.value is not None]
    assert vals and all(-1.0 <= v <= 1.0 for v in vals)
    # GTiff sink materialized (real .tif + metadata sidecar)
    assert (tmp_path / "save.tif").exists()


@pytest.mark.skipif(not os.path.exists(REF_GRAPH), reason="reference not mounted")
def test_reference_golden_graph_executes(spark, tmp_path):
    """The reference's own test fixture runs unmodified."""
    pg = ProcessGraph.from_file(REF_GRAPH, save_dir=str(tmp_path))
    cube = pg.execute(spark)
    assert cube.df.count() == 256
    assert set(cube.df.columns) == {"y", "x", "value"}


def test_resample_pushdown_rewrites_scan(spark, tmp_path):
    pg = ProcessGraph.from_file(
        f"{HERE}/process_graphs/resample_pushdown.json", save_dir=str(tmp_path)
    )
    # pre-pass marked the node and moved resolution into the load
    load_args = pg.nodes["load"]["arguments"]
    assert load_args["_target_resolution"] == 20.0
    assert pg.nodes["coarsen"].get("_noop") is True
    cube = pg.execute(spark)
    xs = sorted(r.x for r in cube.df.select("x").distinct().collect())
    assert xs[1] - xs[0] == 20.0  # coarse grid reached the scan
    # 16 source pixels at 10 m snap into 9 distinct 20 m cells per axis
    # (x=150 rounds up into the 9th cell at 160)
    assert cube.df.count() == 3 * 9 * 9


def test_apply_dimension_quantiles(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "qs": {
                "process_id": "apply_dimension",
                "arguments": {
                    "data": {"from_node": "l"},
                    "dimension": "t",
                    "process": {
                        "process_graph": {
                            "z": {
                                "process_id": "quantiles",
                                "arguments": {
                                    "data": {"from_parameter": "data"},
                                    "probabilities": [0.25, 0.75],
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
    cube = ProcessGraph(graph).execute(spark)
    assert "prob" in cube.df.columns
    probs = {r.prob for r in cube.df.select("prob").distinct().collect()}
    assert probs == {0.25, 0.75}


def test_zonal_stats_through_planner(spark):
    """aggregate_spatial with a GeoJSON FeatureCollection argument."""
    from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS

    def close(ring):
        return [list(p) for p in ring] + [list(ring[0])]

    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": {
                "type": "Polygon", "coordinates": [close(FIXTURE_POLYGONS[0])]}},
            {"type": "Feature", "geometry": {
                "type": "Polygon", "coordinates": [close(FIXTURE_POLYGONS[1])]}},
        ],
    }
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "z": {
                "process_id": "aggregate_spatial",
                "arguments": {
                    "data": {"from_node": "l"},
                    "geometries": fc,
                    "reducer": {"process_graph": {"m": {
                        "process_id": "mean",
                        "arguments": {"data": {"from_parameter": "data"}},
                        "result": True}}},
                },
                "result": True,
            },
        }
    }
    cube = ProcessGraph(graph).execute(spark)
    # planner default label is the reference's 'result' (:654-656)
    geoms = {r.result for r in cube.df.select("result").distinct().collect()}
    assert geoms == {0, 1}

    graph["process_graph"]["z"]["arguments"]["target_dimension"] = "zone"
    cube2 = ProcessGraph(graph).execute(spark)
    assert "zone" in cube2.df.columns and "result" not in cube2.df.columns


def test_load_result_node(spark, tmp_path):
    """save in one graph, load_result in the next (odc_backend job chain)."""
    jobs_root = tmp_path / "jobs"
    g1 = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "l"}, "format": "PARQUET"},
                  "result": True},
        }
    }
    ProcessGraph(g1, save_dir=str(jobs_root / "job1")).execute(spark)
    g2 = {
        "process_graph": {
            "lr": {"process_id": "load_result",
                   "arguments": {"path": str(jobs_root / "job1" / "s")}},
            "r": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "lr"},
                    "dimension": "t",
                    "reducer": {"process_graph": {"m": {
                        "process_id": "max",
                        "arguments": {"data": {"from_parameter": "data"}},
                        "result": True}}},
                },
                "result": True,
            },
        }
    }
    cube = ProcessGraph(g2).execute(spark)
    assert cube.df.count() == 3 * 16 * 16


def test_planner_rejects_unknown_process(spark):
    with pytest.raises(NotImplementedError):
        ProcessGraph(
            {
                "process_graph": {
                    "z": {"process_id": "warp_drive", "arguments": {}, "result": True}
                }
            }
        ).execute(spark)


def test_resample_pushdown_only_when_adjacent(spark):
    """ADVICE r2: a resample_spatial with another operator between it and
    the load must NOT be folded into the scan (coarsening before e.g. a
    kernel changes results) — it executes as an explicit regrid instead.
    Also: constructing a ProcessGraph must not mutate the caller's dict."""
    import copy
    import json

    with open(f"{HERE}/process_graphs/resample_pushdown.json") as f:
        adjacent = json.load(f)

    # non-adjacent variant: load → reduce(median over t) → resample
    graph = {
        "process_graph": {
            "load": {
                "process_id": "load_collection",
                "arguments": {"id": "synthetic", "bands": ["B04"]},
            },
            "med": {
                "process_id": "reduce_dimension",
                "arguments": {
                    "data": {"from_node": "load"},
                    "dimension": "t",
                    "reducer": {
                        "process_graph": {
                            "m": {
                                "process_id": "median",
                                "arguments": {"data": {"from_parameter": "data"}},
                                "result": True,
                            }
                        }
                    },
                },
            },
            "coarsen": {
                "process_id": "resample_spatial",
                "arguments": {
                    "data": {"from_node": "med"},
                    "resolution": 20.0,
                    "method": "near",
                },
                "result": True,
            },
        }
    }
    snapshot = copy.deepcopy(graph)
    pg = ProcessGraph(graph)
    assert graph == snapshot, "planner mutated the caller's graph"
    assert "_noop" not in pg.nodes["coarsen"]
    assert "_target_resolution" not in pg.nodes["load"]["arguments"]
    out = pg.execute(spark)
    # 16x16 @10m grid coarsened to 20m AFTER the reduce: 8-ish cells/axis
    xs = {r.x for r in out.df.select("x").distinct().collect()}
    assert all(x % 20.0 == 0.0 for x in xs)

    # adjacent fixture still folds
    snapshot2 = copy.deepcopy(adjacent)
    pg2 = ProcessGraph(adjacent)
    assert adjacent == snapshot2
    assert pg2.nodes["coarsen"].get("_noop") is True
    assert pg2.nodes["load"]["arguments"]["_target_resolution"] == 20.0


def test_fit_curve_model_graph_compiles_to_harmonic_ast():
    """The openEO fit_curve `function` sub-graph (pi / array_element /
    arithmetic / trig nodes, reference openeo_odc_driver.py:227-281)
    compiles to the exact ModelExpr tree harmonic_model() builds."""
    from openeo_odc_driver_spark.operators.curve import harmonic_model
    from openeo_odc_driver_spark.plans.graph import _compile_model

    g = {
        "p": {"process_id": "pi", "arguments": {}},
        "two_pi": {"process_id": "multiply",
                   "arguments": {"x": {"from_node": "p"}, "y": 2}},
        # match harmonic_model's w = const(2*pi/365.25) exactly: the
        # graph divides the same doubles, hence the same IEEE result
        "w": {"process_id": "divide",
              "arguments": {"x": {"from_node": "two_pi"}, "y": 365.25}},
        "a0": {"process_id": "array_element",
               "arguments": {"data": {"from_parameter": "parameters"}, "index": 0}},
        "a1": {"process_id": "array_element",
               "arguments": {"data": {"from_parameter": "parameters"}, "index": 1}},
        "a2": {"process_id": "array_element",
               "arguments": {"data": {"from_parameter": "parameters"}, "index": 2}},
        "wt": {"process_id": "multiply",
               "arguments": {"x": {"from_node": "w"}, "y": {"from_parameter": "x"}}},
        "c": {"process_id": "cos", "arguments": {"x": {"from_node": "wt"}}},
        "s": {"process_id": "sin", "arguments": {"x": {"from_node": "wt"}}},
        "m1": {"process_id": "multiply",
               "arguments": {"x": {"from_node": "a1"}, "y": {"from_node": "c"}}},
        "m2": {"process_id": "multiply",
               "arguments": {"x": {"from_node": "a2"}, "y": {"from_node": "s"}}},
        "inner": {"process_id": "add",
                  "arguments": {"x": {"from_node": "m1"}, "y": {"from_node": "m2"}}},
        "res": {"process_id": "add",
                "arguments": {"x": {"from_node": "a0"}, "y": {"from_node": "inner"}},
                "result": True},
    }
    import numpy as np

    compiled = _compile_model(g)
    want = harmonic_model()
    t = np.linspace(0.0, 700.0, 13)
    p = np.array([1.5, -0.25, 0.75])
    assert np.array_equal(compiled(t, p), want(t, p))
    assert compiled.n_params == want.n_params == 3


def test_fit_curve_through_planner(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "bands": {"process_id": "filter_bands",
                      "arguments": {"data": {"from_node": "l"}, "bands": ["B04"]}},
            "fit": {
                "process_id": "fit_curve",
                "arguments": {
                    "data": {"from_node": "bands"},
                    "parameters": [0, 0, 0],
                    "function": {"process_graph": {
                        "a0": {"process_id": "array_element",
                               "arguments": {"data": {"from_parameter": "parameters"},
                                              "index": 0}},
                        "a1": {"process_id": "array_element",
                               "arguments": {"data": {"from_parameter": "parameters"},
                                              "index": 1}},
                        "lin": {"process_id": "multiply",
                                "arguments": {"x": {"from_node": "a1"},
                                               "y": {"from_parameter": "x"}}},
                        "res": {"process_id": "add",
                                "arguments": {"x": {"from_node": "a0"},
                                               "y": {"from_node": "lin"}},
                                "result": True},
                    }},
                },
                "result": True,
            },
        }
    }
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    cube = ProcessGraph(graph).execute(spark)
    rows = cube.df.collect()
    assert len(rows) == 256  # one param vector per pixel for the band
    assert all(len(r.params) == 2 for r in rows)


def test_aggregate_spatial_window_through_planner(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "w": {
                "process_id": "aggregate_spatial_window",
                "arguments": {
                    "data": {"from_node": "l"},
                    "reducer": {"process_graph": {
                        "m": {"process_id": "mean",
                              "arguments": {"data": {"from_parameter": "data"}},
                              "result": True}}},
                    "size": [4, 4],
                    "boundary": "pad",
                },
                "result": True,
            },
        }
    }
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    cube = ProcessGraph(graph).execute(spark)
    # 16x16 grid -> 4x4 windows: 3 bands x 24 times x 16 windows
    assert cube.df.count() == 3 * 24 * 16


def test_run_udf_code_string_through_planner(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "u": {
                "process_id": "run_udf",
                "arguments": {
                    "data": {"from_node": "l"},
                    "udf": (
                        "def apply_datacube(df, context):\n"
                        "    df = df.copy()\n"
                        "    df['value'] = df['value'] * 2\n"
                        "    return df\n"
                    ),
                    "runtime": "Python",
                },
                "result": True,
            },
        }
    }
    from openeo_odc_driver_spark.plans.graph import ProcessGraph
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    got = ProcessGraph(graph).execute(spark)
    base = synthetic_cube(spark).df
    a = sorted((r.band, r.time, r.y, r.x, r.value) for r in got.df.collect())
    b = sorted(
        (r.band, r.time, r.y, r.x, None if r.value is None else r.value * 2)
        for r in base.collect()
    )
    assert a == b


def test_run_udf_rejects_r_runtime(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "u": {"process_id": "run_udf",
                  "arguments": {"data": {"from_node": "l"},
                                 "udf": "x <- 1", "runtime": "R"},
                  "result": True},
        }
    }
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    with pytest.raises(NotImplementedError, match="R is out of scope"):
        ProcessGraph(graph).execute(spark)


def test_drop_dimension_through_planner(spark):
    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "b": {"process_id": "filter_bands",
                  "arguments": {"data": {"from_node": "l"}, "bands": ["B04"]}},
            "d": {"process_id": "drop_dimension",
                  "arguments": {"data": {"from_node": "b"}, "name": "bands"},
                  "result": True},
        }
    }
    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    cube = ProcessGraph(graph).execute(spark)
    assert "band" not in cube.df.columns


def _sorted_pdf(df):
    cols = sorted(df.columns)
    return (
        df.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "graph", ["ndvi_median", "masked_seasonal", "resample_pushdown"]
)
def test_tiled_mode_matches_long_on_all_fixture_graphs(
    spark, tmp_path, graph
):
    """ProcessGraph(tiled=True) executes the SAME graph on the packed
    tile layout and must agree cell-for-cell with the long plan — the
    NDVI band expression, the mask chain, and the pushdown graph cover
    band-expression reducers, tiled mask/resample/apply, and the
    explicit-regrid demotion path."""
    import pandas as pd

    path = f"{HERE}/process_graphs/{graph}.json"
    long_df = ProcessGraph.from_file(
        path, save_dir=str(tmp_path / "long")
    ).execute(spark).df
    tiled_df = ProcessGraph.from_file(
        path, save_dir=str(tmp_path / "tiled"), tiled=True
    ).execute(spark).df
    pd.testing.assert_frame_equal(
        _sorted_pdf(long_df), _sorted_pdf(tiled_df), check_exact=True
    )


@pytest.mark.skipif(not os.path.exists(REF_GRAPH), reason="reference not mounted")
def test_reference_golden_graph_executes_tiled(spark, tmp_path):
    """The reference's own NDVI fixture runs unmodified in TILED mode
    and matches the long execution exactly."""
    import pandas as pd

    long_df = ProcessGraph.from_file(
        REF_GRAPH, save_dir=str(tmp_path / "l")
    ).execute(spark).df
    tiled_df = ProcessGraph.from_file(
        REF_GRAPH, save_dir=str(tmp_path / "t"), tiled=True
    ).execute(spark).df
    pd.testing.assert_frame_equal(
        _sorted_pdf(long_df), _sorted_pdf(tiled_df), check_exact=True
    )


def test_tiled_mode_demotes_gracefully_for_unsupported_process(spark):
    """A process without a tile path (apply_dimension/quantiles) demotes
    its tile-resident input through from_tiled and the graph still
    completes with identical output — degradation, never an error."""
    import pandas as pd

    graph = {
        "load": {
            "process_id": "load_collection",
            "arguments": {"id": "s2_l2a", "bands": ["B04"]},
        },
        "q": {
            "process_id": "apply_dimension",
            "arguments": {
                "data": {"from_node": "load"},
                "dimension": "t",
                "process": {
                    "process_graph": {
                        "qq": {
                            "process_id": "quantiles",
                            "arguments": {
                                "data": {"from_parameter": "data"},
                                "probabilities": [0.25, 0.75],
                            },
                            "result": True,
                        }
                    }
                },
            },
            "result": True,
        },
    }
    long_df = ProcessGraph(graph).execute(spark).df
    tiled_df = ProcessGraph(graph, tiled=True).execute(spark).df
    pd.testing.assert_frame_equal(
        _sorted_pdf(long_df), _sorted_pdf(tiled_df), check_exact=True
    )


def _resample_graph(resolution, pushed: bool) -> dict:
    """load → resample_spatial (folded into the scan) or load → apply →
    resample_spatial (an explicit regrid at its plan position)."""
    nodes = {"load": {"process_id": "load_collection",
                      "arguments": {"id": "synthetic", "bands": ["B04"]}}}
    src = "load"
    if not pushed:
        nodes["dbl"] = {"process_id": "apply", "arguments": {
            "data": {"from_node": "load"},
            "process": {"process_graph": {"m": {
                "process_id": "multiply",
                "arguments": {"x": {"from_parameter": "x"}, "y": 2.0},
                "result": True}}}}}
        src = "dbl"
    nodes["coarsen"] = {"process_id": "resample_spatial", "arguments": {
        "data": {"from_node": src}, "resolution": resolution,
        "method": "near"}, "result": True}
    return {"process_graph": nodes}


@pytest.mark.parametrize("tiled", [False, True], ids=["long", "tiled"])
@pytest.mark.parametrize("pushed", [False, True], ids=["explicit", "pushdown"])
def test_resample_spatial_resolution_pair(spark, pushed, tiled):
    """Every tier reads ``resample_spatial``'s resolution the same way:
    an equal pair means that number, an unequal pair raises instead of
    silently using its first element."""
    import pandas as pd

    pg = ProcessGraph(_resample_graph(20.0, pushed), tiled=tiled)
    assert pg.nodes["coarsen"].get("_noop", False) is pushed
    want = _sorted_pdf(pg.execute(spark).df)
    pair = ProcessGraph(_resample_graph([20, 20], pushed), tiled=tiled)
    pd.testing.assert_frame_equal(
        want, _sorted_pdf(pair.execute(spark).df), check_exact=True
    )
    assert pair.tiled_demotions == pg.tiled_demotions
    with pytest.raises(ValueError, match="resample_spatial"):
        ProcessGraph(_resample_graph([20, 40], pushed),
                     tiled=tiled).execute(spark)


# --- generated-graph tier equivalence ---------------------------------------
#
# Chains over the PROCESSES rows that have a tiled function, on the
# synthetic collection (values are eighths: dyadic). A step that sums
# values (mean/sum/sd/variance/median folds, kernels, bilinear) is only
# drawn while the cube is still dyadic, where every summation order
# gives the same double; selecting folds (min/max) and the Catalyst
# expressions both tiers share may follow anything. Steps that emit a
# long cube (spatial reducers, zonal statistics, quantiles) end the
# chain, as any tile-native step after them would demote. radar_mask is
# the one row left out: it needs DEM/LIA bands no catalog collection
# has (its tiled function is pinned in test_round11).

_MONTHS = [f"{2021 + m // 12}-{m % 12 + 1:02d}-01T00:00:00Z"
           for m in range(25)]


def _unary(pid: str, **kw) -> dict:
    return {"process_graph": {"f": {
        "process_id": pid,
        "arguments": {"x": {"from_parameter": "x"}, **kw},
        "result": True}}}


def _reducer_graph(name: str) -> dict:
    return {"process_graph": {"r": {
        "process_id": name,
        "arguments": {"data": {"from_parameter": "data"}},
        "result": True}}}


# apply children: (child graph, keeps dyadic values dyadic)
_APPLY_CHILDREN = [
    (_unary("multiply", y=0.5), True),
    (_unary("add", y=1.0), True),
    (_unary("absolute"), True),
    (_unary("clip", min=-2.0, max=2.0), True),
    (_unary("linear_scale_range", inputMin=-6.0, inputMax=6.0), False),
    # sqrt of a negative is NaN, which the tiers fold differently
    # (test_nan_from_apply_folds_alike_in_both_tiers): draw NaN-free
    ({"process_graph": {
        "a": {"process_id": "absolute",
              "arguments": {"x": {"from_parameter": "x"}}},
        "f": {"process_id": "sqrt", "arguments": {"x": {"from_node": "a"}},
              "result": True}}}, False),
]
_THRESHOLD_MASK = {"process_graph": {
    "g": {"process_id": "gt",
          "arguments": {"x": {"from_parameter": "x"}, "y": 0.5}},
    "f": {"process_id": "if",
          "arguments": {"value": {"from_node": "g"},
                        "accept": 1.0, "reject": 0.0},
          "result": True}}}
_KERNELS = [
    ([[1, 1, 1], [1, 1, 1], [1, 1, 1]], 0.125),
    ([[0, 1, 0], [1, -4, 1], [0, 1, 0]], 1.0),
    ([[1, 2, 1], [2, 4, 2], [1, 2, 1]], 0.0625),
]
_QUARTILES = {"process_graph": {"q": {
    "process_id": "quantiles",
    "arguments": {"data": {"from_parameter": "data"},
                  "probabilities": [0.25, 0.5, 0.75]},
    "result": True}}}
_SUMMING = ("mean", "sum", "median", "sd", "variance")


def _fold_reducer(draw, state, extra=(), median=True):
    names = ["min", "max", *extra]
    if state["dyadic"]:
        names += [n for n in _SUMMING if median or n != "median"]
    name = draw(st.sampled_from(names))
    state["dyadic"] = state["dyadic"] and name in ("min", "max", "sum",
                                                   "count")
    return name


def _chain_steps():
    """step name → (precondition(state), build(draw, add, cur, state))."""

    def filter_bands(draw, add, cur, s):
        keep = draw(st.sets(st.sampled_from(s["bands"]), min_size=1))
        s["bands"] = tuple(b for b in s["bands"] if b in keep)
        return add("filter_bands", data=cur, bands=list(s["bands"]))

    def filter_temporal(draw, add, cur, s):
        lo0, hi0 = s["months"]
        lo = draw(st.integers(lo0, hi0 - 2))
        hi = draw(st.integers(lo + 2, hi0))
        s["months"] = (lo, hi)
        return add("filter_temporal", data=cur,
                   extent=[_MONTHS[lo], _MONTHS[hi]])

    def filter_bbox(draw, add, cur, s):
        s["full"] = False
        i0 = draw(st.integers(0, 8))
        i1 = draw(st.integers(i0 + 4, 15))
        j0 = draw(st.integers(0, 8))
        j1 = draw(st.integers(j0 + 4, 15))
        return add("filter_bbox", data=cur, extent={
            "west": 10.0 * i0 - 5, "east": 10.0 * i1 + 5,
            "north": 150.0 - 10.0 * j0 + 5, "south": 150.0 - 10.0 * j1 - 5})

    def apply(draw, add, cur, s):
        child, dyadic = draw(st.sampled_from(_APPLY_CHILDREN))
        s["dyadic"] = s["dyadic"] and dyadic
        return add("apply", data=cur, process=child)

    def reduce_time(draw, add, cur, s):
        s["time"] = False
        return add("reduce_dimension", data=cur, dimension="t",
                   reducer=_reducer_graph(_fold_reducer(draw, s)))

    def reduce_bands(draw, add, cur, s):
        bands = s["bands"]
        s["bands"] = None
        if draw(st.booleans()):
            return add("reduce_dimension", data=cur, dimension="bands",
                       reducer=_reducer_graph(
                           _fold_reducer(draw, s, median=False)))
        a, b = bands[0], bands[-1]
        ndvi = len(bands) > 1 and draw(st.booleans())
        s["dyadic"] = s["dyadic"] and not ndvi
        return add("reduce_dimension", data=cur, dimension="bands",
                   reducer={"process_graph": {
                       "a": {"process_id": "array_element", "arguments": {
                           "data": {"from_parameter": "data"}, "label": a}},
                       "b": {"process_id": "array_element", "arguments": {
                           "data": {"from_parameter": "data"}, "label": b}},
                       "r": {"process_id": "normalized_difference"
                             if ndvi else "add", "arguments": {
                                 "x": {"from_node": "a"},
                                 "y": {"from_node": "b"}},
                             "result": True}}})

    def reduce_space(draw, add, cur, s):
        s["open"] = False
        return add("reduce_dimension", data=cur,
                   dimension=draw(st.sampled_from(["x", "y"])),
                   reducer=_reducer_graph(
                       _fold_reducer(draw, s, extra=("count",))))

    def quantiles(draw, add, cur, s):
        dims = [d for d, ok in (("t", s["time"]), ("bands", s["bands"]),
                                ("x", True), ("y", True)) if ok]
        s["open"] = False
        return add("apply_dimension", data=cur,
                   dimension=draw(st.sampled_from(dims)),
                   process=_QUARTILES)

    def interpolate(draw, add, cur, s):
        s["dyadic"] = False
        return add("array_interpolate_linear", data=cur, dimension="t")

    def climatology(draw, add, cur, s):
        s["open"] = False
        return add("climatological_normal", data=cur, frequency="monthly")

    def period(draw, add, cur, s):
        return add("aggregate_temporal_period", data=cur,
                   period=draw(st.sampled_from(["month", "season", "year"])),
                   reducer=_reducer_graph(_fold_reducer(draw, s)))

    def mask(draw, add, cur, s):
        flags = add("apply", data=cur, process=_THRESHOLD_MASK)
        return add("mask", data=cur, mask=flags,
                   replacement=draw(st.sampled_from([None, -1.0])))

    def merge(draw, add, cur, s):
        if len(s["bands"] or ()) > 1 and draw(st.booleans()):
            # disjoint band sets: band-axis concat
            one = add("filter_bands", data=cur, bands=[s["bands"][0]])
            rest = add("filter_bands", data=cur, bands=list(s["bands"][1:]))
            return add("merge_cubes", cube1=one, cube2=rest)
        other = add("apply", data=cur, process=_unary("multiply", y=2.0))
        return add("merge_cubes", cube1=cur, cube2=other,
                   overlap_resolver={"process_graph": {"r": {
                       "process_id": draw(st.sampled_from(["add", "max"])),
                       "arguments": {"x": {"from_parameter": "x"},
                                     "y": {"from_parameter": "y"}},
                       "result": True}}})

    def kernel(draw, add, cur, s):
        k, factor = draw(st.sampled_from(_KERNELS))
        return add("apply_kernel", data=cur, kernel=k, factor=factor)

    def resample_temporal(draw, add, cur, s):
        target = add("load_collection", id="synthetic_coarse")
        s["months"] = (0, 24)
        return add("resample_cube_temporal", data=cur, target=target)

    def resample_spatial(draw, add, cur, s):
        s["coarse"] = True
        return add("resample_spatial", data=cur, method="near",
                   resolution=draw(st.sampled_from([20.0, [20, 20]])))

    def resample_cube(draw, add, cur, s):
        s["coarse"] = True
        method = "bilinear" if s["dyadic"] and draw(st.booleans()) else "near"
        s["dyadic"] = s["dyadic"] and method == "near"
        target = add("load_collection", id="synthetic_coarse")
        return add("resample_cube_spatial", data=cur, target=target,
                   method=method)

    def zonal(draw, add, cur, s):
        s["open"] = False
        ring = [[5.0, 5.0], [85.0, 5.0], [85.0, 95.0], [5.0, 95.0],
                [5.0, 5.0]]
        concave = [[60.0, 60.0], [140.0, 60.0], [100.0, 100.0],
                   [140.0, 140.0], [60.0, 140.0], [60.0, 60.0]]
        return add("aggregate_spatial", data=cur,
                   geometries={"type": "MultiPolygon",
                               "coordinates": [[ring], [concave]]},
                   reducer=_reducer_graph(
                       _fold_reducer(draw, s, extra=("count",))))

    time = lambda s: s["time"]  # noqa: E731
    return {
        "filter_bands": (lambda s: s["bands"], filter_bands),
        "filter_temporal": (lambda s: s["time"]
                            and s["months"][1] - s["months"][0] >= 2,
                            filter_temporal),
        "filter_bbox": (lambda s: True, filter_bbox),
        "apply": (lambda s: True, apply),
        "reduce_dimension/t": (time, reduce_time),
        "reduce_dimension/bands": (lambda s: s["bands"], reduce_bands),
        "reduce_dimension/xy": (lambda s: True, reduce_space),
        "apply_dimension": (lambda s: s["dyadic"], quantiles),
        "array_interpolate_linear": (time, interpolate),
        "climatological_normal": (lambda s: s["time"] and s["dyadic"],
                                  climatology),
        "aggregate_temporal_period": (time, period),
        "mask": (lambda s: True, mask),
        "merge_cubes": (lambda s: True, merge),
        "apply_kernel": (lambda s: s["dyadic"], kernel),
        "resample_cube_temporal": (time, resample_temporal),
        "resample_spatial": (lambda s: not s["coarse"], resample_spatial),
        # onto the full-scene coarse target: a target the cube does not
        # cover (after filter_bbox) demotes by design (a partially
        # covering target axis has no exact tiled snap)
        "resample_cube_spatial": (lambda s: s["full"] and not s["coarse"],
                                  resample_cube),
        "aggregate_spatial": (lambda s: True, zonal),
    }


@st.composite
def _tiled_chains(draw):
    """A load → step* → [save_result] chain and a tile edge."""
    steps = _chain_steps()
    nodes: dict = {}

    def add(pid, **args):
        # an argument naming an existing node becomes a from_node edge
        nid = f"n{len(nodes)}"
        nodes[nid] = {"process_id": pid, "arguments": {
            k: {"from_node": v} if isinstance(v, str) and v in nodes
            else v for k, v in args.items()}}
        return nid

    bands = draw(st.sampled_from([("B04",), ("B04", "B08"),
                                  ("B04", "B08", "SCL")]))
    state = {"bands": bands, "time": True, "dyadic": True, "open": True,
             "coarse": False, "full": True, "months": (0, 24)}
    load = {"id": "synthetic", "bands": list(bands)}
    if draw(st.booleans()):
        lo = draw(st.integers(0, 20))
        hi = draw(st.integers(lo + 3, 24))
        load["temporal_extent"] = [_MONTHS[lo], _MONTHS[hi]]
        state["months"] = (lo, hi)
    cur = add("load_collection", **load)
    for _ in range(draw(st.integers(1, 4))):
        name = draw(st.sampled_from(
            [n for n, (ok, _) in steps.items() if ok(state)]
        ))
        cur = steps[name][1](draw, add, cur, state)
        if not state["open"]:
            break
    if draw(st.booleans()):
        fmt = "PARQUET"
        if state["open"] and not state["time"] and draw(st.booleans()):
            fmt = "GTIFF"
        cur = add("save_result", data=cur, format=fmt)
    nodes[cur]["result"] = True
    return {"process_graph": nodes}, draw(st.sampled_from([4, 8]))


def _chain(*steps) -> dict:
    """load(synthetic, B04+B08) → steps, each reading the previous node."""
    nodes = {"n0": {"process_id": "load_collection", "arguments": {
        "id": "synthetic", "bands": ["B04", "B08"]}}}
    for i, (pid, args) in enumerate(steps, 1):
        nodes[f"n{i}"] = {"process_id": pid, "arguments": {
            "data": {"from_node": f"n{i - 1}"}, **args}}
    nodes[f"n{len(steps)}"]["result"] = True
    return {"process_graph": nodes}


def _assert_tiers_agree(spark, graph: dict, tile: int) -> None:
    import tempfile

    import pandas as pd

    with tempfile.TemporaryDirectory() as tmp:
        long_df = ProcessGraph(graph, save_dir=f"{tmp}/long").execute(spark).df
        pg = ProcessGraph(graph, save_dir=f"{tmp}/tiled", tiled=True,
                          tile=tile)
        tiled_df = pg.execute(spark).df
        pd.testing.assert_frame_equal(
            _sorted_pdf(long_df), _sorted_pdf(tiled_df), check_exact=True
        )
    assert pg.tiled_demotions == []


def test_generated_chains_tiled_matches_long(spark):
    """Generated graphs over the tile-native rows of the process table
    give the same cells in both tiers, with no demotion. The explicit
    examples are the minimal graphs of mismatches the generator found:
    the tiled kernel keyed its halo exchange on a band column that a
    band-reduced cube lacks, and the long quantiles emitted no rows for
    an all-NULL group where the tiled fold emits NULL cells."""

    @settings(max_examples=40, derandomize=True, deadline=None,
              database=None, suppress_health_check=list(HealthCheck))
    @given(_tiled_chains())
    @example((_chain(
        ("reduce_dimension", {"dimension": "bands",
                              "reducer": _reducer_graph("max")}),
        ("apply_kernel", {"kernel": _KERNELS[0][0], "factor": 0.125}),
    ), 4))
    @example((_chain(
        ("filter_bands", {"bands": ["B04"]}),
        ("apply_dimension", {"dimension": "bands", "process": _QUARTILES}),
    ), 4))
    def check(case):
        _assert_tiers_agree(spark, *case)

    check()


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "NaN from an apply child (sqrt of a negative): the long tier's Spark "
    "folds treat NaN as a value (max is NaN), the tiled numpy folds as "
    "no-data"))
def test_nan_from_apply_folds_alike_in_both_tiers(spark):
    _assert_tiers_agree(spark, _chain(
        ("filter_bands", {"bands": ["B04"]}),
        ("apply", {"process": _unary("sqrt")}),
        ("reduce_dimension", {"dimension": "t",
                              "reducer": _reducer_graph("max")}),
    ), 4)
