"""openEO process-graph planner: JSON graph → one lazy Spark plan.

The reference interprets graphs node-at-a-time into a results dict
(``ProcessOpeneoGraph.process_node``, openeo_odc_driver.py:122-1840,
topo-sorted at :90). Here each node builds a *lazy* DataFrame/Column —
the whole graph collapses into a single Catalyst plan and Spark executes
the fused DAG at ``save_result`` (SURVEY §3.1 "Spark equivalent").

Node resolution is recursive with memoization (`from_node` edges), which
is the topological order without materializing it. Reducer sub-graphs
(`from_parameter`) compile in one of two modes, mirroring the reference's
split (:594-618 vs :710-850):

- **band reducer with an arithmetic sub-graph** (the NDVI shape): bands
  pivot wide (one conditional-agg shuffle) and the sub-graph compiles to
  a single Column expression — `array_element(label)` becomes the pivoted
  band column; whole-stage codegen fuses the arithmetic into the pivot.
- **named reducer over any dimension**: dispatches to
  ``reducers.reduce_dimension`` (groupBy-agg).

Optimizer pre-pass: ``resample_spatial`` nodes push their target
resolution into the upstream ``load_collection`` scan and become no-ops,
mirroring the reference's only rewrite rule (:175-202, 223-225).
"""

from __future__ import annotations

import json
import logging
from typing import Any, Callable, Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..core.cube import BAND, TIME, VALUE, X, Y, Cube, GridSpec, canonical_dim
from ..functions.pivot import bands_wide
from ..operators import math as om
from ..operators.aggregates import aggregate_spatial, aggregate_temporal_period
from ..operators.dimops import add_dimension, rename_labels
from ..operators.filters import (
    filter_bands,
    filter_bbox,
    filter_spatial,
    filter_temporal,
)
from ..operators.kernel import apply_kernel
from ..operators.mask import mask as mask_op
from ..operators.merge import merge_cubes
from ..operators.reducers import REDUCERS, reduce_dimension
from ..operators.resample import resample_cube_spatial, resample_cube_temporal
from .catalog import load_collection_cube

_log = logging.getLogger(__name__)

# element-wise process_id → Column builder (SURVEY §2.4)
_BINARY = {
    "add": om.add_cols,
    "subtract": om.subtract_cols,
    "multiply": om.multiply_cols,
    "divide": om.divide_cols,
    "power": om.power_cols,
    "log": om.log_cols,
    "lt": om.lt_cols,
    "lte": om.lte_cols,
    "gt": om.gt_cols,
    "gte": om.gte_cols,
    "eq": om.eq_cols,
    "neq": om.neq_cols,
    "and": om.and_cols,
    "or": om.or_cols,
    "normalized_difference": om.normalized_difference_cols,
    # binary scalar max/min (the overlap-resolver / apply shape; the
    # ARRAY max/min over `data` stay reducer territory)
    "max": om.max_cols,
    "min": om.min_cols,
}
_UNARY = {
    "not": om.not_cols,
    "sqrt": om.sqrt_cols,
    "absolute": om.absolute_cols,
    "ln": om.ln_cols,
    "sin": om.sin_cols,
    "cos": om.cos_cols,
    "floor": om.floor_cols,
    "ceil": om.ceil_cols,
    "int": om.int_cols,
    "exp": om.exp_cols,
    "tan": om.tan_cols,
    "arctan": om.arctan_cols,
    "is_nodata": om.is_nodata_cols,
}
_BINARY["mod"] = om.mod_cols


class ProcessGraph:
    """Executable plan for one openEO process graph.

    TRUST BOUNDARY: a graph's ``run_udf`` node may carry a Python code
    string, which is ``exec()``d on the driver at plan-build time — the
    same run-user-code contract as the reference's UDF path
    (openeo_odc_driver.py:282-339, which runs graph-supplied R code).
    Anyone constructing a ``ProcessGraph`` from an untrusted payload
    must pass ``allow_code_udfs=False``, which rejects code-string UDFs
    with a ``PermissionError`` while still allowing callable UDFs
    (callables are supplied by the embedding code itself, not the
    graph). The default is True to match the reference's service
    semantics, where submitting a graph *is* the authorization to run
    its UDFs.

    TILED EXECUTION MODE (``tiled=True``): the same graph executes on
    the SURVEY §1.4 packed-tile layout (core/tiled.py) wherever a
    native-tile operator exists — load packs the scan into tiles of
    edge ``tile``, and filters / apply / band-expression reducers /
    time reducers / calendar resample / mask / merge / apply_kernel
    stay on tiles; any process without a tile path transparently
    demotes its inputs through ``from_tiled`` and runs the long
    relational plan (graceful degradation, never an error). Results
    are identical by construction — every tiled operator is
    oracle-pinned against its long twin — and the gate runs the same
    graphs in both modes against ONE oracle. This is an execution
    strategy, not a result format: ``execute`` always returns a long
    ``Cube``.
    """

    def __init__(self, graph: dict, sf_dir: Optional[str] = None,
                 save_dir: str = "/tmp/spark_graft_results",
                 allow_code_udfs: bool = True,
                 tiled: bool = False, tile: int = 8,
                 tiled_store_dir: Optional[str] = None):
        import copy

        # Deep copy: the optimizer pre-pass annotates node dicts
        # (_target_resolution/_noop); the caller's payload must not see it.
        self.nodes: Dict[str, dict] = copy.deepcopy(
            graph["process_graph"] if "process_graph" in graph else graph
        )
        self.sf_dir = sf_dir
        self.save_dir = save_dir
        self.allow_code_udfs = allow_code_udfs
        self.tiled = tiled
        self.tile = tile
        # storage-first tiled execution: when set, a tiled-mode
        # load_collection whose id has a save_tiled store under this
        # directory READS the packed layout (band partition pruning +
        # tile/time predicates reaching the parquet scan) instead of
        # packing the long scan at query time
        self.tiled_store_dir = tiled_store_dir
        # process_ids that fell through _dispatch_tiled to the long
        # tier this execution (observable graceful degradation)
        self.tiled_demotions: list = []
        # (collection_id, level) per stored load served from an
        # overview pyramid level instead of the full-res base store
        self.tiled_overview_reads: list = []
        self.result_node = next(
            (nid for nid, n in self.nodes.items() if n.get("result")), None
        )
        if self.result_node is None:
            raise ValueError("process graph has no result node")
        self._pushdown_resample()

    @classmethod
    def from_file(cls, path: str, **kw) -> "ProcessGraph":
        with open(path) as f:
            return cls(json.load(f), **kw)

    # --- optimizer pre-pass -------------------------------------------------

    def _pushdown_resample(self) -> None:
        """Fold resample_spatial into the load_collection scan it
        follows (ref openeo_odc_driver.py:175-202): the load gains a
        `_target_resolution` option and the node becomes identity.

        Round 15: the fold now walks THROUGH intervening
        ``filter_bands`` / ``filter_temporal`` nodes — they only drop
        whole (band, time) slices and the spatial snap acts per slice,
        so selection and coarsening commute EXACTLY (same winner
        pixels, same values); the filters then run on the coarse cube.
        This is the rewrite that lets `load → filter_* → resample`
        graphs hit the store's overview levels. Nothing else commutes:
        a spatial filter changes which pixels exist (winners may lie
        outside the bbox), and any value-transforming op (apply,
        kernel, mask) would read different inputs — the walk stops at
        the first such node and the resample executes as an explicit
        regrid there (see `_dispatch`)."""
        # consumer map: a node shared by another branch must NOT have a
        # coarsening folded into it (the other branch would silently
        # read the coarse cube). Counts every from_node reference in
        # every argument position.
        consumers: Dict[str, int] = {}
        for n in self.nodes.values():
            for v in n.get("arguments", {}).values():
                if isinstance(v, dict) and "from_node" in v:
                    consumers[v["from_node"]] = (
                        consumers.get(v["from_node"], 0) + 1
                    )
        for nid, node in self.nodes.items():
            if node["process_id"] != "resample_spatial":
                continue
            if node["arguments"].get("projection") is not None:
                # a CRS change cannot fold into the scan (the scan has
                # no reprojecting reader) — it runs as the explicit
                # warp node (round 13)
                continue
            cur = node["arguments"].get("data", {}).get("from_node")
            while (
                cur is not None
                and self.nodes[cur]["process_id"] in ("filter_bands",
                                                      "filter_temporal")
                and consumers.get(cur, 0) == 1
            ):
                cur = self.nodes[cur]["arguments"].get(
                    "data", {}
                ).get("from_node")
            if (cur is not None
                    and self.nodes[cur]["process_id"] == "load_collection"
                    and consumers.get(cur, 0) == 1):
                up = self.nodes[cur]
                up["arguments"]["_target_resolution"] = node["arguments"].get(
                    "resolution"
                )
                up["arguments"]["_resample_method"] = node["arguments"].get(
                    "method", "near"
                )
                node["_noop"] = True

    # --- execution ----------------------------------------------------------

    def execute(self, spark: SparkSession):
        """Build the full lazy plan; runs the terminal save_result (if any)
        and returns the result cube (always long format — tiled mode
        demotes a tile-resident terminal through from_tiled)."""
        self._memo: Dict[str, Any] = {}
        self._spark = spark
        out = self._node(self.result_node)
        from ..core.tiled import TiledCube, from_tiled

        if isinstance(out, TiledCube):
            out = from_tiled(out)
        return out

    def _node(self, nid: str):
        if nid in self._memo:
            return self._memo[nid]
        node = self.nodes[nid]
        out = self._dispatch(node["process_id"], node.get("arguments", {}), node)
        self._memo[nid] = out
        return out

    def _resolve_raw(self, v: Any):
        """Resolve an argument: from_node edge, scalar, or passthrough —
        tiled handles pass through untouched (the tiled dispatch's view)."""
        if isinstance(v, dict) and "from_node" in v:
            return self._node(v["from_node"])
        return v

    def _resolve(self, v: Any):
        """The LONG view of an argument: a tile-resident upstream value
        demotes through from_tiled, so every long branch works unchanged
        under tiled execution (graceful degradation)."""
        from ..core.tiled import TiledCube, from_tiled

        out = self._resolve_raw(v)
        if isinstance(out, TiledCube):
            out = from_tiled(out)
        return out

    def _as_tiled(self, v: Any):
        """The TILED view: a long upstream value (already demoted by an
        operator without a tile path) re-packs so downstream tile-native
        processes keep their layout."""
        from ..core.tiled import TiledCube, to_tiled

        out = self._resolve_raw(v)
        if isinstance(out, TiledCube):
            return out
        return to_tiled(out, tile=self.tile)

    def _dispatch(self, pid: str, args: dict, node: dict,
                  long_only: bool = False):
        spark = self._spark
        if node.get("_noop"):
            return self._resolve_raw(args["data"])
        if self.tiled and not long_only:
            out = self._dispatch_tiled(pid, args, node)
            if out is not NotImplemented:
                return out
            # observable graceful degradation (round-10 ADVICE): every
            # fall-through to the long tier is recorded — a zonal
            # median over CONCAVE polygons, say, still answers, and
            # the demotion is visible to callers and tests instead of
            # silent
            self.tiled_demotions.append(pid)
            _log.info("tiled mode: %r demoted to the long tier", pid)

        if pid == "resample_spatial":
            # not folded into a scan (something sits between it and the
            # load) — run as an explicit regrid at this plan position
            from dataclasses import replace

            cube: Cube = self._resolve(args["data"])
            res = args.get("resolution")
            if args.get("projection") is not None:
                # CRS change (reference forwards the EPSG int to ODC's
                # reprojecting loader, openeo_odc_driver.py:191-199):
                # the distributed warp (round 13; directions + bilinear
                # round 14). projection == the cube's own CRS is NOT a
                # warp — the reference reprojects trivially there, so it
                # routes to the resolution-only branch below (ADVICE r13)
                from ..operators.resample import (
                    _epsg_of,
                    resample_spatial_warp,
                )

                if (_epsg_of(args["projection"]) is None
                        and str(args["projection"]) != str(cube.schema.crs)):
                    # an explicitly requested reprojection we cannot
                    # parse must NOT silently fall through to the
                    # resolution-only branch (None == None) — fail the
                    # same named way validate_warp_pair does
                    raise NotImplementedError(
                        "resample_spatial: unsupported target CRS "
                        f"{args['projection']!r} (EPSG codes only)"
                    )
                if _epsg_of(args["projection"]) != _epsg_of(cube.schema.crs):
                    if not res:
                        raise ValueError(
                            "resample_spatial with a projection change "
                            "needs an explicit resolution (meters)"
                        )
                    return resample_spatial_warp(
                        cube, args["projection"],
                        float(res[0] if isinstance(res, (list, tuple))
                              else res),
                        args.get("method", "near"),
                    )
            if not res:
                return cube
            g = cube.schema.grid
            if g is None:
                raise ValueError("resample_spatial: cube lacks a GridSpec")
            target = Cube(
                cube.df,
                replace(cube.schema,
                        grid=GridSpec(g.x0, g.y0, float(res), float(res))),
            )
            return resample_cube_spatial(cube, target,
                                         args.get("method", "near"))

        if pid == "load_collection":
            cube = load_collection_cube(spark, args["id"], self.sf_dir)
            te = args.get("temporal_extent")
            if te:
                cube = filter_temporal(cube, str(te[0])[:19], str(te[1])[:19])
            se = args.get("spatial_extent")
            if se and se.get("type") == "Polygon":
                # polygon-masked load (ref load_odc_collection.py:190-226):
                # bbox prefilter + point-in-polygon, fused into the scan
                from ..operators.filters import filter_spatial

                ring = [tuple(p) for p in se["coordinates"][0]]
                if len(ring) > 1 and ring[0] == ring[-1]:
                    ring = ring[:-1]  # GeoJSON closes the ring; ray-cast doesn't
                cube = filter_spatial(cube, [ring])
            elif se:
                cube = filter_bbox(
                    cube, se["west"], se["east"], se["south"], se["north"],
                    crs=se.get("crs"),
                )
            bands = args.get("bands")
            if bands:
                cube = filter_bands(cube, bands)
            res = args.get("_target_resolution")
            if res:
                from dataclasses import replace

                g = cube.schema.grid
                target = Cube(
                    cube.df,
                    replace(cube.schema,
                            grid=GridSpec(g.x0, g.y0, float(res), float(res))),
                )
                cube = resample_cube_spatial(cube, target,
                                             args.get("_resample_method", "near"))
            return cube

        if pid == "save_result":
            from ..sinks.save import save_result

            cube = self._resolve(args["data"])
            fmt = args.get("format", "PARQUET")
            import os

            os.makedirs(self.save_dir, exist_ok=True)
            save_result(cube, f"{self.save_dir}/{self.result_node}", fmt)
            return cube

        if pid == "reduce_dimension":
            cube: Cube = self._resolve(args["data"])
            dim = canonical_dim(args["dimension"])
            child = args["reducer"]["process_graph"]
            named = _single_named_reducer(child)
            if named is not None:
                return reduce_dimension(cube, dim, named)
            if dim == BAND:
                return _reduce_bands_expression(cube, child)
            raise NotImplementedError(
                f"expression reducer over {dim!r} (only bands supported)"
            )

        if pid == "apply_dimension":
            # the reference only wires quantiles under apply_dimension
            # (openeo_odc_driver.py:852-855)
            cube = self._resolve(args["data"])
            dim = args.get("dimension", "time")
            child = args["process"]["process_graph"]
            node_c = next(iter(child.values()))
            if len(child) == 1 and node_c["process_id"] == "quantiles":
                from ..operators.reducers import quantiles

                ca = node_c.get("arguments", {})
                return quantiles(
                    cube, dim,
                    probabilities=ca.get("probabilities"), q=ca.get("q"),
                )
            raise NotImplementedError(
                "apply_dimension supports a single quantiles child (as the "
                "reference does)"
            )

        if pid == "apply":
            cube = self._resolve(args["data"])
            child = args["process"]["process_graph"]
            expr = _compile_expr(child, {"x": F.col(VALUE), "data": F.col(VALUE)})
            return cube.with_df(cube.df.withColumn(VALUE, expr))

        if pid == "filter_bands":
            return filter_bands(self._resolve(args["data"]), args["bands"])
        if pid == "filter_temporal":
            ext = args.get("extent") or [args.get("start"), args.get("end")]
            return filter_temporal(self._resolve(args["data"]),
                                   str(ext[0])[:19], str(ext[1])[:19])
        if pid == "filter_bbox":
            e = args.get("extent", args)
            return filter_bbox(self._resolve(args["data"]),
                               e["west"], e["east"], e["south"], e["north"])
        if pid == "mask":
            return mask_op(self._resolve(args["data"]),
                           self._resolve(args["mask"]),
                           args.get("replacement"))
        if pid == "filter_spatial":
            return filter_spatial(
                self._resolve(args["data"]),
                _geojson_polygons(args["geometries"]),
            )
        if pid == "aggregate_spatial":
            child = args["reducer"]["process_graph"]
            named = _single_named_reducer(child)
            return aggregate_spatial(
                self._resolve(args["data"]),
                _geojson_polygons(args["geometries"]),
                named,
                # the reference's geometry-dim label, default 'result'
                # (openeo_odc_driver.py:654-656)
                target_dimension=args.get("target_dimension", "result"),
            )
        if pid == "load_result":
            from ..sources.synthetic import load_result as load_result_src

            import os

            path = args.get("path") or os.path.join(
                os.path.dirname(self.save_dir.rstrip("/")), str(args["id"])
            )
            return load_result_src(spark, path)
        if pid == "climatological_normal":
            from ..operators.aggregates import climatological_normal

            return climatological_normal(
                self._resolve(args["data"]),
                args.get("frequency", "monthly"),
            )
        if pid == "anomaly":
            from ..operators.aggregates import anomaly

            return anomaly(self._resolve(args["data"]),
                           self._resolve(args["normals"]))
        if pid == "resample_cube_spatial":
            return resample_cube_spatial(
                self._resolve(args["data"]),
                self._resolve(args["target"]),
                args.get("method", "near"),
            )
        if pid == "array_interpolate_linear":
            from ..operators.dimops import array_interpolate_linear

            # parent's dimension (reference reads node.parent_process)
            return array_interpolate_linear(
                self._resolve(args["data"]), args.get("dimension", "time")
            )
        if pid == "merge_cubes":
            c1, c2 = self._resolve(args["cube1"]), self._resolve(args["cube2"])
            fn = _overlap_resolver_fn(args)
            if fn is not None:
                return merge_cubes(c1, c2, overlap_resolver=fn)
            try:
                return merge_cubes(c1, c2)
            except ValueError as e:
                ov = args.get("overlap_resolver")
                if ("overlap_resolver" in str(e)
                        and isinstance(ov, dict) and "from_node" in ov):
                    # reference quirk parity (openeo_odc_driver.py:
                    # 1181-1187): the resolver is a SIBLING NODE whose
                    # already-evaluated result merge_cubes forwards
                    return self._resolve(ov)
                raise
        if pid == "aggregate_temporal_period":
            child = args["reducer"]["process_graph"]
            named = _single_named_reducer(child)
            return aggregate_temporal_period(self._resolve(args["data"]),
                                             args["period"], named)
        if pid == "apply_kernel":
            return apply_kernel(self._resolve(args["data"]), args["kernel"],
                                factor=args.get("factor", 1.0),
                                border=args.get("border", 0))
        if pid == "resample_cube_temporal":
            return resample_cube_temporal(self._resolve(args["data"]),
                                          self._resolve(args["target"]))
        if pid == "add_dimension":
            return add_dimension(self._resolve(args["data"]),
                                 args.get("label", args.get("name", "band")))
        if pid == "rename_labels":
            return rename_labels(self._resolve(args["data"]), args["dimension"],
                                 args["target"], args.get("source"))
        if pid == "drop_dimension":
            from ..operators.dimops import drop_dimension

            return drop_dimension(self._resolve(args["data"]), args["name"])
        if pid == "aggregate_spatial_window":
            from ..operators.aggregates import aggregate_spatial_window

            named = _single_named_reducer(args["reducer"]["process_graph"])
            return aggregate_spatial_window(
                self._resolve(args["data"]), args["size"], named,
                args.get("boundary", "pad"),
            )
        if pid == "fit_curve":
            from ..operators.curve import fit_curve, fit_curve_linear, linear_model

            model = _compile_model(args["function"]["process_graph"])
            # Plan-level lowering: the 2-param linear model has a
            # closed-form least-squares answer, so the planner swaps the
            # tiled pandas Gauss-Newton for the pure-Catalyst aggregation
            # (zero Python in the row path). ModelExpr is a frozen
            # dataclass — structural equality recognizes the shape.
            if model == linear_model():
                return fit_curve_linear(self._resolve(args["data"]))
            return fit_curve(self._resolve(args["data"]), model)
        if pid == "predict_curve":
            from ..operators.curve import predict_curve

            model = _compile_model(args["function"]["process_graph"])
            times = args.get("labels") or self._resolve(args["data"])
            return predict_curve(self._resolve(args["parameters"]), model, times)
        if pid == "radar_mask":
            from ..operators.sar import radar_mask

            return radar_mask(
                self._resolve(args["data"]),
                float(args["foreshortening_th"]),
                float(args["layover_th"]),
                args.get("orbit_direction", "ASC"),
            )
        if pid == "geocode":
            from ..operators.sar import geocode

            res = args.get("resolution", 10.0)
            resx, resy = (res if isinstance(res, (list, tuple)) else (res, res))
            return geocode(
                self._resolve(args["data"]), float(resx), float(resy),
                args.get("method", "near"),
            )
        if pid == "run_udf":
            # Python code-string UDFs via the openEO `apply_datacube`
            # convention (a function taking/returning a pandas frame of
            # the long cube). The reference's runtime here is R
            # (openeo_odc_driver.py:282-339) — R is declared out of
            # scope (SURVEY §2.10); Python strings and callables run.
            from ..operators.udf import run_udf

            udf = args["udf"]
            if callable(udf):
                fn = udf
            else:
                runtime = str(args.get("runtime", "Python"))
                if runtime.lower() not in ("python", "python3"):
                    raise NotImplementedError(
                        f"run_udf runtime {runtime!r} not supported "
                        "(Python only; R is out of scope)"
                    )
                if not self.allow_code_udfs:
                    raise PermissionError(
                        "code-string run_udf rejected: this ProcessGraph "
                        "was built with allow_code_udfs=False (untrusted "
                        "payload); pass a callable udf instead"
                    )
                ns: dict = {}
                exec(udf, ns)  # trust model documented on ProcessGraph
                if "apply_datacube" not in ns:
                    raise ValueError(
                        "run_udf code must define apply_datacube(df, context)"
                    )
                context = args.get("context") or {}
                user_fn = ns["apply_datacube"]
                # Close over ONLY the function + context, never the exec
                # namespace: `ns["__builtins__"]` can carry unpicklable
                # PyCapsule entries (observed after a duckdb import) and
                # cloudpickle serializes a closed-over dict wholesale.
                fn = lambda pdf, _f=user_fn, _c=context: _f(pdf, _c)  # noqa: E731
            return run_udf(self._resolve(args["data"]), fn)

        raise NotImplementedError(f"process_id {pid!r} not supported by planner")

    # --- tiled execution ----------------------------------------------------

    def _load_tiled_store(self, args: dict):
        """Storage-first tiled load: read a ``save_tiled`` store for
        this collection when one exists under ``tiled_store_dir``, and
        apply the load's band / temporal / bbox arguments NATIVELY on
        the packed layout — bands prune hive partitions, the time
        predicate reaches the parquet scan, and the packing cost is
        paid once at store-build time instead of per query (SURVEY
        §1.4's storage tier driving the planner end-to-end). Returns
        None — fall back to the long scan + query-time pack — when no
        store exists, a resample is pushed into this load, or a
        spatial_extent needs row-level trimming (only a whole-scene
        bbox is a provable no-op on tiles; filter_bbox otherwise
        changes the grid extent, a long-format concern)."""
        import os

        if not (self.tiled_store_dir and isinstance(args.get("id"), str)):
            return None
        path = os.path.join(self.tiled_store_dir, args["id"])
        if not os.path.exists(os.path.join(path, "_tiled_meta.json")):
            return None
        from ..core import tiled as tl

        tc = tl.load_tiled(self._spark, path)
        tres = args.get("_target_resolution")
        if tres and (
            tc.schema.grid is None
            or str(args.get("_resample_method", "near"))
            not in ("near", "nearest")
        ):
            # pushed-down resample the tiled snap can't express —
            # fall back to the long scan (which coarsens in-scan)
            return None
        se = args.get("spatial_extent")
        if se:
            g = tc.schema.grid
            if se.get("type") == "Polygon" or se.get("crs") or g is None:
                return None
            xmax = g.x0 + g.resx * (tc.n_x - 1)
            ymin = g.y0 - g.resy * (tc.n_y - 1)
            covers = (
                float(se["west"]) <= g.x0 and float(se["east"]) >= xmax
                and float(se["south"]) <= ymin
                and float(se["north"]) >= g.y0
            )
            if not covers:
                return None
        if tres:
            # OVERVIEW PYRAMID (round 15): serve the pushed-down
            # coarse resample from the coarsest stored level that
            # resolves it EXACTLY (select_overview_level proves
            # w_k[w_2] == w_direct per axis from the sidecar + grid
            # constants — zero Spark jobs). The reference pushes the
            # same shape into ODC's overview-reading loader
            # (openeo_odc_driver.py:175-202); at 100 TB this is the
            # difference between scanning k²× fewer tile bytes and
            # scanning the full-res scene for a 600 m answer. No
            # exact level → read the base store as before.
            r = float(tres[0] if isinstance(tres, (list, tuple))
                      else tres)
            lvl = tl.select_overview_level(
                path, tc.schema.grid, tc.n_y, tc.n_x, r
            )
            if lvl is not None:
                tc = tl.load_tiled(
                    self._spark,
                    os.path.join(path, "_overviews", f"L{lvl}"),
                )
                self.tiled_overview_reads.append((args["id"], lvl))
        te = args.get("temporal_extent")
        if te:
            tc = tl.filter_temporal_tiled(
                tc, str(te[0])[:19], str(te[1])[:19]
            )
        if args.get("bands"):
            tc = tl.filter_bands_tiled(tc, args["bands"])
        if tres:
            # a resample pushed into this load used to FORFEIT the
            # store (long scan + query-time repack of the full-res
            # scene); round 14 keeps the store and regrids natively —
            # same bytes read, the covering-downscale snap on tiles,
            # applied AFTER band/temporal pruning so the snap moves
            # only the kept slices. Unsupported grid pairs fall back.
            from dataclasses import replace as _rpl

            g = tc.schema.grid
            r = float(tres[0] if isinstance(tres, (list, tuple))
                      else tres)
            tgt = tl.TiledCube(
                tc.df, _rpl(tc.schema, grid=GridSpec(g.x0, g.y0, r, r)),
                tc.tile, tc.n_y, tc.n_x,
            )
            try:
                tc = tl.resample_cube_spatial_tiled(tc, tgt, "near")
            except tl.TiledRegridUnsupported:
                return None
        return tc


    def _dispatch_tiled(self, pid: str, args: dict, node: dict):
        """Tile-native branch of the dispatch: returns a result for
        processes that can stay on the packed layout, or
        ``NotImplemented`` to fall through to the long branch (whose
        ``_resolve`` demotes tile-resident inputs via from_tiled — so
        unsupported processes degrade gracefully, never error).

        Stays tiled: load_collection (pack after the pushed-down scan),
        filter_bands / filter_temporal, apply (expression compiled over
        the transform lambda var — same _compile_expr as the long
        path), reduce_dimension (named time reducers mean/sum/min/max/
        median, named band reducers, band EXPRESSIONS via the tiled
        wide-join compiler, x/y partial-fold reducers),
        apply_dimension (time quantiles), array_interpolate_linear
        (time), aggregate_temporal_period (incl. median), mask (both
        sides coerced to tiles), merge_cubes (concat cases),
        apply_kernel (border-0, radius ≤ tile), aggregate_spatial
        (convex + mean/sum/min/max/count → the interior/boundary
        classified plan, emits long), radar_mask (radius-2 halo-strip
        exchange on the DEM band), resample_cube_temporal (broadcast
        as-of relabel on tile rows), resample_cube_spatial (any
        covering downscale via the fragment repack, bilinear via the
        window-fragment gather, uniform-stride upscale as a
        zero-shuffle relabel; non-uniform strides / off-scene origins
        demote). filter_bbox stays tiled through the JVM window repack
        (non-dyadic re-anchor drift falls back to the expanding
        slice).
        geocode stays long BY DESIGN: its input positions (per-pixel
        LON/LAT layer bands) are irregular, so the packed layout's
        premise — pixel index ≡ grid cell — doesn't hold past the
        pivot; the long operator already chunk-groups by target tile
        internally."""
        from ..core import tiled as tl
        from ..core.tiled import TiledCube

        def is_tiled(key: str) -> bool:
            return isinstance(self._resolve_raw(args[key]), TiledCube)

        if pid == "save_result":
            # GTiff from a tile-resident, time-free cube rides the
            # DISTRIBUTED tiled writer (round 13 — sinks/gtiff_tiled.py:
            # executors pwrite tiles at static offsets, driver writes
            # only the IFD; no 50 M-px collect ceiling). Other formats
            # (and time-bearing cubes, which need the squeeze rules)
            # stay on the long sink — a sink materializes pixels by
            # definition, so that expansion is the operator's
            # semantics, not a recorded demotion.
            fmt = str(args.get("format", "PARQUET")).upper()
            if fmt in ("GTIFF", "GTIFF_") and is_tiled("data"):
                tc = self._resolve_raw(args["data"])
                if TIME in tc.schema.dims:
                    # the reference's squeeze rules before a GeoTIFF
                    # write (openeo_odc_driver.py:1679-1724), both
                    # tile-native (round 14): a singleton time axis
                    # DROPS; a multi-step axis on a ≤1-band cube maps
                    # onto the PLANE axis (one GeoTIFF band per
                    # timestamp). Multi-band × multi-time keeps the
                    # long sink's guarded error.
                    squeezed = tl.squeeze_time_tiled(tc)
                    if squeezed is None:
                        squeezed = tl.time_to_planes_tiled(tc)
                    if squeezed is not None:
                        tc = squeezed
                if TIME not in tc.schema.dims and tc.schema.grid is not None:
                    import os

                    from ..sinks.gtiff_tiled import save_gtiff_tiled

                    os.makedirs(self.save_dir, exist_ok=True)
                    # openEO save_result options: COG controls (round
                    # 15) — "overviews": [2, 4, ...] writes chained
                    # reduced-resolution IFDs; "compression": "deflate"
                    # selects the COG-standard codec
                    opts = args.get("options") or {}
                    comp = opts.get("compression")
                    if comp is not None:
                        comp = str(comp).lower()
                        if comp in ("none", ""):
                            comp = None
                    save_gtiff_tiled(
                        tc, f"{self.save_dir}/{self.result_node}",
                        compress=comp,
                        overviews=tuple(opts.get("overviews") or ()),
                    )
                    return tc
            return self._dispatch(pid, args, node, long_only=True)

        if pid == "load_collection":
            stored = self._load_tiled_store(args)
            if stored is not None:
                return stored
            cube = self._dispatch(pid, args, node, long_only=True)
            # action-free planning: the catalog derives the packed
            # scene dims statically (bit-equal to the probe for plain
            # bbox extents), so building a tiled plan runs ZERO Spark
            # jobs; a resample pushdown or polygon extent falls back
            # to to_tiled's max-index probe
            dims = None
            if not args.get("_target_resolution"):
                from .catalog import static_scene_dims

                dims = static_scene_dims(
                    args["id"], args.get("spatial_extent")
                )
            if dims is not None:
                return tl.to_tiled(
                    cube, tile=self.tile, n_y=dims[0], n_x=dims[1]
                )
            return tl.to_tiled(cube, tile=self.tile)

        if pid == "filter_bands" and is_tiled("data"):
            return tl.filter_bands_tiled(
                self._resolve_raw(args["data"]), args["bands"]
            )
        if pid == "filter_temporal" and is_tiled("data"):
            ext = args.get("extent") or [args.get("start"), args.get("end")]
            return tl.filter_temporal_tiled(
                self._resolve_raw(args["data"]),
                str(ext[0])[:19], str(ext[1])[:19],
            )
        if pid == "filter_bbox" and is_tiled("data"):
            e = args.get("extent", args)
            tc = self._resolve_raw(args["data"])
            try:
                # native window slice: stays on tiles (downstream
                # tile-native operators keep their layout)
                return tl.filter_bbox_tiled_native(
                    tc, e["west"], e["east"], e["south"], e["north"]
                )
            except tl.TiledRegridUnsupported:
                # non-dyadic re-anchor drift: the expanding slice
                # (tile pruning + exact pixel predicate, emits long)
                return tl.filter_bbox_tiled(
                    tc, e["west"], e["east"], e["south"], e["north"]
                )
        if pid == "apply" and is_tiled("data"):
            child = args["process"]["process_graph"]
            return tl.apply_tiled(
                self._resolve_raw(args["data"]),
                lambda v: _compile_expr(child, {"x": v, "data": v}),
            )
        if pid == "reduce_dimension" and is_tiled("data"):
            tc = self._resolve_raw(args["data"])
            dim = canonical_dim(args["dimension"])
            child = args["reducer"]["process_graph"]
            named = _single_named_reducer(child)
            if dim == TIME and named in (
                "mean", "sum", "min", "max", "sd", "variance"
            ):
                return tl.reduce_time_tiled(tc, named)
            if dim == TIME and named == "median":
                return tl.reduce_time_median_tiled(tc)
            if dim == BAND and named in (
                "mean", "sum", "min", "max", "sd", "variance"
            ):
                return tl.reduce_bands_tiled(tc, named)
            if dim == BAND and named is None:
                return _reduce_bands_expression_tiled(tc, child)
            if dim in (X, Y) and named in (
                *tl._SPATIAL_REDUCERS, *tl._SPATIAL_MULTISET
            ):
                # within-tile line partials (or compact value multisets
                # for median/product) + one line-keyed combine; emits
                # long (the result keeps one spatial axis)
                return tl.reduce_spatial_tiled(tc, dim, named)
            return NotImplemented  # x/y quantiles: long path
        if pid == "apply_dimension" and is_tiled("data"):
            child = args["process"]["process_graph"]
            node_c = next(iter(child.values()))
            dim = canonical_dim(args.get("dimension", "time"))
            if len(child) == 1 and node_c["process_id"] == "quantiles":
                ca = node_c.get("arguments", {})
                if dim == TIME:
                    return tl.quantiles_tiled(
                        self._resolve_raw(args["data"]),
                        probabilities=ca.get("probabilities"),
                        q=ca.get("q"),
                    )
                if dim in (X, Y):
                    return tl.quantiles_spatial_tiled(
                        self._resolve_raw(args["data"]), dim,
                        probabilities=ca.get("probabilities"),
                        q=ca.get("q"),
                    )
                if dim == BAND:
                    # round 12: the time fold with the band axis
                    # stacked instead — closes the quantiles family
                    return tl.quantiles_tiled(
                        self._resolve_raw(args["data"]),
                        probabilities=ca.get("probabilities"),
                        q=ca.get("q"), dim=BAND,
                    )
            return NotImplemented
        if pid == "array_interpolate_linear" and is_tiled("data"):
            if canonical_dim(args.get("dimension", "time")) == TIME:
                return tl.array_interpolate_linear_tiled(
                    self._resolve_raw(args["data"])
                )
            return NotImplemented
        if pid == "climatological_normal" and is_tiled("data"):
            if args.get("frequency", "monthly") == "monthly":
                return tl.climatological_normal_tiled(
                    self._resolve_raw(args["data"])
                )
            return NotImplemented
        if pid == "aggregate_temporal_period" and is_tiled("data"):
            named = _single_named_reducer(args["reducer"]["process_graph"])
            if named in ("mean", "sum", "min", "max", "sd", "variance",
                         "median"):
                return tl.aggregate_temporal_period_tiled(
                    self._resolve_raw(args["data"]), args["period"], named
                )
            return NotImplemented
        if pid == "mask" and (is_tiled("data") or is_tiled("mask")):
            try:
                return tl.mask_tiled(
                    self._as_tiled(args["data"]),
                    self._as_tiled(args["mask"]),
                    args.get("replacement"),
                )
            except tl.TiledRegridUnsupported:
                # tile-index joins require a shared grid: a re-anchored
                # relabel cube (upscale snap) vs a target-grid cube
                # demotes to the long per-pixel join (round 13)
                return NotImplemented
        if pid == "merge_cubes" and (is_tiled("cube1") or is_tiled("cube2")):
            try:
                return tl.merge_cubes_tiled(
                    self._as_tiled(args["cube1"]),
                    self._as_tiled(args["cube2"]),
                    overlap_resolver=_overlap_resolver_fn(args),
                )
            except tl.TiledRegridUnsupported:
                return NotImplemented
            except ValueError:
                # overlapping keys without a compilable child-graph
                # resolver: the long branch owns the remaining cases
                # (the reference's from_node forwarding quirk, or the
                # faithful OverlapResolverMissing error)
                return NotImplemented
        if pid == "apply_kernel" and is_tiled("data"):
            tc = self._resolve_raw(args["data"])
            kernel = args["kernel"]
            border = args.get("border", 0)
            r = max(len(kernel) // 2, len(kernel[0]) // 2)
            if r <= tc.tile:
                try:
                    return tl.apply_kernel_tiled_layout(
                        tc, kernel, factor=args.get("factor", 1.0),
                        border=border,
                    )
                except NotImplementedError:
                    # wrap with a radius beyond the last tile's valid
                    # span (or the scene): long scatter path — partial
                    # tilings themselves are native since round 13
                    return NotImplemented
            return NotImplemented  # radius > tile: long path
        if pid == "radar_mask" and is_tiled("data"):
            # radius-2 halo-strip exchange on the DEM band; every
            # neighborhood op now has a tiled strategy (core/tiled.py)
            return tl.radar_mask_tiled(
                self._resolve_raw(args["data"]),
                float(args["foreshortening_th"]),
                float(args["layover_th"]),
                args.get("orbit_direction", "ASC"),
            )
        if pid == "resample_cube_temporal" and is_tiled("data"):
            # time is a key column on tile rows: the as-of relabel is a
            # broadcast join against the tiny time mapping — zero data
            # shuffle, arrays never open (core/tiled.py)
            return tl.resample_cube_temporal_tiled(
                self._resolve_raw(args["data"]),
                self._resolve_raw(args["target"]),
            )
        if pid == "resample_spatial" and is_tiled("data"):
            # PROJECTION warp natively on tiles (round 14) — the last
            # raster op that demoted: nearest AND bilinear both ride
            # resample_spatial_warp_tiled (raster stays packed, one
            # exchange); resolution-only routes to the native
            # covering-downscale snap below
            if args.get("projection") is not None:
                from ..operators.resample import _epsg_of

                tcube = self._resolve_raw(args["data"])
                if (_epsg_of(args["projection"]) is None
                        and str(args["projection"])
                        != str(tcube.schema.crs)):
                    # same guard as the long branch: an unparseable
                    # explicit reprojection raises instead of silently
                    # routing to the resolution-only snap
                    raise NotImplementedError(
                        "resample_spatial: unsupported target CRS "
                        f"{args['projection']!r} (EPSG codes only)"
                    )
                if (_epsg_of(args["projection"])
                        != _epsg_of(tcube.schema.crs)):
                    res = args.get("resolution")
                    if not res:
                        raise ValueError(
                            "resample_spatial with a projection change "
                            "needs an explicit resolution (meters)"
                        )
                    try:
                        return tl.resample_spatial_warp_tiled(
                            tcube, args["projection"],
                            float(res[0] if isinstance(res, (list, tuple))
                                  else res),
                            args.get("method", "near"),
                        )
                    except tl.TiledRegridUnsupported:
                        return NotImplemented
                # projection == cube CRS: fall through to the
                # resolution-only native snap below (ADVICE r13)
            # resolution-only at an explicit plan position (not folded
            # into the scan): the long branch runs resample_cube_spatial
            # onto the scaled grid — the same covering-downscale snap
            # resample_cube_spatial_tiled runs natively (round 14);
            # unsupported grid pairs demote as usual
            res = args.get("resolution")
            if res and str(args.get("method", "near")) in ("near",
                                                           "nearest"):
                from dataclasses import replace as _rpl

                tcube = self._resolve_raw(args["data"])
                g = tcube.schema.grid
                if g is not None:
                    r = float(res[0] if isinstance(res, (list, tuple))
                              else res)
                    tgt = tl.TiledCube(
                        tcube.df,
                        _rpl(tcube.schema,
                             grid=GridSpec(g.x0, g.y0, r, r)),
                        tcube.tile, tcube.n_y, tcube.n_x,
                    )
                    try:
                        return tl.resample_cube_spatial_tiled(
                            tcube, tgt, "near"
                        )
                    except tl.TiledRegridUnsupported:
                        return NotImplemented
            return NotImplemented
        if pid == "resample_cube_spatial" and is_tiled("data"):
            src = self._resolve_raw(args["data"])
            tgt = self._resolve_raw(args["target"])
            method = args.get("method", "near")
            # any covering downscale grid pair runs natively (winner
            # maps as plan data) and any uniform-stride UPSCALE
            # relabels with zero data movement (round 12); non-uniform
            # strides / off-scene origins demote to the long snap
            # (recorded demotion)
            if method in ("near", "nearest"):
                try:
                    return tl.resample_cube_spatial_tiled(src, tgt, method)
                except tl.TiledRegridUnsupported:
                    return NotImplemented
            if method == "bilinear":
                try:
                    return tl.resample_cube_spatial_bilinear_tiled(
                        src, self._as_tiled(args["target"])
                    )
                except tl.TiledRegridUnsupported:
                    return NotImplemented
            return NotImplemented
        if pid == "aggregate_spatial" and is_tiled("data"):
            named = _single_named_reducer(args["reducer"]["process_graph"])
            polys = _geojson_polygons(args["geometries"])
            # concave polygons are native since round 10 (even-odd
            # crossing tests mirroring the long ray-cast UDF); the full
            # reducer set incl. product is native since round 11 — only
            # a reducer outside _ZONAL_REDUCERS demotes
            if named in tl._ZONAL_REDUCERS:
                return tl.aggregate_spatial_tiled(
                    self._resolve_raw(args["data"]), polys, named,
                    target_dimension=args.get("target_dimension", "result"),
                )
            return NotImplemented
        return NotImplemented


def _reduce_bands_expression_tiled(tc, child: dict):
    """The tiled twin of :func:`_reduce_bands_expression`: the band rows
    of each (time, tile) join into one wide row (one array column per
    band — join key count is tiles, not pixels), then ONE transform over
    the pixel index evaluates the expression with each band's element
    bound via O(1) array indexing. It reuses :func:`_compile_expr`
    verbatim, so graph arithmetic cannot drift between tiers.

    The round-12 interleaved A/B (126 M and 1.26 G cells, PLANS.md)
    found this interpreted transform and an Arrow/numpy evaluator
    indistinguishable for band arithmetic (~3 flops/cell: the per-
    element interpretation and the Arrow serde of whole band arrays
    cost about the same), so the JVM-resident engine is the only one —
    no Python workers or Arrow buffers in the path.
    """
    from ..core.tiled import TiledCube

    keys = [d for d in (TIME,) if d in tc.schema.dims]
    bands = tc.schema.bands
    if not bands:
        raise ValueError(
            "band-expression reducer on tiles needs schema band labels"
        )
    # the band sides pre-cluster at the raster-aware width (round 14 —
    # the sf100 profile put this stage's interpreted evaluation at half
    # the graph wall in 32 oversized tasks; same oracle guard as the
    # folds: no-op at gate scale)
    from ..core.tiled import _widen_df

    jk = [*keys, "tile_row", "tile_col"]
    wide = None
    for b in bands:
        side = _widen_df(
            tc,
            tc.df.where(F.col(BAND) == b).select(
                *keys, "tile_row", "tile_col",
                F.col("data").alias(f"_b_{b}"),
            ),
            jk,
        )
        wide = side if wide is None else wide.join(side, jk)
    T2 = tc.tile * tc.tile
    out_schema = tc.schema.drop(BAND).with_bands(())

    def elem(i):
        def band_col(cargs: dict):
            label = cargs.get("label")
            if label is None:
                label = bands[int(cargs["index"])]
            return F.element_at(F.col(f"_b_{label}"), i + 1)

        return _compile_expr(child, {"data": band_col})

    data = F.transform(
        F.expr(f"sequence(0, {T2 - 1})"),
        lambda i: elem(i).cast("double"),
    )
    out = wide.select(*keys, "tile_row", "tile_col", data.alias("data"))
    return TiledCube(out, out_schema, tc.tile, tc.n_y, tc.n_x)


def _compile_model(graph: dict):
    """openEO fit_curve/predict_curve ``function`` sub-graph → ModelExpr.

    The reference compiles the same node set to a Python source string
    and eval()s it (openeo_odc_driver.py:227-281: pi, array_element →
    ``a<i>``, multiply/divide/subtract/add/sin/cos over numbers,
    ``from_node`` children, and the ``from_parameter`` x = time); here
    the graph maps onto the typed ModelExpr AST the curve operators
    evaluate vectorized — no codegen, no eval of model formulas.
    """
    from ..operators import curve as C
    from ..operators.curve import ModelExpr

    def build(node_id: str, memo: dict):
        if node_id in memo:
            return memo[node_id]
        node = graph[node_id]
        pid = node["process_id"]
        args = node.get("arguments", {})

        def operand(v):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return C.const(v)
            if isinstance(v, dict):
                if "from_node" in v:
                    return build(v["from_node"], memo)
                if "from_parameter" in v:
                    p = v["from_parameter"]
                    if p in ("x", "labels", "data"):
                        return C.tvar()
                    if p == "parameters":
                        raise ValueError(
                            "parameters must be indexed via array_element"
                        )
            raise NotImplementedError(f"model operand {v!r}")

        if pid == "pi":
            e = C.PI
        elif pid == "array_element":
            e = C.param(int(args["index"]))
        elif pid == "add":
            e = C.add(operand(args["x"]), operand(args["y"]))
        elif pid == "subtract":
            e = C.sub(operand(args["x"]), operand(args["y"]))
        elif pid == "multiply":
            e = C.mul(operand(args["x"]), operand(args["y"]))
        elif pid == "divide":
            e = ModelExpr("div", (operand(args["x"]), operand(args["y"])))
        elif pid == "sin":
            e = C.sin(operand(args["x"]))
        elif pid == "cos":
            e = C.cos(operand(args["x"]))
        elif pid == "power":
            e = ModelExpr("pow", (operand(args["base"]), operand(args["p"])))
        else:
            raise NotImplementedError(f"model process {pid!r}")
        memo[node_id] = e
        return e

    result = [nid for nid, n in graph.items() if n.get("result")]
    if len(result) != 1:
        raise ValueError("model sub-graph needs exactly one result node")
    return build(result[0], {})


def _geojson_polygons(gj: dict) -> list:
    """GeoJSON Polygon / MultiPolygon / FeatureCollection → list of rings
    (reference: geopandas materialization, openeo_odc_driver.py:641-652)."""
    t = gj.get("type")
    if t == "Polygon":
        rings = [gj["coordinates"][0]]
    elif t == "MultiPolygon":
        rings = [poly[0] for poly in gj["coordinates"]]
    elif t == "FeatureCollection":
        rings = []
        for feat in gj["features"]:
            rings.extend(_geojson_polygons(feat["geometry"]))
        return rings
    else:
        raise ValueError(f"unsupported geometry type {t!r}")
    out = []
    for ring in rings:
        pts = [tuple(p) for p in ring]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]  # GeoJSON closes rings; the ray-cast doesn't
        out.append(pts)
    return out


def _overlap_resolver_fn(args: dict):
    """Compile merge_cubes' ``overlap_resolver`` child process graph
    (openEO standard shape: parameters ``x``/``y``) into a binary
    Column builder for the operators' resolver hook — works for both
    the long full-outer join and the tiled ``zip_with`` lambda.
    Returns None when the argument is absent or is the reference's
    from_node quirk (handled by the caller)."""
    ov = args.get("overlap_resolver")
    if isinstance(ov, dict) and "process_graph" in ov:
        child = ov["process_graph"]
        return lambda x, y: _compile_expr(child, {"x": x, "y": y})
    return None


def _single_named_reducer(child: dict) -> Optional[str]:
    """A sub-graph that is exactly one named reducer node over
    from_parameter data → its name (ref tag-string folding,
    openeo_odc_driver.py:535,558,723,751,780,809,837)."""
    if len(child) != 1:
        return None
    node = next(iter(child.values()))
    pid = node["process_id"]
    return pid if pid in REDUCERS else None


def _reduce_bands_expression(cube: Cube, child: dict) -> Cube:
    """Compile an arithmetic band-reducer sub-graph over the wide pivot."""
    wide = bands_wide(cube)
    group = [d for d in cube.key_dims if d != BAND]

    def band_col(args: dict) -> Column:
        label = args.get("label")
        if label is None:
            label = cube.schema.bands[int(args["index"])]
        return F.col(label)

    expr = _compile_expr(child, {"data": band_col})
    out = wide.select(*group, expr.alias(VALUE))
    return Cube(out, cube.schema.drop(BAND).with_bands(()))


def _compile_expr(child: dict, params: Dict[str, Any]) -> Column:
    """Compile a scalar sub-graph into one Column expression (replaces the
    reference's Python-string codegen + exec, openeo_odc_driver.py:228-278,
    1530 — expressions stay JVM-side, Catalyst folds constants)."""
    memo: Dict[str, Column] = {}
    result_id = next(
        (nid for nid, n in child.items() if n.get("result")), None
    ) or next(reversed(child))

    def resolve(v: Any, node_args: dict) -> Any:
        if isinstance(v, dict) and "from_node" in v:
            return build(v["from_node"])
        if isinstance(v, dict) and "from_parameter" in v:
            p = params[v["from_parameter"]]
            if callable(p) and not isinstance(p, Column):
                return p(node_args)
            return p
        return v

    def build(nid: str) -> Column:
        if nid in memo:
            return memo[nid]
        node = child[nid]
        pid = node["process_id"]
        args = node.get("arguments", {})
        if pid == "array_element":
            p = params["data"]
            col = p(args) if callable(p) and not isinstance(p, Column) else p
        elif (
            pid in ("max", "min")
            and isinstance(args.get("data"), list)
        ):
            # the spec-standard resolver/apply shape
            # ``max(data=[{from_parameter: x}, {from_parameter: y}])``
            # (openEO processes 1.x define max/min over an ARRAY) — a
            # small literal list of refs/scalars lowers to the same
            # greatest/least the binary x/y dialect uses (NULL-skipping
            # matches the openEO ignore_nodata default). ADVICE r13:
            # this shape used to hard-error as unsupported-process.
            items = [resolve(v, args) for v in args["data"]]
            fn = F.greatest if pid == "max" else F.least
            cols = [v if isinstance(v, Column) else F.lit(v) for v in items]
            col = cols[0] if len(cols) == 1 else fn(*cols)
        elif pid in _BINARY and not (
            pid in ("max", "min") and "data" in args
        ):
            # max/min with a `data` ARRAY arg are reducers, not the
            # binary scalar shape — fall through to the named error
            x, y = (args.get("x"), args.get("y"))
            if pid == "power":
                x, y = args.get("base"), args.get("p")
            if pid == "log":
                x, y = args.get("x"), args.get("base", 10.0)
            col = _BINARY[pid](resolve(x, args), resolve(y, args))
        elif pid in _UNARY:
            col = _UNARY[pid](resolve(args.get("x", args.get("data")), args))
        elif pid == "pi":
            col = om.pi_col()
        elif pid == "clip":
            col = om.clip_cols(resolve(args.get("x"), args),
                               args.get("min", 0.0), args.get("max", 1.0))
        elif pid == "linear_scale_range":
            col = om.linear_scale_range_cols(
                resolve(args.get("x"), args),
                args["inputMin"], args["inputMax"],
                args.get("outputMin", 0.0), args.get("outputMax", 1.0),
            )
        elif pid == "if":
            col = om.if_cols(resolve(args.get("value"), args),
                             resolve(args.get("accept"), args),
                             resolve(args.get("reject"), args))
        else:
            raise NotImplementedError(f"expression op {pid!r}")
        memo[nid] = col
        return col

    return build(result_id)
