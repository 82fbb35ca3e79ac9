"""openEO process-graph planner: JSON graph → one lazy Spark plan.

The reference interprets graphs node-at-a-time into a results dict
(``ProcessOpeneoGraph.process_node``, openeo_odc_driver.py:122-1840,
topo-sorted at :90). Here each node builds a *lazy* DataFrame/Column —
the whole graph collapses into a single Catalyst plan and Spark executes
the fused DAG at ``save_result`` (SURVEY §3.1 "Spark equivalent").

Node resolution is recursive with memoization (`from_node` edges), which
is the topological order without materializing it. Each node dispatches
through ONE table, :data:`PROCESSES` (process id → long function, tiled
function, tile inputs), the counterpart of the reference's single
``process_node`` dispatch. Reducer sub-graphs (`from_parameter`) compile
in one of two modes, mirroring the reference's split (:594-618 vs
:710-850):

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
import os
from dataclasses import replace
from typing import Any, Callable, Dict, NamedTuple, Optional

from pyspark.sql import Column, SparkSession, functions as F

from ..core import tiled as tl
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
from .catalog import load_collection_cube, static_scene_dims

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
    the SURVEY §1.4 packed-tile layout (core/tiled.py). A node runs its
    :data:`PROCESSES` row's tiled function when the row has one and one
    of the row's ``tile_inputs`` is tile-resident (rows with no tile
    inputs — load_collection, save_result — always try it). The tiled
    function returns a tiled or long result, or ``NotImplemented`` for a
    case it cannot keep on tiles; the node then runs the row's long
    function, whose ``_resolve`` demotes tile-resident inputs through
    ``from_tiled``, and the process id is appended to
    ``tiled_demotions`` (graceful degradation, never an error). Results
    are identical by construction — every tiled function is
    oracle-pinned against its long twin, and the gate runs the same
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
        # process_ids whose node ran its long function in tiled mode
        # this execution (observable graceful degradation)
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
        regrid there (see `_resample_spatial`)."""
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
        if isinstance(out, tl.TiledCube):
            out = tl.from_tiled(out)
        return out

    def _node(self, nid: str):
        if nid in self._memo:
            return self._memo[nid]
        out = self._dispatch(self.nodes[nid])
        self._memo[nid] = out
        return out

    def _dispatch(self, node: dict):
        args = node.get("arguments", {})
        if node.get("_noop"):
            return self._resolve_raw(args["data"])
        pid = node["process_id"]
        row = PROCESSES.get(pid)
        if row is None:
            raise NotImplementedError(
                f"process_id {pid!r} not supported by planner"
            )
        if self.tiled:
            if row.tiled is not None and (
                not row.tile_inputs
                or any(isinstance(self._resolve_raw(args[k]), tl.TiledCube)
                       for k in row.tile_inputs)
            ):
                out = row.tiled(self, args)
                if out is not NotImplemented:
                    return out
            # observable graceful degradation (round-10 ADVICE): every
            # fall-through to the long tier is recorded — a zonal
            # median over CONCAVE polygons, say, still answers, and
            # the demotion is visible to callers and tests instead of
            # silent
            self.tiled_demotions.append(pid)
            _log.info("tiled mode: %r demoted to the long tier", pid)
        return row.long(self, args)

    def _resolve_raw(self, v: Any):
        """Resolve an argument: from_node edge, scalar, or passthrough —
        tiled handles pass through untouched (the tiled functions' view)."""
        if isinstance(v, dict) and "from_node" in v:
            return self._node(v["from_node"])
        return v

    def _resolve(self, v: Any):
        """The LONG view of an argument: a tile-resident upstream value
        demotes through from_tiled, so every long function works
        unchanged under tiled execution (graceful degradation)."""
        out = self._resolve_raw(v)
        if isinstance(out, tl.TiledCube):
            out = tl.from_tiled(out)
        return out

    def _as_tiled(self, v: Any):
        """The TILED view: a long upstream value (already demoted by an
        operator without a tile path) re-packs so downstream tile-native
        processes keep their layout."""
        out = self._resolve_raw(v)
        if isinstance(out, tl.TiledCube):
            return out
        return tl.to_tiled(out, tile=self.tile)

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
        if not (self.tiled_store_dir and isinstance(args.get("id"), str)):
            return None
        path = os.path.join(self.tiled_store_dir, args["id"])
        if not os.path.exists(os.path.join(path, "_tiled_meta.json")):
            return None
        tc = tl.load_tiled(self._spark, path)
        tres = _resolution(args.get("_target_resolution"))
        if tres is not None and (
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
        if tres is not None:
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
            lvl = tl.select_overview_level(
                path, tc.schema.grid, tc.n_y, tc.n_x, tres
            )
            if lvl is not None:
                tc = tl.load_tiled(
                    self._spark,
                    os.path.join(path, "_overviews", f"L{lvl}"),
                )
                self.tiled_overview_reads.append((args["id"], lvl))
        te = args.get("temporal_extent")
        if te:
            tc = tl.filter_temporal_tiled(tc, *_time_bounds(te))
        if args.get("bands"):
            tc = tl.filter_bands_tiled(tc, args["bands"])
        if tres is not None:
            # a resample pushed into this load used to FORFEIT the
            # store (long scan + query-time repack of the full-res
            # scene); round 14 keeps the store and regrids natively —
            # same bytes read, the covering-downscale snap on tiles,
            # applied AFTER band/temporal pruning so the snap moves
            # only the kept slices. Unsupported grid pairs fall back.
            try:
                tc = tl.resample_cube_spatial_tiled(
                    tc, _at_resolution(tc, tres), "near"
                )
            except tl.TiledRegridUnsupported:
                return None
        return tc


# --- argument readers shared by the long and tiled functions ----------------


def _time_bounds(extent) -> tuple:
    """openEO temporal extent → the (start, end) the filters take."""
    return str(extent[0])[:19], str(extent[1])[:19]


def _filter_extent(args: dict) -> tuple:
    return _time_bounds(
        args.get("extent") or [args.get("start"), args.get("end")]
    )


def _bbox(args: dict) -> tuple:
    e = args.get("extent", args)
    return e["west"], e["east"], e["south"], e["north"]


def _reducer_name(args: dict) -> Optional[str]:
    return _single_named_reducer(args["reducer"]["process_graph"])


def _resolution(res) -> Optional[float]:
    """``resample_spatial``'s target resolution: a number, or a pair that
    names one number (the planner's grids have square cells); None when
    unset. An unequal pair raises instead of silently using one axis."""
    if not res:
        return None
    if isinstance(res, (list, tuple)):
        if len(res) != 2 or res[0] != res[1]:
            raise ValueError(
                f"resample_spatial: resolution {list(res)!r} must be a "
                "number or a pair of equal numbers (square cells only)"
            )
        res = res[0]
    return float(res)


def _at_resolution(cube, res: float):
    """The target of a resolution-only resample: ``cube`` (long or
    tiled) on its own grid origin with square cells of ``res``."""
    g = cube.schema.grid
    if g is None:
        raise ValueError("resample_spatial: cube lacks a GridSpec")
    return replace(
        cube, schema=replace(cube.schema,
                             grid=GridSpec(g.x0, g.y0, res, res))
    )


def _warp_resolution(cube, args: dict) -> Optional[float]:
    """The resolution of a ``resample_spatial`` that changes the CRS
    (the reference forwards the EPSG int to ODC's reprojecting loader,
    openeo_odc_driver.py:191-199), or None when the node is
    resolution-only. projection == the cube's own CRS is NOT a warp —
    the reference reprojects trivially there (ADVICE r13). An explicit
    projection that is not an EPSG code raises rather than silently
    falling through to the resolution-only path (None == None), the
    same named way validate_warp_pair does."""
    proj = args.get("projection")
    if proj is None:
        return None
    from ..operators.resample import _epsg_of

    if _epsg_of(proj) is None and str(proj) != str(cube.schema.crs):
        raise NotImplementedError(
            f"resample_spatial: unsupported target CRS {proj!r} "
            "(EPSG codes only)"
        )
    if _epsg_of(proj) == _epsg_of(cube.schema.crs):
        return None
    res = _resolution(args.get("resolution"))
    if res is None:
        raise ValueError(
            "resample_spatial with a projection change needs an explicit "
            "resolution (meters)"
        )
    return res


def _quantiles_args(args: dict) -> Optional[dict]:
    """The arguments of apply_dimension's child process when it is a
    single quantiles node — the only child the reference wires
    (openeo_odc_driver.py:852-855)."""
    child = args["process"]["process_graph"]
    node = next(iter(child.values()))
    if len(child) == 1 and node["process_id"] == "quantiles":
        return node.get("arguments", {})
    return None


def _apply_fn(args: dict) -> Callable:
    """apply's child process as a Column builder over the pixel value."""
    child = args["process"]["process_graph"]
    return lambda v: _compile_expr(child, {"x": v, "data": v})


def _radar_args(args: dict) -> tuple:
    return (float(args["foreshortening_th"]), float(args["layover_th"]),
            args.get("orbit_direction", "ASC"))


# --- process functions: long(pg, args) and tiled(pg, args) -----------------


def _load_collection(pg: ProcessGraph, args: dict) -> Cube:
    cube = load_collection_cube(pg._spark, args["id"], pg.sf_dir)
    te = args.get("temporal_extent")
    if te:
        cube = filter_temporal(cube, *_time_bounds(te))
    se = args.get("spatial_extent")
    if se and se.get("type") == "Polygon":
        # polygon-masked load (ref load_odc_collection.py:190-226):
        # bbox prefilter + point-in-polygon, fused into the scan
        cube = filter_spatial(cube, _geojson_polygons(se))
    elif se:
        cube = filter_bbox(
            cube, se["west"], se["east"], se["south"], se["north"],
            crs=se.get("crs"),
        )
    bands = args.get("bands")
    if bands:
        cube = filter_bands(cube, bands)
    res = _resolution(args.get("_target_resolution"))
    if res is not None:
        cube = resample_cube_spatial(cube, _at_resolution(cube, res),
                                     args.get("_resample_method", "near"))
    return cube


def _load_collection_tiled(pg: ProcessGraph, args: dict):
    stored = pg._load_tiled_store(args)
    if stored is not None:
        return stored
    cube = _load_collection(pg, args)
    # action-free planning: the catalog derives the packed scene dims
    # statically (bit-equal to the probe for plain bbox extents), so
    # building a tiled plan runs ZERO Spark jobs; a resample pushdown or
    # polygon extent falls back to to_tiled's max-index probe
    dims = None
    if not args.get("_target_resolution"):
        dims = static_scene_dims(args["id"], args.get("spatial_extent"))
    n_y, n_x = dims or (None, None)
    return tl.to_tiled(cube, tile=pg.tile, n_y=n_y, n_x=n_x)


def _save_result(pg: ProcessGraph, args: dict) -> Cube:
    from ..sinks.save import save_result

    cube = pg._resolve(args["data"])
    os.makedirs(pg.save_dir, exist_ok=True)
    save_result(cube, f"{pg.save_dir}/{pg.result_node}",
                args.get("format", "PARQUET"))
    return cube


def _save_result_tiled(pg: ProcessGraph, args: dict):
    """GTiff from a tile-resident, time-free cube rides the DISTRIBUTED
    tiled writer (round 13 — sinks/gtiff_tiled.py: executors pwrite
    tiles at static offsets, driver writes only the IFD; no 50 M-px
    collect ceiling). Other formats (and time-bearing cubes the squeeze
    rules cannot flatten) stay on the long sink — a sink materializes
    pixels by definition, so that expansion is the operator's
    semantics, not a recorded demotion."""
    fmt = str(args.get("format", "PARQUET")).upper()
    tc = pg._resolve_raw(args["data"]) if fmt in ("GTIFF", "GTIFF_") else None
    if isinstance(tc, tl.TiledCube):
        if TIME in tc.schema.dims:
            # the reference's squeeze rules before a GeoTIFF write
            # (openeo_odc_driver.py:1679-1724), both tile-native (round
            # 14): a singleton time axis DROPS; a multi-step axis on a
            # ≤1-band cube maps onto the PLANE axis (one GeoTIFF band
            # per timestamp). Multi-band × multi-time keeps the long
            # sink's guarded error.
            squeezed = tl.squeeze_time_tiled(tc)
            if squeezed is None:
                squeezed = tl.time_to_planes_tiled(tc)
            if squeezed is not None:
                tc = squeezed
        if TIME not in tc.schema.dims and tc.schema.grid is not None:
            from ..sinks.gtiff_tiled import save_gtiff_tiled

            os.makedirs(pg.save_dir, exist_ok=True)
            # openEO save_result options: COG controls (round 15) —
            # "overviews": [2, 4, ...] writes chained reduced-resolution
            # IFDs; "compression": "deflate" selects the COG codec
            opts = args.get("options") or {}
            comp = opts.get("compression")
            if comp is not None:
                comp = str(comp).lower()
                if comp in ("none", ""):
                    comp = None
            save_gtiff_tiled(
                tc, f"{pg.save_dir}/{pg.result_node}", compress=comp,
                overviews=tuple(opts.get("overviews") or ()),
            )
            return tc
    return _save_result(pg, args)


def _load_result(pg: ProcessGraph, args: dict) -> Cube:
    from ..sources.synthetic import load_result as load_result_src

    path = args.get("path") or os.path.join(
        os.path.dirname(pg.save_dir.rstrip("/")), str(args["id"])
    )
    return load_result_src(pg._spark, path)


def _reduce_dimension(pg: ProcessGraph, args: dict) -> Cube:
    cube = pg._resolve(args["data"])
    dim = canonical_dim(args["dimension"])
    named = _reducer_name(args)
    if named is not None:
        return reduce_dimension(cube, dim, named)
    if dim == BAND:
        return _reduce_bands_expression(cube, args["reducer"]["process_graph"])
    raise NotImplementedError(
        f"expression reducer over {dim!r} (only bands supported)"
    )


# named reducers the tile-native time/band folds run
_TILE_FOLDS = ("mean", "sum", "min", "max", "sd", "variance")


def _reduce_dimension_tiled(pg: ProcessGraph, args: dict):
    tc = pg._resolve_raw(args["data"])
    dim = canonical_dim(args["dimension"])
    named = _reducer_name(args)
    if dim == TIME and named in _TILE_FOLDS:
        return tl.reduce_time_tiled(tc, named)
    if dim == TIME and named == "median":
        return tl.reduce_time_median_tiled(tc)
    if dim == BAND and named in _TILE_FOLDS:
        return tl.reduce_bands_tiled(tc, named)
    if dim == BAND and named is None:
        return _reduce_bands_expression_tiled(
            tc, args["reducer"]["process_graph"]
        )
    if dim in (X, Y) and named in (*tl._SPATIAL_REDUCERS,
                                   *tl._SPATIAL_MULTISET):
        # within-tile line partials (or compact value multisets for
        # median/product) + one line-keyed combine; emits long (the
        # result keeps one spatial axis)
        return tl.reduce_spatial_tiled(tc, dim, named)
    return NotImplemented  # x/y quantiles: long path


def _apply_dimension(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.reducers import quantiles

    cube = pg._resolve(args["data"])
    qa = _quantiles_args(args)
    if qa is None:
        raise NotImplementedError(
            "apply_dimension supports a single quantiles child (as the "
            "reference does)"
        )
    return quantiles(cube, args.get("dimension", "time"),
                     probabilities=qa.get("probabilities"), q=qa.get("q"))


def _apply_dimension_tiled(pg: ProcessGraph, args: dict):
    dim = canonical_dim(args.get("dimension", "time"))
    qa = _quantiles_args(args)
    if qa is None:
        return NotImplemented
    tc = pg._resolve_raw(args["data"])
    if dim in (X, Y):
        return tl.quantiles_spatial_tiled(
            tc, dim, probabilities=qa.get("probabilities"), q=qa.get("q")
        )
    if dim in (TIME, BAND):
        # round 12: the band axis runs the time fold with the band
        # axis stacked instead — closes the quantiles family
        return tl.quantiles_tiled(
            tc, probabilities=qa.get("probabilities"), q=qa.get("q"),
            dim=dim,
        )
    return NotImplemented


def _apply(pg: ProcessGraph, args: dict) -> Cube:
    cube = pg._resolve(args["data"])
    return cube.with_df(
        cube.df.withColumn(VALUE, _apply_fn(args)(F.col(VALUE)))
    )


def _filter_bbox_tiled(pg: ProcessGraph, args: dict):
    tc = pg._resolve_raw(args["data"])
    try:
        # native window slice: stays on tiles (downstream tile-native
        # operators keep their layout)
        return tl.filter_bbox_tiled_native(tc, *_bbox(args))
    except tl.TiledRegridUnsupported:
        # non-dyadic re-anchor drift: the expanding slice (tile
        # pruning + exact pixel predicate, emits long)
        return tl.filter_bbox_tiled(tc, *_bbox(args))


def _mask_tiled(pg: ProcessGraph, args: dict):
    try:
        return tl.mask_tiled(pg._as_tiled(args["data"]),
                             pg._as_tiled(args["mask"]),
                             args.get("replacement"))
    except tl.TiledRegridUnsupported:
        # tile-index joins require a shared grid: a re-anchored relabel
        # cube (upscale snap) vs a target-grid cube demotes to the long
        # per-pixel join (round 13)
        return NotImplemented


def _aggregate_spatial(pg: ProcessGraph, args: dict) -> Cube:
    return aggregate_spatial(
        pg._resolve(args["data"]),
        _geojson_polygons(args["geometries"]),
        _reducer_name(args),
        # the reference's geometry-dim label, default 'result'
        # (openeo_odc_driver.py:654-656)
        target_dimension=args.get("target_dimension", "result"),
    )


def _aggregate_spatial_tiled(pg: ProcessGraph, args: dict):
    # concave polygons are native since round 10 (even-odd crossing
    # tests mirroring the long ray-cast UDF); the full reducer set incl.
    # product is native since round 11 — only a reducer outside
    # _ZONAL_REDUCERS demotes
    named = _reducer_name(args)
    if named not in tl._ZONAL_REDUCERS:
        return NotImplemented
    return tl.aggregate_spatial_tiled(
        pg._resolve_raw(args["data"]), _geojson_polygons(args["geometries"]),
        named, target_dimension=args.get("target_dimension", "result"),
    )


def _climatological_normal(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.aggregates import climatological_normal

    return climatological_normal(pg._resolve(args["data"]),
                                 args.get("frequency", "monthly"))


def _climatological_normal_tiled(pg: ProcessGraph, args: dict):
    if args.get("frequency", "monthly") != "monthly":
        return NotImplemented
    return tl.climatological_normal_tiled(pg._resolve_raw(args["data"]))


def _anomaly(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.aggregates import anomaly

    return anomaly(pg._resolve(args["data"]), pg._resolve(args["normals"]))


def _resample_spatial(pg: ProcessGraph, args: dict) -> Cube:
    # not folded into a scan (something sits between it and the load)
    # — run as an explicit regrid at this plan position
    cube = pg._resolve(args["data"])
    warp = _warp_resolution(cube, args)
    if warp is not None:
        # the distributed warp (round 13; directions + bilinear round 14)
        from ..operators.resample import resample_spatial_warp

        return resample_spatial_warp(cube, args["projection"], warp,
                                     args.get("method", "near"))
    res = _resolution(args.get("resolution"))
    if res is None:
        return cube
    return resample_cube_spatial(cube, _at_resolution(cube, res),
                                 args.get("method", "near"))


def _resample_spatial_tiled(pg: ProcessGraph, args: dict):
    tc = pg._resolve_raw(args["data"])
    warp = _warp_resolution(tc, args)
    if warp is not None:
        # PROJECTION warp natively on tiles (round 14): nearest AND
        # bilinear ride resample_spatial_warp_tiled (raster stays
        # packed, one exchange)
        try:
            return tl.resample_spatial_warp_tiled(
                tc, args["projection"], warp, args.get("method", "near")
            )
        except tl.TiledRegridUnsupported:
            return NotImplemented
    # resolution-only: the same covering-downscale snap the long
    # function runs through resample_cube_spatial, natively (round 14);
    # unsupported grid pairs demote as usual
    res = _resolution(args.get("resolution"))
    if (res is None or tc.schema.grid is None
            or str(args.get("method", "near")) not in ("near", "nearest")):
        return NotImplemented
    try:
        return tl.resample_cube_spatial_tiled(
            tc, _at_resolution(tc, res), "near"
        )
    except tl.TiledRegridUnsupported:
        return NotImplemented


def _resample_cube_spatial_tiled(pg: ProcessGraph, args: dict):
    # any covering downscale grid pair runs natively (winner maps as
    # plan data) and any uniform-stride UPSCALE relabels with zero data
    # movement (round 12); non-uniform strides / off-scene origins
    # demote to the long snap (recorded demotion)
    src = pg._resolve_raw(args["data"])
    tgt = pg._resolve_raw(args["target"])
    method = args.get("method", "near")
    try:
        if method in ("near", "nearest"):
            return tl.resample_cube_spatial_tiled(src, tgt, method)
        if method == "bilinear":
            return tl.resample_cube_spatial_bilinear_tiled(
                src, pg._as_tiled(args["target"])
            )
    except tl.TiledRegridUnsupported:
        return NotImplemented
    return NotImplemented


def _array_interpolate_linear(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.dimops import array_interpolate_linear

    # parent's dimension (reference reads node.parent_process)
    return array_interpolate_linear(pg._resolve(args["data"]),
                                    args.get("dimension", "time"))


def _array_interpolate_linear_tiled(pg: ProcessGraph, args: dict):
    if canonical_dim(args.get("dimension", "time")) != TIME:
        return NotImplemented
    return tl.array_interpolate_linear_tiled(pg._resolve_raw(args["data"]))


def _merge_cubes(pg: ProcessGraph, args: dict) -> Cube:
    c1, c2 = pg._resolve(args["cube1"]), pg._resolve(args["cube2"])
    fn = _overlap_resolver_fn(args)
    if fn is not None:
        return merge_cubes(c1, c2, overlap_resolver=fn)
    try:
        return merge_cubes(c1, c2)
    except ValueError as e:
        ov = args.get("overlap_resolver")
        if ("overlap_resolver" in str(e)
                and isinstance(ov, dict) and "from_node" in ov):
            # reference quirk parity (openeo_odc_driver.py:1181-1187):
            # the resolver is a SIBLING NODE whose already-evaluated
            # result merge_cubes forwards
            return pg._resolve(ov)
        raise


def _merge_cubes_tiled(pg: ProcessGraph, args: dict):
    try:
        return tl.merge_cubes_tiled(
            pg._as_tiled(args["cube1"]), pg._as_tiled(args["cube2"]),
            overlap_resolver=_overlap_resolver_fn(args),
        )
    except ValueError:
        # a grid mismatch (TiledRegridUnsupported), or overlapping keys
        # without a compilable child-graph resolver: the long function
        # owns the remaining cases (the reference's from_node forwarding
        # quirk, or the faithful OverlapResolverMissing error)
        return NotImplemented


def _aggregate_temporal_period(pg: ProcessGraph, args: dict) -> Cube:
    return aggregate_temporal_period(pg._resolve(args["data"]),
                                     args["period"], _reducer_name(args))


def _aggregate_temporal_period_tiled(pg: ProcessGraph, args: dict):
    named = _reducer_name(args)
    if named not in (*_TILE_FOLDS, "median"):
        return NotImplemented
    return tl.aggregate_temporal_period_tiled(
        pg._resolve_raw(args["data"]), args["period"], named
    )


def _apply_kernel(pg: ProcessGraph, args: dict) -> Cube:
    return apply_kernel(pg._resolve(args["data"]), args["kernel"],
                        factor=args.get("factor", 1.0),
                        border=args.get("border", 0))


def _apply_kernel_tiled(pg: ProcessGraph, args: dict):
    tc = pg._resolve_raw(args["data"])
    kernel = args["kernel"]
    if max(len(kernel) // 2, len(kernel[0]) // 2) > tc.tile:
        return NotImplemented  # radius > tile: long path
    try:
        return tl.apply_kernel_tiled_layout(
            tc, kernel, factor=args.get("factor", 1.0),
            border=args.get("border", 0),
        )
    except NotImplementedError:
        # wrap with a radius beyond the last tile's valid span (or the
        # scene): long scatter path — partial tilings themselves are
        # native since round 13
        return NotImplemented


def _drop_dimension(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.dimops import drop_dimension

    return drop_dimension(pg._resolve(args["data"]), args["name"])


def _aggregate_spatial_window(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.aggregates import aggregate_spatial_window

    return aggregate_spatial_window(
        pg._resolve(args["data"]), args["size"], _reducer_name(args),
        args.get("boundary", "pad"),
    )


def _fit_curve(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.curve import fit_curve, fit_curve_linear, linear_model

    model = _compile_model(args["function"]["process_graph"])
    # Plan-level lowering: the 2-param linear model has a closed-form
    # least-squares answer, so the planner swaps the tiled pandas
    # Gauss-Newton for the pure-Catalyst aggregation (zero Python in the
    # row path). ModelExpr is a frozen dataclass — structural equality
    # recognizes the shape.
    if model == linear_model():
        return fit_curve_linear(pg._resolve(args["data"]))
    return fit_curve(pg._resolve(args["data"]), model)


def _predict_curve(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.curve import predict_curve

    model = _compile_model(args["function"]["process_graph"])
    times = args.get("labels") or pg._resolve(args["data"])
    return predict_curve(pg._resolve(args["parameters"]), model, times)


def _radar_mask(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.sar import radar_mask

    return radar_mask(pg._resolve(args["data"]), *_radar_args(args))


def _geocode(pg: ProcessGraph, args: dict) -> Cube:
    from ..operators.sar import geocode

    res = args.get("resolution", 10.0)
    resx, resy = (res if isinstance(res, (list, tuple)) else (res, res))
    return geocode(pg._resolve(args["data"]), float(resx), float(resy),
                   args.get("method", "near"))


def _run_udf(pg: ProcessGraph, args: dict) -> Cube:
    # Python code-string UDFs via the openEO `apply_datacube` convention
    # (a function taking/returning a pandas frame of the long cube). The
    # reference's runtime here is R (openeo_odc_driver.py:282-339) — R
    # is declared out of scope (SURVEY §2.10); Python strings and
    # callables run.
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
        if not pg.allow_code_udfs:
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
    return run_udf(pg._resolve(args["data"]), fn)


class Process(NamedTuple):
    """One row of :data:`PROCESSES`."""

    long: Callable  # (pg, args) → long result
    # (pg, args) → tiled or long result, or NotImplemented to demote;
    # tiled mode only
    tiled: Optional[Callable] = None
    # arguments whose tile residency makes ``tiled`` worth trying
    # (checked in order, stopping at the first resident one); () = always
    tile_inputs: tuple = ("data",)


# The planner's process table: every node process id it executes, and
# the only list of them (``/processes`` discovery reads it). Geocode
# stays long BY DESIGN: its input positions (per-pixel LON/LAT layer
# bands) are irregular, so the packed layout's premise — pixel index ≡
# grid cell — does not hold past the pivot; the long operator already
# chunk-groups by target tile internally.
PROCESSES: Dict[str, Process] = {
    "load_collection": Process(_load_collection, _load_collection_tiled, ()),
    "load_result": Process(_load_result),
    "save_result": Process(_save_result, _save_result_tiled, ()),
    "filter_bands": Process(
        lambda pg, a: filter_bands(pg._resolve(a["data"]), a["bands"]),
        lambda pg, a: tl.filter_bands_tiled(pg._resolve_raw(a["data"]),
                                            a["bands"]),
    ),
    "filter_temporal": Process(
        lambda pg, a: filter_temporal(pg._resolve(a["data"]),
                                      *_filter_extent(a)),
        lambda pg, a: tl.filter_temporal_tiled(pg._resolve_raw(a["data"]),
                                               *_filter_extent(a)),
    ),
    "filter_bbox": Process(
        lambda pg, a: filter_bbox(pg._resolve(a["data"]), *_bbox(a)),
        _filter_bbox_tiled,
    ),
    "filter_spatial": Process(
        lambda pg, a: filter_spatial(pg._resolve(a["data"]),
                                     _geojson_polygons(a["geometries"])),
    ),
    "apply": Process(
        _apply,
        lambda pg, a: tl.apply_tiled(pg._resolve_raw(a["data"]),
                                     _apply_fn(a)),
    ),
    "reduce_dimension": Process(_reduce_dimension, _reduce_dimension_tiled),
    "apply_dimension": Process(_apply_dimension, _apply_dimension_tiled),
    "array_interpolate_linear": Process(_array_interpolate_linear,
                                        _array_interpolate_linear_tiled),
    "climatological_normal": Process(_climatological_normal,
                                     _climatological_normal_tiled),
    "anomaly": Process(_anomaly),
    "aggregate_temporal_period": Process(_aggregate_temporal_period,
                                         _aggregate_temporal_period_tiled),
    "aggregate_spatial": Process(_aggregate_spatial,
                                 _aggregate_spatial_tiled),
    "aggregate_spatial_window": Process(_aggregate_spatial_window),
    "mask": Process(
        lambda pg, a: mask_op(pg._resolve(a["data"]), pg._resolve(a["mask"]),
                              a.get("replacement")),
        _mask_tiled, ("data", "mask"),
    ),
    "merge_cubes": Process(_merge_cubes, _merge_cubes_tiled,
                           ("cube1", "cube2")),
    "apply_kernel": Process(_apply_kernel, _apply_kernel_tiled),
    "resample_spatial": Process(_resample_spatial, _resample_spatial_tiled),
    "resample_cube_spatial": Process(
        lambda pg, a: resample_cube_spatial(
            pg._resolve(a["data"]), pg._resolve(a["target"]),
            a.get("method", "near"),
        ),
        _resample_cube_spatial_tiled,
    ),
    "resample_cube_temporal": Process(
        lambda pg, a: resample_cube_temporal(pg._resolve(a["data"]),
                                             pg._resolve(a["target"])),
        # time is a key column on tile rows: the as-of relabel is a
        # broadcast join against the tiny time mapping — zero data
        # shuffle, arrays never open (core/tiled.py)
        lambda pg, a: tl.resample_cube_temporal_tiled(
            pg._resolve_raw(a["data"]), pg._resolve_raw(a["target"])
        ),
    ),
    "add_dimension": Process(
        lambda pg, a: add_dimension(pg._resolve(a["data"]),
                                    a.get("label", a.get("name", "band"))),
    ),
    "rename_labels": Process(
        lambda pg, a: rename_labels(pg._resolve(a["data"]), a["dimension"],
                                    a["target"], a.get("source")),
    ),
    "drop_dimension": Process(_drop_dimension),
    "fit_curve": Process(_fit_curve),
    "predict_curve": Process(_predict_curve),
    "radar_mask": Process(
        _radar_mask,
        # radius-2 halo-strip exchange on the DEM band (core/tiled.py)
        lambda pg, a: tl.radar_mask_tiled(pg._resolve_raw(a["data"]),
                                          *_radar_args(a)),
    ),
    "geocode": Process(_geocode),
    "run_udf": Process(_run_udf),
}


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
    jk = [*keys, "tile_row", "tile_col"]
    wide = None
    for b in bands:
        side = tl._widen_df(
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
    return tl.TiledCube(out, out_schema, tc.tile, tc.n_y, tc.n_x)


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
