"""Query registry: every implemented operator exposed as a
``(spark_callable, oracle_sql)`` pair for the driver's correctness gate.

Each entry runs the operator through the engine (Spark) and, when the
semantics are ANSI-SQL-expressible, carries a DuckDB twin built to be
**bit-identical**: identical expression structure (so IEEE rounding
matches), dyadic-rational synthetic inputs (so sums/means are exact in
any aggregation order), and validated dialect idioms
(scratch/parity_probe*.py). Ops whose output is not SQL-expressible
(generic curve fitting, streaming) register without an oracle — the
driver records a rows-only check for those.

Naming: every computed column is aliased identically in the Spark plan
and the oracle SQL (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

import math
from typing import Callable, Dict, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .core.cube import BAND, TIME, VALUE, X, Y, Cube, CubeSchema, GridSpec
from .functions.geometry import (
    FIXTURE_POLYGONS,
    geom_id_case_sql,
    raycast_geom_id_case_sql,
)
from .functions.pivot import bands_wide
from .operators import math as om
from .operators.aggregates import (
    aggregate_spatial,
    aggregate_spatial_window,
    aggregate_temporal_period,
    anomaly,
    climatological_normal,
)
from .operators.curve import fit_curve, fit_curve_linear, harmonic_model, linear_model, predict_curve
from .operators.dimops import (
    add_dimension,
    array_element,
    array_interpolate_linear,
    drop_dimension,
    rename_labels,
)
from .operators.filters import filter_bands, filter_bbox, filter_spatial, filter_temporal
from .operators.kernel import apply_kernel, apply_kernel_tiled
from .operators.mask import mask
from .operators.merge import merge_cubes
from .operators.reducers import quantiles, reduce_dimension
from .operators.resample import resample_cube_spatial, resample_cube_temporal
from .operators.udf import run_udf, run_udf_grouped
from .sources.synthetic import (
    DEFAULT_SPEC,
    LINEITEM_CUBE_SQL,
    MASK_SPEC,
    SPEC_B_BANDS,
    SPEC_B_TIMES,
    SPEC_C,
    CubeSpec,
    cube_sql,
    lineitem_cube,
    load_result,
    synthetic_cube,
)
from .sources.tables import load_table

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: Dict[str, str] = {}

# DuckDB CTE text for each synthetic cube spec
CUBE_D = cube_sql(DEFAULT_SPEC, "duckdb")
CUBE_B_BANDS_D = cube_sql(SPEC_B_BANDS, "duckdb")
CUBE_B_TIMES_D = cube_sql(SPEC_B_TIMES, "duckdb")
CUBE_C_D = cube_sql(SPEC_C, "duckdb")
CUBE_MASK_D = cube_sql(MASK_SPEC, "duckdb")

GRID_IDX_D = (
    "SELECT band, time, y, x, value, "
    "CAST((150.0 - y) / 10.0 AS BIGINT) AS yi, "
    "CAST((x - 0.0) / 10.0 AS BIGINT) AS xi FROM cube"
)


def _prep(spark: SparkSession) -> None:
    """Session confs the oracle parity depends on — set defensively at
    query time because the driver owns the SparkSession."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        # events.parquet stores TIMESTAMP(NANOS): unreadable without this
        # (PARQUET_TYPE_ILLEGAL); runtime-settable, verified
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def q(name: str, oracle: Optional[str] = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prep(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# Sources / scans (SURVEY §2.1)
# ---------------------------------------------------------------------------

@q("load_collection_lineitem", f"WITH lineitem_cube AS ({LINEITEM_CUBE_SQL}) SELECT * FROM lineitem_cube")
def _load_collection(spark, sf_dir):
    """load_collection ≙ parquet scan + cube adapter (openeo_odc_driver.py:128-221)."""
    return lineitem_cube(spark, sf_dir).df


@q("synthetic_cube", CUBE_D)
def _synth(spark, sf_dir):
    return synthetic_cube(spark).df


@q("load_result_roundtrip", CUBE_D)
def _load_result(spark, sf_dir):
    """save_result(parquet) → load_result round trip (openeo_odc_driver.py:1598-1609)."""
    from .sinks.save import save_parquet

    path = "/tmp/spark_graft_results/load_result_rt"
    save_parquet(synthetic_cube(spark), path)
    return load_result(spark, path).df.select(BAND, TIME, Y, X, VALUE)


# ---------------------------------------------------------------------------
# Filters (SURVEY §2.3)
# ---------------------------------------------------------------------------

@q("filter_bands", f"WITH cube AS ({CUBE_D}) SELECT * FROM cube WHERE band IN ('B08', 'B04')")
def _filter_bands(spark, sf_dir):
    return filter_bands(synthetic_cube(spark), ["B08", "B04"]).df


@q(
    "filter_temporal",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    "WHERE time >= TIMESTAMP '2021-06-01' AND time < TIMESTAMP '2022-03-01'",
)
def _filter_temporal(spark, sf_dir):
    return filter_temporal(synthetic_cube(spark), "2021-06-01", "2022-03-01").df


@q(
    "filter_bbox",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    "WHERE x BETWEEN 20.0 AND 90.0 AND y BETWEEN 30.0 AND 120.0",
)
def _filter_bbox(spark, sf_dir):
    return filter_bbox(synthetic_cube(spark), 20.0, 90.0, 30.0, 120.0).df


@q(
    "filter_spatial",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube WHERE {geom_id_case_sql()} IS NOT NULL",
)
def _filter_spatial(spark, sf_dir):
    return filter_spatial(synthetic_cube(spark), FIXTURE_POLYGONS).df


_MASK_ORACLE = (
    f"WITH cube AS ({CUBE_D}), mc AS ({CUBE_MASK_D}), "
    "m AS (SELECT time, y, x, min(value) AS mv FROM mc GROUP BY 1, 2, 3) "
    "SELECT c.band, c.time, c.y, c.x, "
    "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value ELSE {repl} END AS value "
    "FROM cube c LEFT JOIN m ON c.time = m.time AND c.y = m.y AND c.x = m.x"
)


_MASK_SWEEP_ORACLE = (
    f"WITH cube AS ({CUBE_D}), mc AS ({CUBE_MASK_D}), "
    "m AS (SELECT time, y, x, min(value) AS mv FROM mc GROUP BY 1, 2, 3) "
    "SELECT c.band, c.time, c.y, c.x, "
    "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value END AS nodata, "
    "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value "
    "ELSE -999.0 END AS replaced "
    "FROM cube c LEFT JOIN m ON c.time = m.time AND c.y = m.y AND c.x = m.x"
)


@q("mask_sweep", _MASK_SWEEP_ORACLE)
def _mask_sweep(spark, sf_dir):
    """Round-14 consolidation (was mask_nodata + mask_replacement —
    the r13 family-sweep pattern): BOTH mask modes run through the
    real operator, each a pinned column of one row, against per-mode
    CASE columns of the shared left-join oracle."""
    a = mask(synthetic_cube(spark), synthetic_cube(spark, MASK_SPEC)).df \
        .withColumnRenamed(VALUE, "nodata")
    b = mask(
        synthetic_cube(spark), synthetic_cube(spark, MASK_SPEC),
        replacement=-999.0,
    ).df.withColumnRenamed(VALUE, "replaced")
    return a.join(b, ["band", "time", "y", "x"])


# ---------------------------------------------------------------------------
# Element-wise math / comparison / logic (SURVEY §2.4)
# ---------------------------------------------------------------------------
# (name, column builder over `value`, identical-structure DuckDB expression)
_MATH_OPS = [
    ("add", lambda v: om.add_cols(v, 2.5), "value + 2.5"),
    ("subtract", lambda v: om.subtract_cols(v, 1.25), "value - 1.25"),
    ("multiply", lambda v: om.multiply_cols(v, 3.0), "value * 3.0"),
    ("divide", lambda v: om.divide_cols(v, 4.0), "value / 4.0"),
    ("sqrt", lambda v: om.sqrt_cols(om.absolute_cols(v)), "sqrt(abs(value))"),
    ("power", lambda v: om.power_cols(v, 2.0), "power(value, 2.0)"),
    ("absolute", lambda v: om.absolute_cols(v), "abs(value)"),
    # Transcendentals are quantized to 7 decimals on BOTH sides: JVM libm
    # (Math.log/Math.sin) and glibc differ by 1 ulp on ~2-10% of inputs;
    # round(x, 7) yields bit-identical doubles in both engines (decimal
    # quantization is exact in IEEE; boundary-straddle risk ~1e-9/row).
    (
        "ln",
        lambda v: F.round(om.ln_cols(om.add_cols(om.absolute_cols(v), 1.0)), 7),
        "round(ln(abs(value) + 1.0), 7)",
    ),
    (
        "log",  # base-10 log as ln(x)/ln(base) — the reference's formula
        lambda v: F.round(
            om.log_cols(om.add_cols(om.absolute_cols(v), 1.0), 10.0), 7
        ),
        "round(ln(abs(value) + 1.0) / ln(10.0), 7)",
    ),
    ("sin", lambda v: F.round(om.sin_cols(v), 7), "round(sin(value), 7)"),
    ("cos", lambda v: F.round(om.cos_cols(v), 7), "round(cos(value), 7)"),
    ("pi_multiply", lambda v: om.multiply_cols(v, om.pi_col()), "value * pi()"),
    ("lt", lambda v: om.lt_cols(v, 0.5), "value < 0.5"),
    ("lte", lambda v: om.lte_cols(v, 0.5), "value <= 0.5"),
    ("gt", lambda v: om.gt_cols(v, 0.5), "value > 0.5"),
    ("gte", lambda v: om.gte_cols(v, 0.5), "value >= 0.5"),
    ("eq", lambda v: om.eq_cols(v, 0.0), "value = 0.0"),
    ("neq", lambda v: om.neq_cols(v, 0.0), "value != 0.0"),
    ("not", lambda v: om.not_cols(om.gt_cols(v, 0.0)), "NOT (value > 0.0)"),
    (
        "and",
        lambda v: om.and_cols(om.gt_cols(v, 0.0), om.lt_cols(v, 3.0)),
        "(value > 0.0) AND (value < 3.0)",
    ),
    (
        "or",
        lambda v: om.or_cols(om.lt_cols(v, -3.0), om.gt_cols(v, 3.0)),
        "(value < -3.0) OR (value > 3.0)",
    ),
    (
        "clip",
        lambda v: om.clip_cols(v, -2.0, 3.0),
        "least(greatest(value, -2.0), 3.0)",
    ),
    (
        "linear_scale_range",
        lambda v: om.linear_scale_range_cols(v, -6.0, 6.125, 0.0, 100.0),
        "(least(greatest(value, -6.0), 6.125) - (-6.0)) * 100.0 / 12.125 + 0.0",
    ),
    (
        "if",
        lambda v: om.if_cols(om.gt_cols(v, 0.0), v, -1.0),
        "CASE WHEN (value > 0.0) IS NULL THEN NULL "
        "WHEN value > 0.0 THEN value ELSE -1.0 END",
    ),
    # openEO spec processes beyond the reference's dispatch
    ("floor", lambda v: om.floor_cols(v), "CAST(floor(value) AS DOUBLE)"),
    ("ceil", lambda v: om.ceil_cols(v), "CAST(ceil(value) AS DOUBLE) + 0.0"),
    ("round", lambda v: om.round_cols(v, 0), "round_even(value, 0) + 0.0"),
    ("int", lambda v: om.int_cols(v), "CAST(trunc(value) AS DOUBLE) + 0.0"),
    (
        "exp",
        lambda v: F.round(om.exp_cols(v), 7),  # libm quantization (see above)
        "round(exp(value), 7)",
    ),
    (
        "mod",
        lambda v: om.mod_cols(v, 2.5),
        "value - 2.5 * floor(value / 2.5)",
    ),
    ("tan", lambda v: F.round(om.tan_cols(v), 7), "round(tan(value), 7)"),
    ("arctan", lambda v: F.round(om.arctan_cols(v), 7), "round(atan(value), 7)"),
    (
        "between",
        lambda v: om.between_cols(v, -2.0, 3.0),
        "value BETWEEN -2.0 AND 3.0",
    ),
    ("is_nodata", lambda v: om.is_nodata_cols(v), "value IS NULL"),
]


# Round-13 gate-row consolidation (VERDICT r12 item 6): the ~34
# single-expression math rows collapse into 4 FAMILY SWEEP rows — one
# column per op, both sides aliased identically — so every §2.4 op stays
# oracle-pinned while the driver's ~50-query window re-checks the whole
# registry in ≤5 rounds (tests/test_registry.py bounds the cycle).
_MATH_FAMILIES = {
    "math_sweep_arith": [
        "add", "subtract", "multiply", "divide", "sqrt", "power",
        "absolute", "mod",
    ],
    "math_sweep_rounding": [
        "floor", "ceil", "round", "int", "clip", "linear_scale_range",
    ],
    "math_sweep_transcendental": [
        "ln", "log", "sin", "cos", "tan", "arctan", "exp", "pi_multiply",
    ],
    "math_sweep_logic": [
        "lt", "lte", "gt", "gte", "eq", "neq", "not", "and", "or",
        "between", "is_nodata", "if",
    ],
}


def _register_math():
    ops = {name: (builder, duck) for name, builder, duck in _MATH_OPS}
    assert set(ops) == {m for ms in _MATH_FAMILIES.values() for m in ms}
    for fam, members in _MATH_FAMILIES.items():
        duck_cols = ", ".join(f'{ops[m][1]} AS "{m}"' for m in members)
        oracle = (
            f"WITH cube AS ({CUBE_D}) "
            f"SELECT band, time, y, x, {duck_cols} FROM cube"
        )

        def fn(spark, sf_dir, _members=tuple(members), _ops=ops):
            df = synthetic_cube(spark).df
            return df.select(
                "band", "time", "y", "x",
                *[_ops[m][0](F.col(VALUE)).alias(m) for m in _members],
            )

        q(fam, oracle)(fn)


_register_math()


@q(
    "add_cubes",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_C_D}) "
    "SELECT c1.band, c1.time, c1.y, c1.x, c1.value + c2.value AS value "
    "FROM c1 JOIN c2 ON c1.band = c2.band AND c1.time = c2.time "
    "AND c1.y = c2.y AND c1.x = c2.x",
)
def _add_cubes(spark, sf_dir):
    """cube ⊗ cube alignment: equi-join on the grid key (SURVEY §1.4)."""
    return om.binary_cubes(
        synthetic_cube(spark), synthetic_cube(spark, SPEC_C), om.add_cols
    ).df


@q(
    "normalized_difference",
    f"WITH cube AS ({CUBE_D}), "
    "b08 AS (SELECT time, y, x, value FROM cube WHERE band = 'B08'), "
    "b04 AS (SELECT time, y, x, value FROM cube WHERE band = 'B04') "
    "SELECT b08.time, b08.y, b08.x, "
    "(b08.value - b04.value) / nullif(b08.value + b04.value, 0.0) AS value "
    "FROM b08 JOIN b04 ON b08.time = b04.time AND b08.y = b04.y AND b08.x = b04.x",
)
def _ndiff(spark, sf_dir):
    c = synthetic_cube(spark)
    return om.binary_cubes(
        array_element(c, label="B08"),
        array_element(c, label="B04"),
        om.normalized_difference_cols,
    ).df


# ---------------------------------------------------------------------------
# Array-dimension ops (SURVEY §2.5)
# ---------------------------------------------------------------------------

@q(
    "array_element_sweep",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT time, y, x, value AS by_label, value AS by_index "
    "FROM cube WHERE band = 'B08'",
)
def _array_element_sweep(spark, sf_dir):
    """Round-14 consolidation (was array_element_label +
    array_element_index — the r13 sweep pattern): BOTH argument forms
    (openEO label= and index=, openeo_odc_driver.py:1024-1038) run
    through the real operator and join per pixel; they must agree with
    each other AND the band-slice oracle."""
    a = array_element(synthetic_cube(spark), label="B08").df \
        .withColumnRenamed(VALUE, "by_label")
    b = array_element(synthetic_cube(spark), index=1).df \
        .withColumnRenamed(VALUE, "by_index")
    return a.join(b, ["time", "y", "x"])


@q(
    "add_dimension",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT 'NDVI' AS band, time, y, x, value FROM cube WHERE band = 'B08'",
)
def _add_dimension(spark, sf_dir):
    return add_dimension(array_element(synthetic_cube(spark), label="B08"), "NDVI").df


_RL_TIME_TARGETS = [
    f"2000-{m:02d}-01 00:00:00" for m in range(1, 13)
] + [f"2001-{m:02d}-01 00:00:00" for m in range(1, 13)]
_RL_TIME_LIST_D = "[" + ", ".join(f"'{t}'" for t in _RL_TIME_TARGETS) + "]"


@q(
    "rename_labels_sweep",
    f"WITH cube AS ({CUBE_D}), "
    "m AS (SELECT time, row_number() OVER (ORDER BY time) - 1 AS i "
    "FROM (SELECT DISTINCT time FROM cube)) "
    "SELECT 'bands' AS which, "
    "CASE band WHEN 'B04' THEN 'red' WHEN 'B08' THEN 'nir' END AS band, "
    "time, y, x, value FROM cube WHERE band IN ('B04', 'B08') "
    "UNION ALL "
    f"SELECT 'time' AS which, c.band, "
    f"CAST({_RL_TIME_LIST_D}[m.i + 1] AS TIMESTAMP) AS time, "
    "c.y, c.x, c.value FROM cube c JOIN m ON c.time = m.time",
)
def _rename_labels_sweep(spark, sf_dir):
    """Round-13 consolidation (was 2 gate rows): both rename_labels
    axes — band labels by (target, source) pairs and the full time
    axis by position — unioned with a `which` discriminator against
    one two-leg oracle. Two operator invocations as before."""
    a = rename_labels(
        synthetic_cube(spark), "bands", ["red", "nir"],
        source=["B04", "B08"],
    ).df.select(F.lit("bands").alias("which"), "*")
    b = rename_labels(
        synthetic_cube(spark), "time", _RL_TIME_TARGETS
    ).df.select(F.lit("time").alias("which"), "*")
    return a.unionByName(b)


@q(
    "drop_dimension",
    f"WITH cube AS ({CUBE_D}) SELECT time, y, x, value FROM cube WHERE band = 'B04'",
)
def _drop_dimension(spark, sf_dir):
    return drop_dimension(filter_bands(synthetic_cube(spark), ["B04"]), "bands").df


@q(
    "array_interpolate_linear",
    f"WITH cube AS ({CUBE_D}), w AS ("
    "SELECT band, time, y, x, value, CAST(epoch_us(time) AS DOUBLE) AS c, "
    "last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS) OVER fwd AS pv, "
    "last_value(CASE WHEN value IS NOT NULL THEN CAST(epoch_us(time) AS DOUBLE) END IGNORE NULLS) OVER fwd AS pc, "
    "last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS) OVER bwd AS nv, "
    "last_value(CASE WHEN value IS NOT NULL THEN CAST(epoch_us(time) AS DOUBLE) END IGNORE NULLS) OVER bwd AS nc "
    "FROM cube WINDOW "
    "fwd AS (PARTITION BY band, y, x ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
    "bwd AS (PARTITION BY band, y, x ORDER BY time DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
    "SELECT band, time, y, x, "
    "CASE WHEN value IS NOT NULL THEN value "
    "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + ((c - pc) / (nc - pc)) * (nv - pv) "
    "END AS value FROM w",
)
def _interp(spark, sf_dir):
    return array_interpolate_linear(synthetic_cube(spark), "time").df


# ---------------------------------------------------------------------------
# Reducers (SURVEY §2.6)
# ---------------------------------------------------------------------------

# greatest(0, .): the reducers.sd_expr cancellation clamp, mirrored in
# the oracle twins so the parity pins hold (ADVICE r10)
_SD_D = (
    "CASE WHEN count(value) > 1 THEN "
    "sqrt(greatest(0.0, sum(value * value) "
    "- sum(value) * sum(value) / count(value)) "
    "/ (count(value) - 1)) END"
)
_VAR_D = (
    "CASE WHEN count(value) > 1 THEN "
    "greatest(0.0, sum(value * value) "
    "- sum(value) * sum(value) / count(value)) "
    "/ (count(value) - 1) END"
)
_PROD_D = (
    "list_reduce(list_prepend(CAST(1.0 AS DOUBLE), "
    "list_sort(list(value) FILTER (WHERE value IS NOT NULL))), (a, v) -> a * v)"
)

REDUCER_DUCK = {
    "max": "max(value)",
    "min": "min(value)",
    "mean": "avg(value)",
    "sum": "sum(value)",
    "median": "quantile_cont(value, 0.5)",
    "count": "count(value)",
    "sd": _SD_D,
    "variance": _VAR_D,
    "product": _PROD_D,
}


def _register_reducers():
    # Round-13 consolidation: ONE sweep row pins the full time-reducer
    # set (max/min/mean/sum/median/count/sd/variance/product) — each
    # reducer still runs through reduce_dimension (9 operator
    # invocations), their outputs equi-joined on the group key into
    # per-reducer columns, against a single multi-column GROUP BY
    # oracle. Was 9 gate rows (reduce_time_{red}).
    duck_cols = ", ".join(
        f'{duck} AS "{red}"' for red, duck in REDUCER_DUCK.items()
    )
    oracle = (
        f"WITH cube AS ({CUBE_D}) "
        f"SELECT band, y, x, {duck_cols} FROM cube GROUP BY band, y, x"
    )

    def fn(spark, sf_dir):
        # round-15 optimization (guide §2.1): pre-cluster the cube ONCE
        # on the sweep's group keys — every reducer leg's groupBy and
        # every equi-join then reuses that distribution instead of its
        # own exchange (before: 90 Exchanges / 16 SortMergeJoins, 0
        # reuse), and the single pure-SQL repartition subtree
        # canonicalizes, so ReuseExchange fires across legs. No pinned
        # width: AQE sizes the exchange by bytes (scale-adaptive).
        # Values identical — dyadic fixture values make every reducer
        # order-free. Interleaved A/B: 5.80 -> 3.46 s best-of-3.
        cube = synthetic_cube(spark)
        cube = cube.with_df(cube.df.repartition("band", "y", "x"))
        out = None
        for red in REDUCER_DUCK:
            d = reduce_dimension(cube, "time", red).df
            d = d.withColumnRenamed(VALUE, red)
            out = d if out is None else out.join(d, ["band", "y", "x"])
        return out

    q("reduce_time_sweep", oracle)(fn)

    oracle_b = (
        f"WITH cube AS ({CUBE_D}) "
        "SELECT time, y, x, avg(value) AS value FROM cube GROUP BY time, y, x"
    )

    def fn_b(spark, sf_dir):
        return reduce_dimension(synthetic_cube(spark), "bands", "mean").df

    q("reduce_bands_mean", oracle_b)(fn_b)

    # spatial-dimension reducers (the reference reduces over x/y too,
    # openeo_odc_driver.py:728-733)
    oracle_x = (
        f"WITH cube AS ({CUBE_D}) "
        "SELECT band, time, y, sum(value) AS value FROM cube GROUP BY band, time, y"
    )

    def fn_x(spark, sf_dir):
        return reduce_dimension(synthetic_cube(spark), "x", "sum").df

    q("reduce_x_sum", oracle_x)(fn_x)

    oracle_y = (
        f"WITH cube AS ({CUBE_D}) "
        "SELECT band, time, x, max(value) AS value FROM cube GROUP BY band, time, x"
    )

    def fn_y(spark, sf_dir):
        return reduce_dimension(synthetic_cube(spark), "y", "max").df

    q("reduce_y_max", oracle_y)(fn_y)


_register_reducers()

_QPROBS = [0.25, 0.5, 0.75]
_QPROBS_D = "[" + ", ".join(str(p) for p in _QPROBS) + "]"


_QUANTILES_ORACLE = (
    f"WITH cube AS ({CUBE_D}), g AS ("
    f"SELECT band, y, x, quantile_cont(value, {_QPROBS_D}) AS qs, "
    f"{_QPROBS_D} AS ps FROM cube GROUP BY band, y, x) "
    "SELECT band, y, x, qs[i] AS value, ps[i] AS prob "
    f"FROM g, range(1, {len(_QPROBS) + 1}) r(i)"
)


@q(
    "quantiles",
    _QUANTILES_ORACLE.replace(
        "qs[i] AS value, ps[i] AS prob",
        "qs[i] AS value, ps[i] AS prob, qs[i] AS value_q",
    ),
)
def _quantiles(spark, sf_dir):
    """Both quantiles entry points in one gate row (round-13
    consolidation): the explicit ``probabilities`` list and the
    spec's ``q=4`` quartile count resolve to the SAME probability set,
    so the two operator invocations equi-join on (band, y, x, prob)
    into `value` / `value_q` columns against one oracle."""
    a = quantiles(synthetic_cube(spark), "time", probabilities=_QPROBS).df
    b = quantiles(synthetic_cube(spark), "time", q=4).df
    return a.join(
        b.withColumnRenamed("value", "value_q"),
        ["band", "y", "x", "prob"],
    )


@q("tiled_quantiles", _QUANTILES_ORACLE)
def _tiled_quantiles(spark, sf_dir):
    """Round-11: quantiles over time natively on tiles (core/tiled.py:
    quantiles_tiled) — the median multiset fold generalized to a prob
    list, one tile row per probability with the prob column riding
    through from_tiled. Shares the long quantiles oracle (numpy / Spark
    percentile / DuckDB quantile_cont all interpolate
    lower + frac·(higher−lower))."""
    from .core.tiled import from_tiled, quantiles_tiled

    return from_tiled(
        quantiles_tiled(_tiled_fixture(spark), probabilities=_QPROBS)
    ).df


@q(
    "tiled_quantiles_x",
    f"WITH cube AS ({CUBE_D}), g AS ("
    f"SELECT band, time, y, quantile_cont(value, {_QPROBS_D}) AS qs, "
    f"{_QPROBS_D} AS ps FROM cube GROUP BY band, time, y) "
    "SELECT band, time, y, qs[i] AS value, ps[i] AS prob "
    f"FROM g, range(1, {len(_QPROBS) + 1}) r(i)",
)
def _tiled_quantiles_x(spark, sf_dir):
    """Round-11: quantiles over a SPATIAL axis on tiles — the compact
    line-multiset stage feeding the long operator's exact
    percentile-array + prob explode. Closes the last reducer-family
    demotion (x/y quantiles)."""
    from .core.tiled import quantiles_spatial_tiled

    return quantiles_spatial_tiled(
        _tiled_fixture(spark), "x", probabilities=_QPROBS
    ).df


@q("tiled_array_interpolate", ORACLE["array_interpolate_linear"])
def _tiled_array_interpolate(spark, sf_dir):
    """Round-11: linear NULL gap-fill along time natively on tiles
    (core/tiled.py: array_interpolate_linear_tiled) — vectorized
    forward/backward index fills + take_along_axis gathers per tile
    stack; ends stay NULL. One tile-keyed exchange vs the long plan's
    two per-pixel window passes; shares the long oracle, so the
    coordinate-weighted blend must agree bit-for-bit."""
    from .core.tiled import array_interpolate_linear_tiled, from_tiled

    return from_tiled(
        array_interpolate_linear_tiled(_tiled_fixture(spark))
    ).df


@q(
    "tiled_quantiles_bands",
    f"WITH cube AS ({CUBE_D}), g AS ("
    f"SELECT time, y, x, quantile_cont(value, {_QPROBS_D}) AS qs, "
    f"{_QPROBS_D} AS ps FROM cube GROUP BY time, y, x) "
    "SELECT time, y, x, qs[i] AS value, ps[i] AS prob "
    f"FROM g, range(1, {len(_QPROBS) + 1}) r(i)",
)
def _tiled_quantiles_bands(spark, sf_dir):
    """Round-12: quantiles over the BAND axis on tiles — the time fold
    (quantiles_tiled) with the band rows stacked instead, closing the
    last quantiles-family demotion. Same exchange shape (one tile-keyed
    groupBy), same lower + frac*(higher-lower) interpolation across
    numpy / Spark percentile / DuckDB quantile_cont."""
    from .core.tiled import from_tiled, quantiles_tiled

    return from_tiled(
        quantiles_tiled(_tiled_fixture(spark), probabilities=_QPROBS,
                        dim="band")
    ).df


# ---------------------------------------------------------------------------
# Grouped / windowed aggregations (SURVEY §2.7)
# ---------------------------------------------------------------------------

@q(
    "aggregate_temporal_period_month",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, y, x, CAST(date_trunc('month', time) AS TIMESTAMP) AS time, "
    "avg(value) AS value FROM cube GROUP BY 1, 2, 3, 4",
)
def _atp_month(spark, sf_dir):
    return aggregate_temporal_period(synthetic_cube(spark), "month", "mean").df


@q(
    "aggregate_temporal_period_season",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, y, x, CAST(date_trunc('quarter', time) AS TIMESTAMP) AS time, "
    "max(value) AS value FROM cube GROUP BY 1, 2, 3, 4",
)
def _atp_season(spark, sf_dir):
    return aggregate_temporal_period(synthetic_cube(spark), "season", "max").df


@q(
    "aggregate_spatial_window",
    f"WITH cube AS ({CUBE_D}), idx AS ({GRID_IDX_D}) "
    "SELECT band, time, avg(y) AS y, avg(x) AS x, avg(value) AS value "
    "FROM idx GROUP BY band, time, floor(yi / 4), floor(xi / 4)",
)
def _asw(spark, sf_dir):
    return aggregate_spatial_window(synthetic_cube(spark), [4, 4], "mean").df


@q(
    "aggregate_spatial_window_trim",
    f"WITH cube AS ({CUBE_D}), idx AS ({GRID_IDX_D}) "
    "SELECT band, time, avg(y) AS y, avg(x) AS x, sum(value) AS value "
    "FROM idx GROUP BY band, time, floor(yi / 5), floor(xi / 5) "
    "HAVING count(*) = 25",
)
def _asw_trim(spark, sf_dir):
    return aggregate_spatial_window(
        synthetic_cube(spark), [5, 5], "sum", boundary="trim"
    ).df


@q(
    "climatological_normal",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, y, x, CAST(month(time) AS INT) AS month, avg(value) AS value "
    "FROM cube GROUP BY 1, 2, 3, 4",
)
def _clim(spark, sf_dir):
    return climatological_normal(synthetic_cube(spark)).df


@q(
    "anomaly",
    f"WITH cube AS ({CUBE_D}), "
    "norm AS (SELECT band, y, x, month(time) AS m, avg(value) AS nval "
    "FROM cube GROUP BY 1, 2, 3, 4) "
    "SELECT c.band, c.time, c.y, c.x, c.value - n.nval AS value "
    "FROM cube c LEFT JOIN norm n ON c.band = n.band AND c.y = n.y "
    "AND c.x = n.x AND month(c.time) = n.m",
)
def _anomaly(spark, sf_dir):
    c = synthetic_cube(spark)
    return anomaly(c, climatological_normal(c)).df


_ZONAL_ORACLE = (
    f"WITH cube AS ({CUBE_D}), "
    f"tagged AS (SELECT {geom_id_case_sql()} AS geom_id, band, time, value "
    "FROM cube) "
    "SELECT geom_id AS {label}, band, time, {red} AS value FROM tagged "
    "WHERE geom_id IS NOT NULL GROUP BY geom_id, band, time"
)


# Round-13 consolidation: the full zonal reducer set
# ({mean,median,sd,variance,sum,min,max} — the reference's
# aggregate_spatial dispatch, openeo_odc_driver.py:663-678) pinned by
# ONE sweep row: each reducer still runs through aggregate_spatial (7
# operator invocations), outputs equi-joined on (geom_id, band, time)
# into per-reducer columns against a single GROUP BY oracle. product
# keeps its own row below (it also pins the target_dimension label).
_ZONAL_SWEEP = {
    "mean": "avg(value)",
    "median": "quantile_cont(value, 0.5)",
    "sd": _SD_D,
    "variance": _VAR_D,
    "sum": "sum(value)",
    "min": "min(value)",
    "max": "max(value)",
}


@q(
    "aggregate_spatial_sweep",
    f"WITH cube AS ({CUBE_D}), "
    f"tagged AS (SELECT {geom_id_case_sql()} AS geom_id, band, time, value "
    "FROM cube) SELECT geom_id, band, time, "
    + ", ".join(f'{duck} AS "{red}"' for red, duck in _ZONAL_SWEEP.items())
    + " FROM tagged WHERE geom_id IS NOT NULL GROUP BY geom_id, band, time",
)
def _zonal_sweep(spark, sf_dir):
    out = None
    for red in _ZONAL_SWEEP:
        d = aggregate_spatial(
            synthetic_cube(spark), FIXTURE_POLYGONS, red
        ).df.withColumnRenamed(VALUE, red)
        out = d if out is None else out.join(d, ["geom_id", "band", "time"])
    return out


@q(
    "aggregate_spatial_product",
    # the reference's geometry-dim label arg (:654-656): Spark side emits
    # `result`, so the oracle labels the geometry column the same way —
    # pinning target_dimension label parity through the driver gate.
    _ZONAL_ORACLE.format(red=_PROD_D, label="result"),
)
def _zonal_product(spark, sf_dir):
    return aggregate_spatial(
        synthetic_cube(spark), FIXTURE_POLYGONS, "product",
        target_dimension="result",
    ).df


# 5-point Laplacian-ish kernel with dyadic weights (exact contributions)
_KERNEL = [[0.0, 0.25, 0.0], [0.25, -1.0, 0.25], [0.0, 0.25, 0.0]]
_KERNEL_FACTOR = 2.0
_KERNEL_ORACLE = (
    f"WITH cube AS ({CUBE_D}), idx AS ({GRID_IDX_D}), "
    "offs(dy, dx, w) AS (VALUES (-1, 0, 0.25), (0, -1, 0.25), (0, 0, -1.0), "
    "(0, 1, 0.25), (1, 0, 0.25)), "
    "contrib AS (SELECT band, time, yi + dy AS cy, xi + dx AS cx, "
    "sum(value * w) AS conv FROM idx, offs WHERE value IS NOT NULL "
    "GROUP BY 1, 2, 3, 4) "
    "SELECT i.band, i.time, i.y, i.x, "
    "CASE WHEN i.value IS NOT NULL THEN coalesce(c.conv, 0.0) * 2.0 END AS value "
    "FROM idx i LEFT JOIN contrib c ON i.band = c.band AND i.time = c.time "
    "AND i.yi = c.cy AND i.xi = c.cx"
)


@q("apply_kernel", _KERNEL_ORACLE)
def _apply_kernel(spark, sf_dir):
    return apply_kernel(synthetic_cube(spark), _KERNEL, factor=_KERNEL_FACTOR).df


@q("apply_kernel_tiled", _KERNEL_ORACLE)
def _apply_kernel_tiled(spark, sf_dir):
    """Same semantics through the halo-tile strategy — parity between both
    physical plans is itself part of the check. tile=16 here: one tile
    per (band,time) at fixture scale keeps the pandas-group count (and
    Arrow round-trip overhead) proportionate; real scenes use the default
    256 (tests cover tile=4/8 cross-tile halos)."""
    return apply_kernel_tiled(
        synthetic_cube(spark), _KERNEL, factor=_KERNEL_FACTOR, tile=16
    ).df


# ---- SURVEY §1.4 tiled raster layout (core/tiled.py) -----------------
# The storage/scale tier: one row per (band, time, tile), pixels packed
# as array<double>. Every tiled op expands back to long format for the
# gate, sharing the oracle of the long-format op it mirrors — engine
# agreement proves the layout is lossless AND the native-tile compute
# matches the relational plan.


@q("tiled_roundtrip", CUBE_D)
def _tiled_roundtrip(spark, sf_dir):
    """from_tiled(to_tiled(cube)) ≡ cube (core/tiled.py): the pack →
    expand round trip over partial edge tiles (tile=5 on a 16×16 scene
    exercises right/bottom padding) against the raw cube oracle —
    pixel-lossless including NULL nodata."""
    from .core.tiled import from_tiled, to_tiled

    return from_tiled(to_tiled(synthetic_cube(spark), tile=5, n_y=16, n_x=16)).df


@q(
    "tiled_reduce_time_sweep",
    f"WITH cube AS ({CUBE_D}) SELECT band, y, x, "
    'avg(value) AS "mean", max(value) AS "max", sum(value) AS "sum", '
    + _SD_D + ' AS "sd" FROM cube GROUP BY band, y, x',
)
def _tiled_reduce_time_sweep(spark, sf_dir):
    """Round-13 consolidation (was 4 gate rows): the tiled time-reducer
    family natively on tiles — reduce_time_mean_tiled's element-wise
    sorted fold plus the generalized reduce_time_tiled at max/sum/sd
    (NULL elements skipped, all-NULL stays NULL; sd combines exact
    (n, Σx, Σx²) partials with reducers.sd_expr arithmetic) — each
    expanded back to long and equi-joined per pixel into one sweep row
    against a single multi-column GROUP BY oracle. The gate runs the
    shipped numpy fold, exact on the dyadic fixture."""
    from .core.tiled import (
        from_tiled,
        materialize_tiled,
        reduce_time_mean_tiled,
        reduce_time_tiled,
        to_tiled,
    )

    # round-15: the four reducer legs shared `tc` only lazily — each
    # re-ran the pack (48 Exchanges, 0 ReusedExchange); materialize once.
    tc = materialize_tiled(
        to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    )
    out = from_tiled(reduce_time_mean_tiled(tc)).df
    out = out.withColumnRenamed(VALUE, "mean")
    for red in ("max", "sum", "sd"):
        d = from_tiled(reduce_time_tiled(tc, red)).df
        out = out.join(d.withColumnRenamed(VALUE, red), ["band", "y", "x"])
    return out


@q(
    "tiled_filter_bbox",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    "WHERE x BETWEEN 20.0 AND 90.0 AND y BETWEEN 30.0 AND 120.0",
)
def _tiled_filter_bbox(spark, sf_dir):
    """filter_bbox on the tiled layout (core/tiled.py:
    filter_bbox_tiled): conservative tile_row/tile_col range pruning
    drops whole tiles before any array is touched (parquet min/max
    pruning on the stored layout — pytest-pinned PushedFilters), the
    exact pixel predicate applies after expansion. Shares
    filter_bbox's oracle, so tiled slicing must agree row-for-row with
    the long-format between-predicate."""
    from .core.tiled import filter_bbox_tiled, to_tiled

    return filter_bbox_tiled(
        to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), 20.0, 90.0, 30.0, 120.0
    ).df


@q(
    "tiled_filter_bbox_native",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    "WHERE x BETWEEN 20.0 AND 90.0 AND y BETWEEN 30.0 AND 120.0",
)
def _tiled_filter_bbox_native(spark, sf_dir):
    """Round-11: the bbox slice that STAYS tiled (core/tiled.py:
    filter_bbox_tiled_native) — exact kept-index window + tile pruning
    + window repack onto corner-anchored tiles (one exchange of the
    kept window, bit-exact re-anchored coordinates verified in plan
    time). Shares filter_bbox's oracle; tile=5 exercises window edges
    crossing partial tiles."""
    from .core.tiled import filter_bbox_tiled_native, from_tiled, to_tiled

    return from_tiled(
        filter_bbox_tiled_native(
            to_tiled(synthetic_cube(spark), tile=5, n_y=16, n_x=16),
            20.0, 90.0, 30.0, 120.0,
        )
    ).df


@q("tiled_mask", _MASK_ORACLE.format(repl="NULL"))
def _tiled_mask(spark, sf_dir):
    """openEO mask natively on tiles (core/tiled.py: mask_tiled):
    element-wise band-drop fold + ONE tile-keyed left join + zip_with —
    the mask side is tile²× fewer rows than the long plan's per-pixel
    mask. Shares the long mask_nodata oracle, so NULL-mask, nonzero-
    mask, and missing-tile semantics must agree per pixel."""
    from .core.tiled import from_tiled, mask_tiled, to_tiled

    data = to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    m = to_tiled(synthetic_cube(spark, MASK_SPEC), tile=8, n_y=16, n_x=16)
    return from_tiled(mask_tiled(data, m)).df


@q(
    "tiled_pipeline_e2e",
    f"WITH cube AS ({CUBE_D}), mc AS ({CUBE_MASK_D}), "
    "m AS (SELECT time, y, x, min(value) AS mv FROM mc GROUP BY 1, 2, 3), "
    "masked AS (SELECT c.band, c.time, c.y, c.x, "
    "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value END AS value "
    "FROM cube c LEFT JOIN m ON c.time = m.time AND c.y = m.y "
    "AND c.x = m.x), "
    "wide AS (SELECT time, y, x, "
    "max(CASE WHEN band = 'B04' THEN value END) AS b04, "
    "max(CASE WHEN band = 'B08' THEN value END) AS b08 "
    "FROM masked GROUP BY time, y, x) "
    "SELECT y, x, "
    "quantile_cont((b08 - b04) / nullif(b08 + b04, 0.0), 0.5) AS ndvi_median "
    "FROM wide GROUP BY y, x",
)
def _tiled_pipeline_e2e(spark, sf_dir):
    """The 'a user could switch' row for the tiled tier: a complete
    openEO pipeline — store → load → cloud-mask → NDVI → time median —
    executed ENTIRELY on the tiled layout (core/tiled.py: save_tiled /
    load_tiled / mask_tiled / normalized_difference_tiled /
    reduce_time_median_tiled), against one independent long-format SQL
    composition. Every stage is individually gated; this row pins
    their COMPOSITION (schema handoffs, NULL propagation across
    stages, padding discipline) end to end."""
    import tempfile

    from .core.tiled import (
        from_tiled,
        load_tiled,
        mask_tiled,
        normalized_difference_tiled,
        reduce_time_median_tiled,
        save_tiled,
        to_tiled,
    )

    path = tempfile.mkdtemp(prefix="tiled_e2e_") + "/cube"
    save_tiled(to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), path)
    data = load_tiled(spark, path)
    m = to_tiled(synthetic_cube(spark, MASK_SPEC), tile=8, n_y=16, n_x=16)
    nd = normalized_difference_tiled(mask_tiled(data, m), "B08", "B04")
    return from_tiled(reduce_time_median_tiled(nd)).df.select(
        Y, X, F.col(VALUE).alias("ndvi_median")
    )


@q(
    "tiled_reduce_bands_mean",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT time, y, x, avg(value) AS value FROM cube GROUP BY time, y, x",
)
def _tiled_reduce_bands_mean(spark, sf_dir):
    """Band-axis reduction natively on tiles (core/tiled.py:
    reduce_bands_tiled — the shared fold grouped by (time, tile)
    across the band rows, band-label sort order). Shares the long
    reduce_bands_mean oracle."""
    from .core.tiled import from_tiled, reduce_bands_tiled, to_tiled

    return from_tiled(
        reduce_bands_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), "mean"
        )
    ).df


@q(
    "tiled_aggregate_temporal_season",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, y, x, CAST(date_trunc('quarter', time) AS TIMESTAMP) AS time, "
    "max(value) AS value FROM cube GROUP BY 1, 2, 3, 4",
)
def _tiled_atp_season(spark, sf_dir):
    """Calendar-period resample natively on tiles (core/tiled.py:
    aggregate_temporal_period_tiled — date_trunc relabel + the shared
    element-wise fold per (band, period, tile); time survives,
    coarsened 3→1 on the monthly fixture). Shares the long season/max
    oracle."""
    from .core.tiled import (
        aggregate_temporal_period_tiled,
        from_tiled,
        to_tiled,
    )

    return from_tiled(
        aggregate_temporal_period_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), "season", "max",
        )
    ).df


@q("tiled_apply_kernel", _KERNEL_ORACLE)
def _tiled_apply_kernel(spark, sf_dir):
    """Convolution natively on tiles (core/tiled.py:
    apply_kernel_tiled_layout — halo exchange, 9× tile shuffle
    independent of kernel size, numpy stencil per target tile) against
    the same oracle as the long-format scatter and gather plans: three
    physical strategies, one pinned semantics. tile=8 forces real
    cross-tile halos on the 16×16 scene."""
    from .core.tiled import apply_kernel_tiled_layout, from_tiled, to_tiled

    return from_tiled(
        apply_kernel_tiled_layout(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            _KERNEL,
            factor=_KERNEL_FACTOR,
        )
    ).df


@q("tiled_save_load", CUBE_D)
def _tiled_save_load(spark, sf_dir):
    """The tiled STORAGE tier round trip (core/tiled.py: save_tiled →
    load_tiled → from_tiled): band-partitioned parquet + the
    _tiled_meta.json sidecar restoring tile/scene/grid metadata, then
    expanded back to long against the raw cube oracle — a reader needs
    no side channel beyond the directory itself. Band partition
    pruning on this layout is pinned in pytest (a one-band read scans
    only that band's files)."""
    import tempfile

    from .core.tiled import from_tiled, load_tiled, save_tiled, to_tiled

    path = tempfile.mkdtemp(prefix="tiled_store_") + "/cube"
    save_tiled(to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), path)
    return from_tiled(load_tiled(spark, path)).df


@q(
    "tiled_filter_bands_temporal",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    "WHERE band IN ('B04', 'B08') "
    "AND time >= TIMESTAMP '2021-06-01' AND time < TIMESTAMP '2022-03-01'",
)
def _tiled_filter_bands_temporal(spark, sf_dir):
    """Band + temporal filters natively on tiles (core/tiled.py:
    filter_bands_tiled / filter_temporal_tiled): pure row predicates
    on the tile keys — the arrays are never opened, and on the stored
    layout band is a hive partition column (directory pruning) while
    time carries parquet min/max. Shares the long filters' composed
    semantics (half-open [start, end))."""
    from .core.tiled import (
        filter_bands_tiled,
        filter_temporal_tiled,
        from_tiled,
        to_tiled,
    )

    return from_tiled(
        filter_temporal_tiled(
            filter_bands_tiled(
                to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), ["B04", "B08"]
            ),
            "2021-06-01",
            "2022-03-01",
        )
    ).df


@q(
    "tiled_apply_math",
    f"WITH cube AS ({CUBE_D}) SELECT band, time, y, x, "
    "least(greatest(abs(value) * 0.25 + 1.0, 0.0), 30.0) AS value FROM cube",
)
def _tiled_apply_math(spark, sf_dir):
    """openEO ``apply`` natively on tiles (core/tiled.py: apply_tiled):
    one transform lambda per packed array whose body REUSES the long
    tier's Column builders (operators/math.py *_cols — the §2.4 op
    set), so tier arithmetic cannot drift. The chain here is
    clip(abs(v)·0.25 + 1, 0, 30) — dyadic literals, cross-engine
    exact. Zero exchanges (scan-fused projection)."""
    from .core.tiled import apply_tiled, from_tiled, to_tiled
    from .operators.math import absolute_cols, add_cols, clip_cols, multiply_cols

    return from_tiled(
        apply_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            lambda v: clip_cols(
                add_cols(multiply_cols(absolute_cols(v), 0.25), 1.0),
                0.0,
                30.0,
            ),
        )
    ).df


@q(
    "tiled_merge_bands",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_B_BANDS_D}) "
    "SELECT * FROM c1 UNION ALL SELECT * FROM c2",
)
def _tiled_merge_bands(spark, sf_dir):
    """merge_cubes case 1 (disjoint bands) natively on tiles
    (core/tiled.py: merge_cubes_tiled): a columnless unionByName —
    zero shuffle, no tile array opened. Shares the long
    merge_cubes_bands oracle."""
    from .core.tiled import from_tiled, merge_cubes_tiled, to_tiled

    return from_tiled(
        merge_cubes_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            to_tiled(synthetic_cube(spark, SPEC_B_BANDS), tile=8, n_y=16, n_x=16),
        )
    ).df


@q(
    "tiled_merge_resolver",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_C_D}) "
    "SELECT coalesce(c1.band, c2.band) AS band, "
    "coalesce(c1.time, c2.time) AS time, "
    "coalesce(c1.y, c2.y) AS y, coalesce(c1.x, c2.x) AS x, "
    "CASE WHEN c1.value IS NULL THEN c2.value "
    "WHEN c2.value IS NULL THEN c1.value "
    "ELSE (c1.value + c2.value) / 2.0 END AS value "
    "FROM c1 FULL OUTER JOIN c2 ON c1.band = c2.band AND c1.time = c2.time "
    "AND c1.y = c2.y AND c1.x = c2.x",
)
def _tiled_merge_resolver(spark, sf_dir):
    """merge_cubes case 3 (overlap + resolver) natively on tiles: ONE
    full-outer join keyed by (band, time, tile) — tile²× fewer join
    keys than the long per-pixel join — and a zip_with whose lambda is
    the SAME Column builder the long resolver uses. Shares the long
    merge_cubes_resolver oracle (mean-of-sides with NULL passthrough)."""
    from .core.tiled import from_tiled, merge_cubes_tiled, to_tiled

    def resolver(v1: Column, v2: Column) -> Column:
        return (
            F.when(v1.isNull(), v2)
            .when(v2.isNull(), v1)
            .otherwise((v1 + v2) / F.lit(2.0))
        )

    return from_tiled(
        merge_cubes_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            to_tiled(synthetic_cube(spark, SPEC_C), tile=8, n_y=16, n_x=16),
            overlap_resolver=resolver,
        )
    ).df


@q(
    "tiled_resample_spatial",
    f"WITH cube AS ({CUBE_D}), idx AS ("
    "SELECT band, time, value, "
    "CAST((150.0 - y) / 10.0 AS BIGINT) // 2 AS i, "
    "CAST((x - 0.0) / 10.0 AS BIGINT) // 2 AS j FROM cube) "
    "SELECT band, time, 150.0 - 20.0 * i AS y, 0.0 + 20.0 * j AS x, "
    "avg(value) AS value FROM idx GROUP BY band, time, i, j",
)
def _tiled_resample_spatial(spark, sf_dir):
    """Integer-factor spatial downsampling natively on tiles
    (core/tiled.py: resample_spatial_tiled): factor-2 mean pooling as
    a ZERO-shuffle scan-fused projection (every output tile is a pure
    function of one input tile; only the tile edge and grid resolution
    change). Oracle: the same block reduction over the long cube,
    upper-left grid alignment."""
    from .core.tiled import from_tiled, resample_spatial_tiled, to_tiled

    return from_tiled(
        resample_spatial_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16), 2, "mean"
        )
    ).df


@q(
    "tiled_zonal_sweep",
    f"WITH cube AS ({CUBE_D}), "
    f"tagged AS (SELECT {geom_id_case_sql()} AS geom_id, band, time, value "
    "FROM cube) SELECT geom_id, band, time, "
    'avg(value) AS "mean", CAST(count(value) AS BIGINT) AS "count", '
    'quantile_cont(value, 0.5) AS "median", '
    + _SD_D + ' AS "sd", ' + _PROD_D + ' AS "product" '
    "FROM tagged WHERE geom_id IS NOT NULL GROUP BY geom_id, band, time",
)
def _tiled_zonal_sweep(spark, sf_dir):
    """Round-13 consolidation (was 5 gate rows): zonal statistics
    natively on tiles (core/tiled.py: aggregate_spatial_tiled) across
    the reducer matrix — tiles classify against the polygon list with
    literal arithmetic on (tile_row, tile_col): interior tiles fold
    whole arrays with ZERO per-pixel geometry (mean/count/sd via exact
    (n, Σx, Σx²) partials), the multiset reducers (median/product)
    stream only TOUCHED tiles' tagged pixel values into one compact
    exchange, outside tiles drop at the scan. tile=4 on the 16×16
    fixture exercises all tile classes; 5 operator invocations
    equi-joined on (geom_id, band, time) against one GROUP BY oracle
    (first-match tagging; product folds the SORTED list —
    reducers.product_expr)."""
    from .core.tiled import aggregate_spatial_tiled, materialize_tiled
    from .functions.geometry import FIXTURE_POLYGONS

    # round-15: pack the shared fixture ONCE (materialize_tiled) — the
    # five legs each re-embedded the to_tiled subtree (plan: 80
    # Exchanges, 0 ReusedExchange), so the pack ran five times.
    tc = materialize_tiled(_tiled_fixture(spark))
    out = None
    for red in ("mean", "count", "median", "sd", "product"):
        d = aggregate_spatial_tiled(
            tc, FIXTURE_POLYGONS, red,
        ).df.withColumnRenamed(VALUE, red)
        out = d if out is None else out.join(d, ["geom_id", "band", "time"])
    return out


def _tiled_fixture(spark):
    """tile=4 pack of the synthetic fixture with STATIC scene dims —
    plan construction fires no Spark job (the catalog knows the grid;
    probing would cost 2 jobs per gate row)."""
    from .core.tiled import to_tiled

    return to_tiled(
        synthetic_cube(spark), tile=4,
        n_y=DEFAULT_SPEC.ny, n_x=DEFAULT_SPEC.nx,
    )


@q(
    "tiled_climatological_normal",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, CAST(month(time) AS INT) AS month, y, x, "
    "avg(value) AS value FROM cube GROUP BY 1, 2, 3, 4",
)
def _tiled_clim(spark, sf_dir):
    """Round-10: climatological_normal natively on tiles (the r9
    doc-phantom made real) — month-keyed mean fold per (band, month,
    tile), the month label riding the tile rows through from_tiled.
    Shares the long climatological_normal oracle."""
    from .core.tiled import climatological_normal_tiled, from_tiled

    return from_tiled(
        climatological_normal_tiled(_tiled_fixture(spark))
    ).df


_CONCAVE_ZONES = [
    # L-shape (concave: notch removes the upper-right quadrant) + an
    # overlapping rectangle — first-match under the ray-cast rule
    [(5.5, 5.5), (145.5, 5.5), (145.5, 75.5),
     (75.5, 75.5), (75.5, 145.5), (5.5, 145.5)],
    [(65.5, 65.5), (125.5, 65.5), (125.5, 125.5), (65.5, 125.5)],
]


@q(
    "tiled_zonal_concave",
    f"WITH cube AS ({CUBE_D}), tagged AS ("
    "SELECT {} AS geom_id, band, time, value FROM cube) "
    "SELECT geom_id, band, time, avg(value) AS value FROM tagged "
    "WHERE geom_id IS NOT NULL GROUP BY geom_id, band, time".format(
        raycast_geom_id_case_sql([
            [(5.5, 5.5), (145.5, 5.5), (145.5, 75.5),
             (75.5, 75.5), (75.5, 145.5), (5.5, 145.5)],
            [(65.5, 65.5), (125.5, 65.5), (125.5, 125.5), (65.5, 125.5)],
        ])
    ),
)
def _tiled_zonal_concave(spark, sf_dir):
    """Round-10: CONCAVE zonal natively on tiles — with any concave
    polygon the long operator switches every polygon to the even-odd
    ray-cast rule, and the tiled tier mirrors it (no interior claims,
    per-pixel crossing tests only on touched tiles, outside tiles
    still pruned at the scan). The oracle is the same crossing
    arithmetic in DuckDB (functions/geometry.raycast_geom_id_case_sql)
    — identical IEEE evaluation order, .5-offset vertices keep pixels
    off every edge."""
    from .core.tiled import aggregate_spatial_tiled
    from .functions.geometry import is_convex

    assert not all(is_convex(p) for p in _CONCAVE_ZONES)
    return aggregate_spatial_tiled(
        _tiled_fixture(spark), _CONCAVE_ZONES, "mean",
    ).df


@q(
    "tiled_reduce_x_sweep",
    f"WITH cube AS ({CUBE_D}) SELECT band, time, y, "
    'sum(value) AS "sum", ' + _SD_D + ' AS "sd", '
    'quantile_cont(value, 0.5) AS "median" FROM cube GROUP BY band, time, y',
)
def _tiled_reduce_x_sweep(spark, sf_dir):
    """Round-13 consolidation (was 3 gate rows): spatial-axis reducers
    natively on tiles (core/tiled.py: reduce_spatial_tiled) across the
    three partial shapes — within-tile line partials for sum (the
    raster drops tile× before the exchange), exact (Σ, Σx², n)
    partials for sd (cross-tile combine reproduces reducers.sd_expr
    bit-for-bit), and per-line compact value multisets for median
    (exploded after the shuffle into the long median_expr) — joined on
    (band, time, y) into one sweep row; the y-axis gather keeps its
    own row (tiled_reduce_y_max)."""
    from .core.tiled import reduce_spatial_tiled

    out = None
    for red in ("sum", "sd", "median"):
        d = reduce_spatial_tiled(
            _tiled_fixture(spark), "x", red
        ).df.withColumnRenamed(VALUE, red)
        out = d if out is None else out.join(d, ["band", "time", "y"])
    return out


@q("tiled_reduce_y_max", ORACLE["reduce_y_max"])
def _tiled_reduce_y_max(spark, sf_dir):
    """Round-11: the y-axis twin of tiled_reduce_x_sum (column gather
    via strided indexing instead of a row slice), sharing
    reduce_y_max's oracle."""
    from .core.tiled import reduce_spatial_tiled

    return reduce_spatial_tiled(_tiled_fixture(spark), "y", "max").df


@q(
    "tiled_aggregate_period_median",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, y, x, CAST(date_trunc('quarter', time) AS TIMESTAMP) AS time, "
    "quantile_cont(value, 0.5) AS value FROM cube GROUP BY 1, 2, 3, 4",
)
def _tiled_aggregate_period_median(spark, sf_dir):
    """Round-11: period median natively on tiles — the
    reduce_time_median_tiled multiset fold keyed by the date_trunc
    label (core/tiled.py: aggregate_temporal_period_tiled median
    branch). Seasons give 3-element groups on the monthly fixture, and
    the ~4% NULLs shrink some to 2/1/0 — exercising the even-count
    interpolation and the all-NULL → NULL rule per position."""
    from .core.tiled import aggregate_temporal_period_tiled, from_tiled

    return from_tiled(
        aggregate_temporal_period_tiled(_tiled_fixture(spark), "season",
                                        "median")
    ).df


@q(
    "tiled_ndvi_median",
    f"WITH cube AS ({CUBE_D}), wide AS ("
    "SELECT time, y, x, "
    "max(CASE WHEN band = 'B04' THEN value END) AS b04, "
    "max(CASE WHEN band = 'B08' THEN value END) AS b08 "
    "FROM cube GROUP BY time, y, x) "
    "SELECT y, x, "
    "quantile_cont((b08 - b04) / nullif(b08 + b04, 0.0), 0.5) AS ndvi_median "
    "FROM wide GROUP BY y, x",
)
def _tiled_ndvi_median(spark, sf_dir):
    """The flagship NDVI-median shape executed ENTIRELY on the tiled
    layout (core/tiled.py): pack → per-pixel normalized difference as
    one tile-keyed equi-join + zip_with (join key count = tiles, not
    pixels) → exact per-pixel time median via the numpy tile fold →
    expand. The oracle is the independent long-format SQL (band pivot +
    quantile_cont), so the whole tiled pipeline — band math, NULL
    propagation, median interpolation, padding drop — must agree
    pixel-exactly with the relational plan."""
    from .core.tiled import (
        from_tiled,
        normalized_difference_tiled,
        reduce_time_median_tiled,
        to_tiled,
    )

    tc = to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    nd = normalized_difference_tiled(tc, "B08", "B04")
    return from_tiled(reduce_time_median_tiled(nd)).df.select(
        Y, X, F.col(VALUE).alias("ndvi_median")
    )


# border-mode oracles: per-center source index remapped into the scene
# (replicate = clamp, reflect = edge-inclusive mirror over 0..15)
_BORDER_MAP = {
    "replicate": "least(greatest({g}, 0), 15)",
    "reflect": "(CASE WHEN {g} < 0 THEN -({g}) - 1 "
    "WHEN {g} > 15 THEN 31 - ({g}) ELSE {g} END)",
    # pixel-centered mirror: the edge pixel is NOT repeated
    "reflect_pixel": "(CASE WHEN {g} < 0 THEN -({g}) "
    "WHEN {g} > 15 THEN 30 - ({g}) ELSE {g} END)",
    # periodic: double-mod because SQL % keeps the dividend's sign
    "wrap": "((({g}) % 16) + 16) % 16",
}


def _kernel_border_sweep_oracle(modes) -> str:
    """Per-mode convolution CTEs over the shared idx/offs fixtures,
    equi-joined on (band, time, y, x) into one column per border mode."""
    ctes = []
    for mode in modes:
        my = _BORDER_MAP[mode].format(g="(i.yi - o.dy)")
        mx = _BORDER_MAP[mode].format(g="(i.xi - o.dx)")
        ctes.append(
            f"m_{mode} AS (SELECT i.band, i.time, i.y, i.x, "
            "CASE WHEN i.value IS NOT NULL THEN "
            "sum(coalesce(s.value, 0.0) * o.w) * 2.0 END AS value "
            "FROM idx i CROSS JOIN offs o "
            "JOIN idx s ON s.band = i.band AND s.time = i.time "
            f"AND s.yi = {my} AND s.xi = {mx} "
            "GROUP BY i.band, i.time, i.y, i.x, i.value)"
        )
    first = modes[0]
    joins = " ".join(
        f"JOIN m_{m} USING (band, time, y, x)" for m in modes[1:]
    )
    cols = ", ".join(f'm_{m}.value AS "{m}"' for m in modes)
    return (
        f"WITH cube AS ({CUBE_D}), idx AS ({GRID_IDX_D}), "
        "offs(dy, dx, w) AS (VALUES (-1, 0, 0.25), (0, -1, 0.25), "
        "(0, 0, -1.0), (0, 1, 0.25), (1, 0, 0.25)), "
        + ", ".join(ctes)
        + f" SELECT band, time, y, x, {cols} FROM m_{first} {joins}"
    )


@q(
    "apply_kernel_border_sweep",
    _kernel_border_sweep_oracle(["replicate", "reflect", "wrap"]),
)
def _apply_kernel_border_sweep(spark, sf_dir):
    """Round-13 consolidation (was 3 gate rows): the long-tier border
    modes, each through its own physical strategy — replicate/reflect
    via the halo-tile path (apply_kernel_tiled, tile=16), wrap via the
    shift-and-sum scatter (receiving cell modulo scene dims; reference
    maps all three to scipy, openeo_odc_driver.py:1405) — joined per
    pixel into one sweep row against per-mode convolution CTEs."""
    cube = synthetic_cube(spark)
    out = None
    for mode in ("replicate", "reflect"):
        d = apply_kernel_tiled(
            cube, _KERNEL, factor=_KERNEL_FACTOR, tile=16, border=mode
        ).df.withColumnRenamed(VALUE, mode)
        out = d if out is None else out.join(d, ["band", "time", "y", "x"])
    w = apply_kernel(
        cube, _KERNEL, factor=_KERNEL_FACTOR, border="wrap"
    ).df.withColumnRenamed(VALUE, "wrap")
    return out.join(w, ["band", "time", "y", "x"])


from .fixtures import values_oracle_sql  # noqa: E402 (literal oracles)


@q("resample_spatial_warp_sweep",
   values_oracle_sql("resample_spatial_warp_sweep"))
def _resample_spatial_warp_sweep(spark, sf_dir):
    """Rounds 13+14, consolidated (was resample_spatial_warp +
    resample_spatial_warp_bilinear): ``resample_spatial`` with a
    PROJECTION change — the 4326→UTM warp (reference forwards the EPSG
    int + ``resampling=method`` to ODC's reprojecting loader,
    openeo_odc_driver.py:175-202) — BOTH methods through the real
    operator onto the SAME 400 m lattice, full-outer-joined per pixel:
    ``near`` (inverse-TM snap, one pixel-keyed equi-join) and
    ``bilinear`` (≤4 neighbors, weights renormalized over non-null,
    quantized to 7 decimals — the 4-way sum is order-sensitive in the
    last ulp; bilinear covers a slightly wider edge fringe, hence the
    outer join). Projection math is not SQL-expressible, so the oracle
    is the captured literal (fixtures/); metric ground truth, cropped-
    cube parity, per-pixel value parity, and linear-field exactness
    are pytest-pinned (tests/test_round13.py, tests/test_round14.py).
    Round 15: the ``tiled_bilinear`` column hash-gates the tile-native
    bilinear warp (r14-late) against the long bilinear the same way
    ``tiled_near`` gates the nearest tier."""
    from .operators.resample import resample_spatial_warp

    spec = CubeSpec(resx=0.0078125, resy=0.00390625,
                    x0=11.2890625, y0=46.51953125)
    cube = reduce_dimension(synthetic_cube(spark, spec), "time", "max")
    # round-15: the four warp legs each re-embedded the reduced-cube
    # subtree (74 Exchanges, 0 ReusedExchange) — evaluate it once.
    cube = cube.with_df(cube.df.localCheckpoint(eager=False))
    near = resample_spatial_warp(cube, 32632, 400.0).df \
        .withColumnRenamed(VALUE, "near")
    bil = (
        resample_spatial_warp(cube, 32632, 400.0, method="bilinear").df
        .withColumn(VALUE, F.round(VALUE, 7))
        .withColumnRenamed(VALUE, "bilinear")
    )
    # third + fourth pinned columns (rounds 14/15): the TILE-NATIVE
    # warp, near AND bilinear — same lattice constants by construction
    # (shared warp_target_lattice), so cross-tier parity is hash-gated
    # every round; NULL fringe rows (off-scene targets the packed
    # canvas must carry) appear as all-NULL rows of the outer join.
    # Bilinear quantizes to 7 decimals on BOTH tiers (the 4-way
    # weighted sum is order-sensitive in the last ulp; the tiled
    # scatter accumulates in source-tile order, the long plan in join
    # order), so the hash gate compares the same quantization.
    from .core.tiled import (
        from_tiled,
        materialize_tiled,
        resample_spatial_warp_tiled,
        to_tiled,
    )

    tcube = materialize_tiled(to_tiled(cube, tile=16, n_y=16, n_x=16))
    tiled = from_tiled(resample_spatial_warp_tiled(
        tcube, 32632, 400.0
    )).df.withColumnRenamed(VALUE, "tiled_near")
    tiled_bil = (
        from_tiled(resample_spatial_warp_tiled(
            tcube, 32632, 400.0, method="bilinear"
        )).df
        .withColumn(VALUE, F.round(VALUE, 7))
        .withColumnRenamed(VALUE, "tiled_bilinear")
    )
    return (
        near.join(bil, ["band", "y", "x"], "full_outer")
        .join(tiled, ["band", "y", "x"], "full_outer")
        .join(tiled_bil, ["band", "y", "x"], "full_outer")
    )


@q("resample_spatial_warp_directions_sweep",
   values_oracle_sql("resample_spatial_warp_directions_sweep"))
def _resample_spatial_warp_directions_sweep(spark, sf_dir):
    """Rounds 14+15, consolidated (absorbs r14's
    resample_spatial_warp_utm_wgs84 as its ``utm_wgs84`` rows): every
    warp DIRECTION beyond the sweep row's 4326→UTM, union-tagged by
    ``proj`` — the reference forwards ANY EPSG pair to ODC/GDAL
    (openeo_odc_driver.py:175-202); round 15 adds the two most common
    non-UTM real-world targets as closed-form transforms in
    functions/proj.py (VERDICT r14 task 3):

    - ``utm_wgs84``: UTM→4326 nearest (r14's row, verbatim — forward
      TM per target pixel).
    - ``webmerc``: 4326→3857 (spherical Pseudo-Mercator, the published
      EPSG:3857 definition) — near + bilinear + TILE-NATIVE near
      (cross-tier parity hash-gated; NULL-fringe rows are the packed
      canvas's off-scene targets).
    - ``laea``: 4326→3035 (ellipsoidal Lambert Azimuthal Equal-Area,
      Snyder 24-27..24-39 on GRS80) — near; forward pinned against
      the published EPSG Guidance-Note test point in pytest.
    - ``antarctic``: 4326→3031 (ellipsoidal Polar Stereographic
      variant B, Snyder 15-32..15-39; the standard Antarctic EO grid)
      over an Antarctic-footprint cube — near; invariants (pole
      exactness, ρ(std parallel)=N·cosφ, rotation invariance, McMurdo
      position) pytest-pinned, 3413 Arctic shares the code path.

    Projection math is not SQL-expressible → literal captured oracle;
    metric ground truths (known coordinates, center exactness,
    round-trip, linear-field bilinear exactness) are pytest-pinned
    (tests/test_round15.py)."""
    from .core.tiled import (
        from_tiled,
        resample_spatial_warp_tiled,
        to_tiled,
    )
    from .operators.resample import resample_spatial_warp

    utm_spec = CubeSpec(x0=676000.0, y0=5153000.0, resx=10.0, resy=10.0)
    utm_cube = reduce_dimension(
        synthetic_cube(spark, utm_spec), "time", "max"
    )
    utm_rows = (
        resample_spatial_warp(utm_cube, 4326, 0.0001).df
        .withColumnRenamed(VALUE, "near")
        .withColumn("bilinear", F.lit(None).cast("double"))
        .withColumn("tiled_near", F.lit(None).cast("double"))
        .withColumn("proj", F.lit("utm_wgs84"))
    )
    geo_spec = CubeSpec(resx=0.0078125, resy=0.00390625,
                        x0=11.2890625, y0=46.51953125)
    geo_cube = reduce_dimension(
        synthetic_cube(spark, geo_spec), "time", "max"
    )
    # round-15: geo_cube feeds five warp legs (106 Exchanges, 0
    # ReusedExchange before) — evaluate the reduced cube once. The
    # single-reference cubes (utm, antarctic) stay lazy: a checkpoint
    # there only adds a barrier.
    geo_cube = geo_cube.with_df(geo_cube.df.localCheckpoint(eager=False))

    def tagged(tgt_epsg, res, tag, with_tiled):
        near = resample_spatial_warp(geo_cube, tgt_epsg, res).df \
            .withColumnRenamed(VALUE, "near")
        bil = (
            resample_spatial_warp(geo_cube, tgt_epsg, res,
                                  method="bilinear").df
            .withColumn(VALUE, F.round(VALUE, 7))
            .withColumnRenamed(VALUE, "bilinear")
        )
        out = near.join(bil, ["band", "y", "x"], "full_outer")
        if with_tiled:
            tiled = from_tiled(resample_spatial_warp_tiled(
                to_tiled(geo_cube, tile=16, n_y=16, n_x=16),
                tgt_epsg, res,
            )).df.withColumnRenamed(VALUE, "tiled_near")
        else:
            tiled = near.select(
                "band", "y", "x",
                F.col("near").alias("tiled_near"),
            ).limit(0)
        return (
            out.join(tiled, ["band", "y", "x"], "full_outer")
            .withColumn("proj", F.lit(tag))
        )

    antarctic_spec = CubeSpec(resx=0.0078125, resy=0.00390625,
                              x0=10.0, y0=-70.5)
    antarctic_cube = reduce_dimension(
        synthetic_cube(spark, antarctic_spec), "time", "max"
    )
    antarctic = (
        resample_spatial_warp(antarctic_cube, 3031, 400.0).df
        .withColumnRenamed(VALUE, "near")
        .withColumn("bilinear", F.lit(None).cast("double"))
        .withColumn("tiled_near", F.lit(None).cast("double"))
        .withColumn("proj", F.lit("antarctic"))
    )
    cols = ["proj", "band", "y", "x", "near", "bilinear", "tiled_near"]
    return (
        utm_rows.select(cols)
        .unionByName(tagged(3857, 500.0, "webmerc", True).select(cols))
        .unionByName(tagged(3035, 500.0, "laea", False).select(cols))
        .unionByName(antarctic.select(cols))
    )


@q(
    "process_graph_merge_resolver",
    f"WITH cube AS ({CUBE_D}) SELECT band, time, y, x, value FROM cube",
)
def _pg_merge_resolver(spark, sf_dir):
    """Round 13: merge_cubes with an openEO-standard ``overlap_resolver``
    child graph THROUGH THE PLANNER (previously the planner ignored the
    argument and raised OverlapResolverMissing where reference graphs
    succeed). Two loads of the same collection fully overlap; resolver
    max(x, y) over identical values is the identity — oracle is the raw
    cube. The reference's from_node-forwarding quirk
    (openeo_odc_driver.py:1181-1187) is pytest-pinned separately."""
    from .plans.graph import ProcessGraph

    graph = {"process_graph": {
        "a": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "b": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "m": {"process_id": "merge_cubes",
              "arguments": {
                  "cube1": {"from_node": "a"},
                  "cube2": {"from_node": "b"},
                  "overlap_resolver": {"process_graph": {
                      "r": {"process_id": "max",
                            "arguments": {"x": {"from_parameter": "x"},
                                          "y": {"from_parameter": "y"}},
                            "result": True}}},
              },
              "result": True},
    }}
    pg = ProcessGraph(graph,
                      save_dir="/tmp/spark_graft_results/pg_merge_res")
    return pg.execute(spark).df


_GTIFF_RT_SNAP20 = (
    "SELECT band, y, x, value, "
    "0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5) AS sx, "
    "150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5) AS sy, "
    "(x - (0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5))) * "
    "(x - (0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5))) "
    "+ (y - (150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5))) * "
    "(y - (150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5))) AS d "
    "FROM mx"
)

_GTIFF_RT_ORACLE = (
    f"WITH cube AS ({CUBE_D}), "
    "mx AS (SELECT band, y, x, max(value) AS value FROM cube "
    "GROUP BY band, y, x), "
    f"snapped AS ({_GTIFF_RT_SNAP20}), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY band, sx, sy ORDER BY d, x, y) AS rn FROM snapped), "
    "l2 AS (SELECT band, sy AS y, sx AS x, value FROM r WHERE rn = 1) "
    "SELECT 'base' AS lvl, band, y, x, value FROM mx "
    "UNION ALL SELECT 'L2' AS lvl, band, y, x, value FROM l2"
)


@q("gtiff_store_roundtrip", _GTIFF_RT_ORACLE)
def _gtiff_store_roundtrip(spark, sf_dir):
    """Rounds 13+15: the distributed GeoTIFF pair as a STORAGE TIER —
    `save_gtiff_tiled` (executors pwrite float32 tiles at static
    offsets, driver writes only the IFD chain) then `load_gtiff_tiled`
    (executors pread tiles back, zero shuffle) round-trips the
    time-max cube bit-exactly against the long reducer oracle: the
    dyadic fixture values are float32-representable, NULL↔NaN folds at
    the boundary, and the grid re-derives from
    ModelPixelScale/Tiepoint. (max, not mean — a mean of 24 values is
    not f32-representable, which would honestly fail the exact hash.)

    Round 15: the file is now a REAL COG — reduced-resolution overview
    IFDs chain after the main image (NewSubfileType=1, own geo tags),
    each level the engine's covering-downscale snap written through
    the same executor-pwrite path. The ``L2`` rows read the 2× level
    back through `load_gtiff_tiled(level=2)` and compare against the
    PORTABLE SQL snap of the max cube (the floor(+0.5) winner idiom) —
    the overview content itself is oracle-gated, not just pinned."""
    import tempfile

    from .core.tiled import from_tiled, to_tiled
    from .operators.reducers import reduce_dimension
    from .sinks.gtiff_tiled import load_gtiff_tiled, save_gtiff_tiled

    cube = reduce_dimension(synthetic_cube(spark), "time", "max")
    tc = to_tiled(cube, tile=16, n_y=16, n_x=16)
    path = save_gtiff_tiled(
        tc, tempfile.mkdtemp(prefix="gtiff_rt_") + "/scene",
        overviews=(2,),
    )
    base = from_tiled(
        load_gtiff_tiled(spark, path, bands=cube.schema.bands)
    ).df.withColumn("lvl", F.lit("base"))
    l2 = from_tiled(
        load_gtiff_tiled(spark, path, bands=cube.schema.bands, level=2)
    ).df.withColumn("lvl", F.lit("L2"))
    cols = ["lvl", "band", "y", "x", "value"]
    return base.select(cols).unionByName(l2.select(cols))


_CUBE_B08_D = cube_sql(CubeSpec(bands=("B08",)), "duckdb")


@q(
    "gtiff_time_planes_roundtrip",
    f"WITH cube AS ({_CUBE_B08_D}) "
    "SELECT strftime(time, '%Y-%m-%d %H:%M:%S') AS band, y, x, value "
    "FROM cube",
)
def _gtiff_time_planes_roundtrip(spark, sf_dir):
    """Round 14: the reference's OTHER GeoTIFF squeeze rule through the
    distributed storage tier — a single-band multi-step-time cube maps
    TIME onto the plane axis (one plane per timestamp,
    openeo_odc_driver.py:1693-1703), writes via the executor-parallel
    sink, and preads back with the timestamp labels round-tripping
    through the sidecar. Raw dyadic fixture values are
    float32-representable, so the storage round trip is exact against
    the relabeled cube oracle."""
    import tempfile

    from .core.tiled import from_tiled, time_to_planes_tiled, to_tiled
    from .sinks.gtiff_tiled import load_gtiff_tiled, save_gtiff_tiled

    cube = synthetic_cube(spark, CubeSpec(bands=("B08",)))
    tc = time_to_planes_tiled(to_tiled(cube, tile=16, n_y=16, n_x=16))
    path = save_gtiff_tiled(
        tc, tempfile.mkdtemp(prefix="gtiff_tp_") + "/scene"
    )
    return from_tiled(load_gtiff_tiled(spark, path)).df


_CUBE_18x13_D = cube_sql(CubeSpec(ny=18, nx=13), "duckdb")


@q(
    "tiled_apply_kernel_wrap_partial",
    f"WITH cube AS ({_CUBE_18x13_D}), idx AS ("
    "SELECT band, time, y, x, value, "
    "CAST((150.0 - y) / 10.0 AS BIGINT) AS yi, "
    "CAST((x - 0.0) / 10.0 AS BIGINT) AS xi FROM cube), "
    "offs(dy, dx, w) AS (VALUES (-1, 0, 0.25), (0, -1, 0.25), "
    "(0, 0, -1.0), (0, 1, 0.25), (1, 0, 0.25)) "
    "SELECT i.band, i.time, i.y, i.x, "
    "CASE WHEN i.value IS NOT NULL THEN sum(coalesce(s.value, 0.0) * o.w) "
    "* 2.0 END AS value "
    "FROM idx i CROSS JOIN offs o "
    "JOIN idx s ON s.band = i.band AND s.time = i.time "
    "AND s.yi = (((i.yi - o.dy) % 18) + 18) % 18 "
    "AND s.xi = (((i.xi - o.dx) % 13) + 13) % 13 "
    "GROUP BY i.band, i.time, i.y, i.x, i.value",
)
def _tiled_apply_kernel_wrap_partial(spark, sf_dir):
    """Round 13 (VERDICT r12 item 7): the periodic border natively on
    tiles over a PARTIAL tiling (18×13 scene, tile=8 — partial on both
    axes; was the most user-visible tiled demotion). Crossing halo
    strips slice the last VALID rows/cols (never the padding) and land
    adjacent to the target's valid region; crossed pieces overwrite the
    padding non-crossing strips carry (core/tiled.py: _halo_pieces /
    _halo_canvas wrap geometry). Oracle: the same double-mod periodic
    convolution in DuckDB."""
    from .core.tiled import apply_kernel_tiled_layout, from_tiled, to_tiled

    return from_tiled(
        apply_kernel_tiled_layout(
            to_tiled(
                synthetic_cube(spark, CubeSpec(ny=18, nx=13)),
                tile=8, n_y=18, n_x=13,
            ),
            _KERNEL, factor=_KERNEL_FACTOR, border="wrap",
        )
    ).df


@q(
    "tiled_apply_kernel_border_sweep",
    _kernel_border_sweep_oracle(
        ["wrap", "replicate", "reflect", "reflect_pixel"]
    ),
)
def _tiled_apply_kernel_border_sweep(spark, sf_dir):
    """Round-13 consolidation (was 4 gate rows): every non-zero openEO
    border mode natively on the tiled layout
    (core/tiled.py: apply_kernel_tiled_layout) — out-of-scene
    halo-canvas cells re-index BY POSITION to their in-scene images
    (clamp / edge-inclusive mirror / pixel-centered mirror), wrap's
    off-scene halo targets the opposite-edge tiles (exact tilings;
    partial tilings demote to the long scatter). reflect runs at
    tile=5 to keep the partial-tile padding remap covered; the others
    at tile=8. Four operator invocations joined per pixel against
    per-mode convolution CTEs."""
    from .core.tiled import (
        apply_kernel_tiled_layout,
        from_tiled,
        materialize_tiled,
        to_tiled,
    )

    # round-15: pack each tile size ONCE (materialize_tiled) — three of
    # the four legs share the tile=8 pack but re-ran it per leg (48
    # Exchanges, 0 ReusedExchange: pandas pack stages never canonicalize
    # equal).
    cube = synthetic_cube(spark)
    packs: dict[int, object] = {}
    out = None
    for mode, tile in (
        ("wrap", 8), ("replicate", 8), ("reflect", 5), ("reflect_pixel", 8)
    ):
        if tile not in packs:
            packs[tile] = materialize_tiled(
                to_tiled(cube, tile=tile, n_y=16, n_x=16)
            )
        d = from_tiled(
            apply_kernel_tiled_layout(
                packs[tile], _KERNEL, factor=_KERNEL_FACTOR, border=mode,
            )
        ).df.withColumnRenamed(VALUE, mode)
        out = d if out is None else out.join(d, ["band", "time", "y", "x"])
    return out


# ---------------------------------------------------------------------------
# Merge / resample (SURVEY §2.8)
# ---------------------------------------------------------------------------

@q(
    "merge_cubes_bands",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_B_BANDS_D}) "
    "SELECT * FROM c1 UNION ALL SELECT * FROM c2",
)
def _merge_bands(spark, sf_dir):
    return merge_cubes(synthetic_cube(spark), synthetic_cube(spark, SPEC_B_BANDS)).df


@q(
    "merge_cubes_time",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_B_TIMES_D}) "
    "SELECT * FROM c1 UNION ALL SELECT * FROM c2",
)
def _merge_time(spark, sf_dir):
    return merge_cubes(
        synthetic_cube(spark),
        synthetic_cube(spark, SPEC_B_TIMES),
        assume_disjoint=True,
    ).df


@q(
    "merge_cubes_resolver",
    f"WITH c1 AS ({CUBE_D}), c2 AS ({CUBE_C_D}) "
    "SELECT coalesce(c1.band, c2.band) AS band, "
    "coalesce(c1.time, c2.time) AS time, "
    "coalesce(c1.y, c2.y) AS y, coalesce(c1.x, c2.x) AS x, "
    "CASE WHEN c1.value IS NULL THEN c2.value "
    "WHEN c2.value IS NULL THEN c1.value "
    "ELSE (c1.value + c2.value) / 2.0 END AS value "
    "FROM c1 FULL OUTER JOIN c2 ON c1.band = c2.band AND c1.time = c2.time "
    "AND c1.y = c2.y AND c1.x = c2.x",
)
def _merge_resolver(spark, sf_dir):
    def resolver(v1: Column, v2: Column) -> Column:
        return (
            F.when(v1.isNull(), v2)
            .when(v2.isNull(), v1)
            .otherwise((v1 + v2) / F.lit(2.0))
        )

    return merge_cubes(
        synthetic_cube(spark), synthetic_cube(spark, SPEC_C), overlap_resolver=resolver
    ).df


@q(
    "resample_cube_temporal",
    f"WITH src AS ({CUBE_D}), tgt AS ({CUBE_B_TIMES_D}), "
    "st AS (SELECT DISTINCT time AS src_t FROM src), "
    "tt AS (SELECT DISTINCT time AS tgt_t FROM tgt), "
    "m AS (SELECT src_t, tgt_t FROM ("
    "SELECT src_t, tgt_t, row_number() OVER (PARTITION BY tgt_t "
    "ORDER BY abs(epoch_us(tgt_t) - epoch_us(src_t)), src_t) AS rn "
    "FROM tt CROSS JOIN st) WHERE rn = 1) "
    "SELECT s.band, m.tgt_t AS time, s.y, s.x, s.value "
    "FROM src s JOIN m ON s.time = m.src_t",
)
def _resample_temporal(spark, sf_dir):
    return resample_cube_temporal(
        synthetic_cube(spark), synthetic_cube(spark, SPEC_B_TIMES)
    ).df


_COARSE_GRID = GridSpec(x0=0.0, y0=150.0, resx=20.0, resy=20.0)


@q(
    "resample_cube_spatial",
    f"WITH cube AS ({CUBE_D}), snapped AS ("
    "SELECT band, time, y, x, value, "
    "0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5) AS sx, "
    "150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5) AS sy, "
    "(x - (0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5))) * (x - (0.0 + 20.0 * floor((x - 0.0) / 20.0 + 0.5))) "
    "+ (y - (150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5))) * (y - (150.0 - 20.0 * floor((150.0 - y) / 20.0 + 0.5))) AS d "
    "FROM cube), r AS (SELECT *, row_number() OVER "
    "(PARTITION BY band, time, sx, sy ORDER BY d, x, y) AS rn FROM snapped) "
    "SELECT band, time, sy AS y, sx AS x, value FROM r WHERE rn = 1",
)
def _resample_spatial(spark, sf_dir):
    target = Cube(
        synthetic_cube(spark).df,
        CubeSchema(bands=DEFAULT_SPEC.bands, crs="EPSG:32632", grid=_COARSE_GRID),
    )
    return resample_cube_spatial(synthetic_cube(spark), target).df


_BILINEAR_TGT_SPEC = CubeSpec(resx=15.0, resy=15.0, nx=10, ny=10)


@q(
    "resample_cube_spatial_bilinear",
    f"WITH cube AS ({CUBE_D}), "
    f"tcube AS ({cube_sql(_BILINEAR_TGT_SPEC, 'duckdb')}), "
    "tc AS (SELECT DISTINCT y AS ty, x AS tx FROM tcube), "
    "nb AS (SELECT ty, tx, "
    "0.0 + 10.0 * (floor((tx - 0.0) / 10.0) + dx) AS sx, "
    "150.0 - 10.0 * (floor((150.0 - ty) / 10.0) + dy) AS sy, "
    "(CASE WHEN dx = 0 THEN 1.0 - ((tx - 0.0) / 10.0 - floor((tx - 0.0) / 10.0)) "
    "ELSE (tx - 0.0) / 10.0 - floor((tx - 0.0) / 10.0) END) * "
    "(CASE WHEN dy = 0 THEN 1.0 - ((150.0 - ty) / 10.0 - floor((150.0 - ty) / 10.0)) "
    "ELSE (150.0 - ty) / 10.0 - floor((150.0 - ty) / 10.0) END) AS w "
    "FROM tc, (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) o(dy, dx)) "
    "SELECT c.band, c.time, nb.ty AS y, nb.tx AS x, "
    "sum(nb.w * c.value) / sum(CASE WHEN c.value IS NOT NULL THEN nb.w END) AS value "
    "FROM cube c JOIN nb ON c.x = nb.sx AND c.y = nb.sy "
    "GROUP BY c.band, c.time, nb.ty, nb.tx",
)
def _resample_bilinear(spark, sf_dir):
    return resample_cube_spatial(
        synthetic_cube(spark),
        synthetic_cube(spark, _BILINEAR_TGT_SPEC),
        method="bilinear",
    ).df


@q(
    "tiled_resample_cube_spatial_bilinear",
    ORACLE["resample_cube_spatial_bilinear"],
)
def _tiled_resample_bilinear(spark, sf_dir):
    """Round-11: bilinear regrid natively on tiles (core/tiled.py:
    resample_cube_spatial_bilinear_tiled) — neighbor indices + weights
    precomputed per axis as plan data with the long operator's literal
    IEEE arithmetic; source tiles emit window-local fragments to the
    target tiles that read them (one fragment exchange ≈ the source
    raster once, vs the long 4×-exploded neighbor join); NULL and
    out-of-scene neighbors renormalize out exactly like the long
    left-join drop. Shares the long bilinear oracle verbatim."""
    from .core.tiled import (
        from_tiled,
        resample_cube_spatial_bilinear_tiled,
        to_tiled,
    )

    return from_tiled(
        resample_cube_spatial_bilinear_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            to_tiled(
                synthetic_cube(spark, _BILINEAR_TGT_SPEC),
                tile=5, n_y=10, n_x=10,
            ),
        )
    ).df


@q("tiled_resample_cube_temporal", ORACLE["resample_cube_temporal"])
def _tiled_resample_cube_temporal(spark, sf_dir):
    """Nearest-time as-of alignment natively on tiles (core/tiled.py:
    resample_cube_temporal_tiled) — the target→nearest-source time
    mapping broadcast-joins onto the source TILE rows (arrays never
    open, zero data shuffle; the long plan at tile²× fewer rows).
    Shares resample_cube_temporal's oracle exactly: the regrid-before-
    merge alignment no longer pays a from_tiled expansion."""
    from .core.tiled import from_tiled, resample_cube_temporal_tiled, to_tiled

    return from_tiled(
        resample_cube_temporal_tiled(
            to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16),
            to_tiled(
                synthetic_cube(spark, SPEC_B_TIMES), tile=8, n_y=16, n_x=16
            ),
        )
    ).df


@q("tiled_resample_cube_spatial", ORACLE["resample_cube_spatial"])
def _tiled_resample_cube_spatial(spark, sf_dir):
    """Factor-aligned nearest grid snap natively on tiles
    (core/tiled.py: resample_cube_spatial_tiled): integer tile-index
    arithmetic — scan-fused k²× sampling per source tile, then ONE
    exchange of output-raster fragments. Shares resample_cube_spatial's
    oracle (the floor(j/k+0.5) snap + min-distance winner per cell,
    including the trailing edge cell the 16-px axis rounds up to);
    tile=5 exercises partial source tiles under the repack."""
    from .core.tiled import from_tiled, resample_cube_spatial_tiled, to_tiled

    target = Cube(
        synthetic_cube(spark).df,
        CubeSchema(
            bands=DEFAULT_SPEC.bands, crs="EPSG:32632", grid=_COARSE_GRID
        ),
    )
    return from_tiled(
        resample_cube_spatial_tiled(
            to_tiled(synthetic_cube(spark), tile=5, n_y=16, n_x=16), target
        )
    ).df


_UPSCALE_GRID = GridSpec(x0=2.5, y0=152.5, resx=5.0, resy=5.0)


@q(
    "tiled_resample_cube_spatial_upscale",
    f"WITH cube AS ({CUBE_D}), snapped AS ("
    "SELECT band, time, y, x, value, "
    "2.5 + 5.0 * floor((x - 2.5) / 5.0 + 0.5) AS sx, "
    "152.5 - 5.0 * floor((152.5 - y) / 5.0 + 0.5) AS sy, "
    "(x - (2.5 + 5.0 * floor((x - 2.5) / 5.0 + 0.5))) * (x - (2.5 + 5.0 * floor((x - 2.5) / 5.0 + 0.5))) "
    "+ (y - (152.5 - 5.0 * floor((152.5 - y) / 5.0 + 0.5))) * (y - (152.5 - 5.0 * floor((152.5 - y) / 5.0 + 0.5))) AS d "
    "FROM cube), r AS (SELECT *, row_number() OVER "
    "(PARTITION BY band, time, sx, sy ORDER BY d, x, y) AS rn FROM snapped) "
    "SELECT band, time, sy AS y, sx AS x, value FROM r WHERE rn = 1",
)
def _tiled_resample_upscale(spark, sf_dir):
    """UPSCALE nearest snap natively on tiles (round-12 item 3;
    core/tiled.py: _axis_relabel): a target FINER than the source snaps
    every source pixel to its own cell — the long output is a pure
    relabel of the source rows (gap cells have no rows at all), so the
    tiled path is a zero-shuffle grid re-anchor over the occupied
    lattice, bit-exactness of every regenerated coordinate checked at
    plan time. Target res 5 at origin 2.5/152.5 over the res-10 cube:
    a genuinely shifted re-anchor (snapped coords differ from source
    coords by 2.5). Shares the long operator's oracle shape (the
    row_number winner is degenerate — every group has one row)."""
    from .core.tiled import from_tiled, resample_cube_spatial_tiled, to_tiled

    target = Cube(
        synthetic_cube(spark).df,
        CubeSchema(
            bands=DEFAULT_SPEC.bands, crs="EPSG:32632", grid=_UPSCALE_GRID
        ),
    )
    return from_tiled(
        resample_cube_spatial_tiled(
            to_tiled(synthetic_cube(spark), tile=5, n_y=16, n_x=16), target
        )
    ).df


# ---------------------------------------------------------------------------
# Curve fitting / UDF (SURVEY §2.9-2.10)
# ---------------------------------------------------------------------------

_FIT_STATS_D = (
    f"WITH cube AS ({CUBE_D}), t0 AS (SELECT min(time) AS mt FROM cube), "
    "td AS (SELECT band, y, x, value, "
    "(epoch_us(time) - epoch_us(t0.mt)) / 86400000000.0 AS t FROM cube, t0), "
    "s AS (SELECT band, y, x, count(value) AS n, "
    "sum(CASE WHEN value IS NOT NULL THEN t END) AS st, sum(value) AS sv, "
    "sum(t * value) AS stv, "
    "sum(CASE WHEN value IS NOT NULL THEN t * t END) AS stt "
    "FROM td GROUP BY band, y, x), "
    "c AS (SELECT band, y, x, n, (n * stt - st * st) AS denom, "
    "(n * stv - st * sv) / (n * stt - st * st) AS a1, st, sv FROM s) "
    "SELECT band, y, x, "
    "CASE WHEN n >= 4 AND denom != 0 THEN (sv - a1 * st) / n ELSE 0.0 END AS a0, "
    "CASE WHEN n >= 4 AND denom != 0 THEN a1 ELSE 0.0 END AS a1 FROM c"
)


@q("fit_curve_linear", _FIT_STATS_D)
def _fit_linear(spark, sf_dir):
    p = fit_curve_linear(synthetic_cube(spark))
    return p.df.select(
        BAND,
        Y,
        X,
        F.element_at("params", 1).alias("a0"),
        F.element_at("params", 2).alias("a1"),
    )


@q(
    "predict_curve_linear",
    f"WITH params AS ({_FIT_STATS_D}), cube AS ({CUBE_D}), "
    "tt AS (SELECT DISTINCT time FROM cube), "
    "t0 AS (SELECT min(time) AS mt FROM cube) "
    "SELECT p.band, tt.time, p.y, p.x, "
    "p.a0 + p.a1 * ((epoch_us(tt.time) - epoch_us(t0.mt)) / 86400.0 / 1000000.0) AS value "
    "FROM params p CROSS JOIN tt CROSS JOIN t0",
)
def _predict_linear(spark, sf_dir):
    c = synthetic_cube(spark)
    return predict_curve(fit_curve_linear(c), linear_model(), c).df


from .fixtures import values_oracle_sql


@q("fit_curve_harmonic", values_oracle_sql("fit_curve_harmonic"))
def _fit_harmonic(spark, sf_dir):
    """No SQL twin exists for the damped Gauss-Newton fit, so the oracle is
    the fixed expected output on the deterministic synthetic cube (captured
    by scratch/gen_fixed_oracles.py, quantized to 7 decimals — the
    ann_recall pattern). Bit-determinism: fit_tile sorts each pixel group
    by time before the float reductions."""
    p = fit_curve(synthetic_cube(spark), harmonic_model(), tile=16)
    return p.df.select(
        BAND,
        Y,
        X,
        F.round(F.element_at("params", 1), 7).alias("a0"),
        F.round(F.element_at("params", 2), 7).alias("a1"),
        F.round(F.element_at("params", 3), 7).alias("a2"),
    )


@q(
    "run_udf",
    f"WITH cube AS ({CUBE_D}) SELECT band, time, y, x, value * 2.0 AS value FROM cube",
)
def _run_udf(spark, sf_dir):
    def udf(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"] * 2.0
        return pdf

    return run_udf(synthetic_cube(spark), udf).df


@q(
    "run_udf_grouped",
    f"WITH cube AS ({CUBE_D}) "
    "SELECT band, time, y, x, "
    "value - min(value) OVER (PARTITION BY band, y, x) AS value FROM cube",
)
def _run_udf_grouped(spark, sf_dir):
    def udf(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"] - pdf["value"].min()
        return pdf

    return run_udf_grouped(synthetic_cube(spark), udf, [BAND, Y, X]).df


# ---------------------------------------------------------------------------
# SAR2Cube ops (SURVEY §2.9): radar_mask + geocode
# ---------------------------------------------------------------------------

_SAR_SPEC = CubeSpec(bands=("DEM", "LIA"), n_times=1, vs=0.0)
_GEO_SPEC = CubeSpec(bands=("LON", "LAT", "SIG"), n_times=1)


def _radar_mask_oracle() -> str:
    heading = math.radians(-12.5)  # ASC
    dx, dy = 10.0, -10.0
    dx_p, dy_p = dx * math.tan(heading), dy * math.tan(heading)
    drg = 2 * math.sqrt(dx_p ** 2 + dx ** 2)
    rg_sign = 1.0
    sar = cube_sql(_SAR_SPEC, "duckdb")
    return (
        f"WITH cube AS ({sar}), "
        "dem AS (SELECT time, y, x, value, "
        "CAST((x - 0.0) / 10.0 AS BIGINT) AS xi, "
        "CAST((150.0 - y) / 10.0 AS BIGINT) AS yi FROM cube WHERE band = 'DEM'), "
        "lia AS (SELECT avg(value) AS lia FROM cube WHERE band = 'LIA'), "
        "ext AS (SELECT max(xi) AS nxm, max(yi) AS nym FROM dem), "
        "p1 AS (SELECT *, lead(value, 2) OVER "
        "(PARTITION BY time, yi ORDER BY xi) AS e2 FROM dem), "
        "p2 AS (SELECT *, lead(value, 2) OVER "
        "(PARTITION BY time, xi ORDER BY yi) AS s2, "
        "lead(e2, 2) OVER (PARTITION BY time, xi ORDER BY yi) AS se2 FROM p1), "
        "slope AS (SELECT time, yi + 1 AS cyi, xi + 1 AS cxi, "
        "round(degrees(atan((("
        f"e2 + (se2 - e2) / {2 * dy!r} * {dy + dy_p!r}) - ("
        f"value + (s2 - value) / {2 * dy!r} * {dy - dy_p!r})) / {drg!r})) "
        f"* {rg_sign!r}, 9) AS fdeg "
        "FROM p2, ext WHERE xi + 2 < nxm AND yi + 2 < nym), "
        "m AS (SELECT time, cyi, cxi, "
        "CASE WHEN (CASE WHEN fdeg > 0 AND fdeg > lia THEN fdeg ELSE 0.0 END) "
        "/ lia > 0.5 THEN 1.0 ELSE 0.0 END AS layover, "
        "CASE WHEN (CASE WHEN fdeg > 0 AND fdeg < lia THEN fdeg ELSE 0.0 END) "
        "/ lia > 0.3 THEN 1.0 ELSE 0.0 END AS foreshortening, "
        "CASE WHEN fdeg < 0 AND abs(fdeg) > 90 - lia THEN 1.0 ELSE 0.0 END "
        "AS shadow FROM slope, lia WHERE fdeg IS NOT NULL) "
        "SELECT b.band, d.time, d.y, d.x, coalesce(CASE b.band "
        "WHEN 'layover' THEN m.layover "
        "WHEN 'foreshortening' THEN m.foreshortening "
        "ELSE m.shadow END, 0.0) AS value "
        "FROM dem d CROSS JOIN (VALUES ('layover'), ('foreshortening'), "
        "('shadow')) b(band) "
        "LEFT JOIN m ON m.time = d.time AND m.cyi = d.yi AND m.cxi = d.xi"
    )


@q("radar_mask", _radar_mask_oracle())
def _radar_mask(spark, sf_dir):
    from .operators.sar import radar_mask

    return radar_mask(
        synthetic_cube(spark, _SAR_SPEC),
        foreshortening_th=0.3,
        layover_th=0.5,
        orbit_direction="ASC",
    ).df


@q("tiled_radar_mask", _radar_mask_oracle())
def _tiled_radar_mask(spark, sf_dir):
    """Round-11: radar_mask natively on tiles (core/tiled.py:
    radar_mask_tiled) — the radius-2 halo-strip exchange ships ~(1+8/T)×
    the DEM band once; finite differences, atan + round-9 quantization
    and the three threshold masks run vectorized per tile; the LIA mean
    broadcasts as a scalar. tile=5 exercises stencils crossing partial
    tile boundaries. Shares the long radar_mask oracle verbatim — every
    neighborhood op now has a tiled strategy."""
    from .core.tiled import from_tiled, radar_mask_tiled, to_tiled

    return from_tiled(
        radar_mask_tiled(
            to_tiled(synthetic_cube(spark, _SAR_SPEC), tile=5,
                     n_y=16, n_x=16),
            0.3, 0.5, "ASC",
        )
    ).df


@q(
    "geocode_nearest",
    f"WITH cube AS ({cube_sql(_GEO_SPEC, 'duckdb')}), "
    "wide AS (SELECT time, y, x, "
    "max(CASE WHEN band = 'LON' THEN value END) AS lon, "
    "max(CASE WHEN band = 'LAT' THEN value END) AS lat, "
    "max(CASE WHEN band = 'SIG' THEN value END) AS sig "
    "FROM cube GROUP BY 1, 2, 3), "
    "w AS (SELECT * FROM wide WHERE lon IS NOT NULL AND lat IS NOT NULL), "
    "anchor AS (SELECT min(lon) AS lon0, max(lat) AS lat0 FROM w), "
    "sn AS (SELECT w.time, w.sig, w.x, w.y, "
    "lon0 + 1.0 * floor((lon - lon0) / 1.0 + 0.5) AS tx, "
    "lat0 - 1.0 * floor((lat0 - lat) / 1.0 + 0.5) AS ty, "
    "(lon - (lon0 + 1.0 * floor((lon - lon0) / 1.0 + 0.5))) * "
    "(lon - (lon0 + 1.0 * floor((lon - lon0) / 1.0 + 0.5))) + "
    "(lat - (lat0 - 1.0 * floor((lat0 - lat) / 1.0 + 0.5))) * "
    "(lat - (lat0 - 1.0 * floor((lat0 - lat) / 1.0 + 0.5))) AS d "
    "FROM w, anchor), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY time, tx, ty "
    "ORDER BY d, x, y) AS rn FROM sn) "
    "SELECT 'SIG' AS band, time, ty AS y, tx AS x, sig AS value "
    "FROM r WHERE rn = 1",
)
def _geocode(spark, sf_dir):
    from .operators.sar import geocode

    return geocode(
        synthetic_cube(spark, _GEO_SPEC), target_resx=1.0, target_resy=1.0
    ).df


# CCW hull edges of the _GEO_SPEC sample scatter, precomputed with the
# same monotone-chain code the operator runs (operators/sar.py:convex_hull)
# — all dyadic values, so the SQL cross-product membership test below is
# exact in IEEE double on both engines.
_GEO_HULL_EDGES = (
    "(-6.0, -5.125, 5.25, -6.0), (5.25, -6.0, 6.0, -5.25), "
    "(6.0, -5.25, 5.125, 6.0), (5.125, 6.0, -6.0, -5.125)"
)


@q(
    "geocode_linear",
    f"WITH cube AS ({cube_sql(_GEO_SPEC, 'duckdb')}), "
    "wide AS (SELECT time, y, x, "
    "max(CASE WHEN band = 'LON' THEN value END) AS lon, "
    "max(CASE WHEN band = 'LAT' THEN value END) AS lat, "
    "max(CASE WHEN band = 'SIG' THEN value END) AS sig "
    "FROM cube GROUP BY 1, 2, 3), "
    "w AS (SELECT * FROM wide WHERE lon IS NOT NULL AND lat IS NOT NULL), "
    "anchor AS (SELECT min(lon) AS lon0, max(lat) AS lat0 FROM w), "
    "cells AS (SELECT lon0 + 1.0 * tx.i AS cx, lat0 - 1.0 * ty.i AS cy "
    "FROM anchor, generate_series(0, 63) tx(i), generate_series(0, 63) ty(i)), "
    f"hull(hx1, hy1, hx2, hy2) AS (VALUES {_GEO_HULL_EDGES}), "
    "inside AS (SELECT c.* FROM cells c WHERE NOT EXISTS ("
    "SELECT 1 FROM hull h WHERE "
    "(h.hx2 - h.hx1) * (c.cy - h.hy1) - (h.hy2 - h.hy1) * (c.cx - h.hx1) < 0)), "
    "near AS (SELECT w.time, i.cx, i.cy, w.sig, row_number() OVER ("
    "PARTITION BY w.time, i.cx, i.cy ORDER BY "
    "(w.lon - i.cx) * (w.lon - i.cx) + (w.lat - i.cy) * (w.lat - i.cy), "
    "w.x, w.y) AS rn FROM inside i CROSS JOIN w) "
    "SELECT 'SIG' AS band, time, cy AS y, cx AS x, sig AS value "
    "FROM near WHERE rn = 1",
)
def _geocode_linear_q(spark, sf_dir):
    """Hull-masked nearest re-gridding = the reference's chunked "linear"
    geocode semantics (sar2cube/geocode.py:79-81,103), scipy-free — closes
    r2 missing-list item 4. The oracle rebuilds the same hull-membership +
    nearest-sample decision in SQL, with the hull edges embedded as exact
    dyadic literals."""
    from .operators.sar import geocode

    return geocode(
        synthetic_cube(spark, _GEO_SPEC), target_resx=1.0, target_resy=1.0,
        method="linear",
    ).df


# ---------------------------------------------------------------------------
# Flagship + relational (bench headliners)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = (
    f"WITH cube AS ({LINEITEM_CUBE_SQL}), wide AS ("
    "SELECT time, y, x, max(CASE WHEN band = 'B04' THEN value END) AS b04, "
    "max(CASE WHEN band = 'B08' THEN value END) AS b08 "
    "FROM cube GROUP BY time, y, x) "
    "SELECT y, x, quantile_cont((b08 - b04) / nullif(b08 + b04, 0.0), 0.5) "
    "AS ndvi_median FROM wide GROUP BY y, x"
)


def flagship_ndvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's golden query shape (NDVI_Bolzano_median.json):
    load → per-pixel band arithmetic → median over time.

    Plan note: the cube aggregation (avg per band-pixel) and the band
    pivot fuse into ONE aggregation — `avg(qty) FILTER (band = b)` over
    (time, y, x) is bit-identical to pivoting the per-band cube (the
    pivot's max ranges over a single row). Two shuffles total (fused
    agg + median), not three; at 100 TB that's a full pass over the
    fact table saved."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    band = F.expr(
        "CASE l_linenumber % 3 WHEN 0 THEN 'B04' WHEN 1 THEN 'B08' ELSE 'SCL' END"
    )
    wide = (
        li.select(
            band.alias("band"),
            F.expr("CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)").alias(TIME),
            F.expr("CAST(150.0 - CAST(l_partkey % 16 AS DOUBLE) * 10.0 AS DOUBLE)").alias(Y),
            F.expr("CAST(CAST(l_suppkey % 16 AS DOUBLE) * 10.0 AS DOUBLE)").alias(X),
            "l_quantity",
        )
        .groupBy(TIME, Y, X)
        .agg(
            F.avg(F.when(F.col("band") == "B04", F.col("l_quantity"))).alias("B04"),
            F.avg(F.when(F.col("band") == "B08", F.col("l_quantity"))).alias("B08"),
        )
    )
    ndvi = wide.withColumn(
        "ndvi", om.normalized_difference_cols(F.col("B08"), F.col("B04"))
    )
    return ndvi.groupBy(Y, X).agg(
        F.expr("percentile(ndvi, 0.5D)").alias("ndvi_median")
    )


QUERIES["flagship_ndvi"] = flagship_ndvi
ORACLE["flagship_ndvi"] = _FLAGSHIP_ORACLE


@q(
    "tpch_q1",
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
    "CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) "
    "AS sum_base_cents, "
    "CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) "
    "AS BIGINT)) AS BIGINT) AS sum_disc_cents, count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus",
)
def _tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape. Money sums go through round-to-cents BIGINT so the
    aggregate is order-independent (raw double sums are not)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
            ).alias("sum_base_cents"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0
                    + 0.5
                ).cast("bigint")
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "orders_per_nation",
    "SELECT n.n_name, count(*) AS n_orders, "
    "CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) "
    "AS total_cents "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name",
)
def _orders_per_nation(spark, sf_dir):
    """Star join: fact (orders) × dims (customer, nation) — the dims are
    broadcast (Catalyst auto-broadcasts under the 10 MB default; at 100 TB
    the explicit hint keeps it deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
            ).alias("total_cents"),
        )
    )


@q(
    "orders_topk_per_customer",
    "SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM ("
    "SELECT o_custkey, o_orderkey, row_number() OVER "
    "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) WHERE rn <= 3",
)
def _orders_topk(spark, sf_dir):
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@q(
    "events_hourly",
    "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type, "
    "count(*) AS n, min(value) AS min_value, max(value) AS max_value "
    "FROM (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events) "
    "GROUP BY 1, 2",
)
def _events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# load_collection facets: decode, polygon load, CRS bbox (SURVEY §2.1)
# ---------------------------------------------------------------------------

@q("load_collection_decode", CUBE_D)
def _load_decode(spark, sf_dir):
    """Scale/offset/nodata decode at scan (load_odc_collection.py:107-126):
    raw DN cube → nullif(nodata) → value*scale + offset. Decoding 1/8, -6
    reproduces the standard synthetic cube bit-exactly, so the oracle is
    the plain cube SQL."""
    from .sources.synthetic import decode_scan, raw_dn_sql

    raw = spark.sql(raw_dn_sql(DEFAULT_SPEC, "spark"))
    return decode_scan(raw, scale=0.125, offset=-6.0, nodata=255)


@q(
    "load_collection_polygon",
    f"WITH cube AS ({CUBE_D}) SELECT * FROM cube "
    f"WHERE {geom_id_case_sql([FIXTURE_POLYGONS[0]])} IS NOT NULL",
)
def _load_polygon(spark, sf_dir):
    """Polygon-masked load through the planner
    (load_odc_collection.py:190-226): GeoJSON Polygon as spatial_extent."""
    from .plans.graph import ProcessGraph

    ring = [list(p) for p in FIXTURE_POLYGONS[0]] + [list(FIXTURE_POLYGONS[0][0])]
    graph = {
        "process_graph": {
            "l": {
                "process_id": "load_collection",
                "arguments": {
                    "id": "synthetic",
                    "spatial_extent": {"type": "Polygon", "coordinates": [ring]},
                },
                "result": True,
            }
        }
    }
    return ProcessGraph(graph).execute(spark).df


# UTM-anchored collection for CRS bbox slicing: grid computed from the
# Bolzano envelope at import (same proj function the engine uses, so the
# oracle constants match bit-for-bit)
def _utm_fixture():
    from .functions.proj import bbox_to_cube_crs

    w, e, s, n = 11.283402372420943, 11.40672146557741, 46.45584062149402, 46.52154308303503
    x_min, x_max, y_min, y_max = bbox_to_cube_crs(w, e, s, n, "EPSG:32632")
    spec = CubeSpec(
        x0=float(math.floor(x_min - 3000)),
        y0=float(math.ceil(y_max + 3000)),
        resx=1000.0,
        resy=1000.0,
    )
    return spec, (w, e, s, n), (x_min, x_max, y_min, y_max)


_UTM_SPEC, _LL_BBOX, _UTM_BBOX = _utm_fixture()


@q(
    "filter_bbox_crs",
    f"WITH cube AS ({cube_sql(_UTM_SPEC, 'duckdb')}) SELECT * FROM cube "
    f"WHERE x BETWEEN {_UTM_BBOX[0]!r} AND {_UTM_BBOX[1]!r} "
    f"AND y BETWEEN {_UTM_BBOX[2]!r} AND {_UTM_BBOX[3]!r}",
)
def _filter_bbox_crs(spark, sf_dir):
    """4326 bbox against a projected cube: corners reprojected driver-side
    (openeo_odc_driver.py:1036-1078), slice stays sargable."""
    cube = synthetic_cube(spark, _UTM_SPEC)
    w, e, s, n = _LL_BBOX
    return filter_bbox(cube, w, e, s, n, crs="EPSG:4326").df


# ---------------------------------------------------------------------------
# Process-graph planner (SURVEY §3.1 / M1): full JSON graph → one Spark plan
# ---------------------------------------------------------------------------

_PG_DIR = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.dirname(
        __import__("os").path.abspath(__file__))),
    "tests", "process_graphs",
)


def _s2_duck() -> str:
    from .plans.catalog import collection_duck_sql

    return collection_duck_sql("s2_l2a")


_PG_NDVI_ORACLE_TMPL = (
    "WITH cube AS ({s2}), f AS (SELECT * FROM cube "
    "WHERE time >= TIMESTAMP '2022-06-01 00:00:00' "
    "AND time < TIMESTAMP '2022-06-30 23:59:59' "
    "AND x BETWEEN 11.283402372420943 AND 11.40672146557741 "
    "AND y BETWEEN 46.45584062149402 AND 46.52154308303503 "
    "AND band IN ('B04', 'B08')), "
    "wide AS (SELECT time, y, x, "
    "max(CASE WHEN band = 'B04' THEN value END) AS b04, "
    "max(CASE WHEN band = 'B08' THEN value END) AS b08 FROM f GROUP BY 1, 2, 3) "
    "SELECT y, x, quantile_cont((b08 - b04) / (b08 + b04), 0.5) AS value "
    "FROM wide GROUP BY y, x"
)


def _pg_ndvi(spark, sf_dir):
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(f"{_PG_DIR}/ndvi_median.json",
                                save_dir="/tmp/spark_graft_results/pg_ndvi")
    return pg.execute(spark).df


def _pg_pushdown(spark, sf_dir):
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(f"{_PG_DIR}/resample_pushdown.json",
                                save_dir="/tmp/spark_graft_results/pg_push")
    return pg.execute(spark).df


def _snap_sql(res: float) -> str:
    """Nearest-snap CTE body onto the res-meter grid anchored at the
    synthetic origin (0, 150) — the long resample_spatial semantics in
    portable SQL (both engines evaluate the identical IEEE doubles)."""
    r = f"{float(res):.1f}"
    sx = f"0.0 + {r} * floor((x - 0.0) / {r} + 0.5)"
    sy = f"150.0 - {r} * floor((150.0 - y) / {r} + 0.5)"
    return (
        f"SELECT band, time, y, x, value, {sx} AS sx, {sy} AS sy, "
        f"(x - ({sx})) * (x - ({sx})) + (y - ({sy})) * (y - ({sy})) AS d "
        "FROM cube"
    )


_SNAP20 = _snap_sql(20.0)

_PG_PUSHDOWN_ORACLE = (
    f"WITH cube AS ({CUBE_D}), snapped AS ({_SNAP20}), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY band, time, sx, sy ORDER BY d, x, y) AS rn FROM snapped), "
    "coarse AS (SELECT band, time, sy AS y, sx AS x, value FROM r WHERE rn = 1) "
    "SELECT band, y, x, quantile_cont(value, 0.5) AS value "
    "FROM coarse GROUP BY band, y, x"
)

_PG_OVERVIEW_ORACLE = (
    f"WITH cube AS ({CUBE_D}), snapped AS ({_snap_sql(60.0)}), "
    "r AS (SELECT *, row_number() OVER "
    "(PARTITION BY band, time, sx, sy ORDER BY d, x, y) AS rn FROM snapped), "
    "coarse AS (SELECT band, time, sy AS y, sx AS x, value FROM r WHERE rn = 1) "
    "SELECT band, y, x, quantile_cont(value, 0.5) AS value "
    "FROM coarse GROUP BY band, y, x"
)


def _pg_overview(spark, sf_dir):
    """Round 15: OVERVIEW PYRAMID serve — the pushed-down coarse
    resample on a STORED collection reads a reduced-resolution tile
    level instead of the full-res base (the shape the reference pushes
    into ODC's overview-reading loader, openeo_odc_driver.py:175-202;
    the r14 policy measurement priced its absence at 10.5 s vs 2.6 s
    at sf100). save_tiled stores 2×/4×/8× levels under _overviews/
    (sidecar-committed); the loader picks the coarsest level whose
    composed winner maps PROVE bit-equality with the direct full-res
    snap (core/tiled.py select_overview_level — plan-time numpy, zero
    jobs). 60 m on the 10 m grid factorizes through L2 with a
    non-identity second snap (L4/L8 provably do not — skipped); the
    callable hard-asserts the L2 read so a silent base fallback FAILS
    the gate rather than passing on full-res bytes. Oracle: the long
    plan's in-scan coarsening SQL — one answer, every tier."""
    import os

    from .core.tiled import ensure_overviews
    from .plans.graph import ProcessGraph

    store = _build_tiled_store(spark, "synthetic")
    ensure_overviews(spark, os.path.join(store, "synthetic"), (2, 4, 8))
    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/resample_overview.json",
        save_dir="/tmp/spark_graft_results/pg_overview",
        tiled=True, tiled_store_dir=store,
    )
    out = pg.execute(spark).df
    if pg.tiled_overview_reads != [("synthetic", 2)]:
        raise ValueError(
            "overview pyramid not served: expected the L2 read, got "
            f"{pg.tiled_overview_reads!r} (demotions: "
            f"{pg.tiled_demotions!r})"
        )
    return out


_PG_MASKED_SEASONAL_ORACLE = (
    f"WITH cube AS ({CUBE_D}), "
    "sclm AS (SELECT time, y, x, "
    "CASE WHEN (value > 4.0) IS NULL THEN NULL "
    "WHEN value > 4.0 THEN 1.0 ELSE 0.0 END AS mv "
    "FROM cube WHERE band = 'SCL'), "
    "masked AS (SELECT c.band, c.time, c.y, c.x, "
    "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value END AS value "
    "FROM cube c LEFT JOIN sclm m ON c.time = m.time AND c.y = m.y "
    "AND c.x = m.x), "
    "seas AS (SELECT band, y, x, "
    "CAST(date_trunc('quarter', time) AS TIMESTAMP) AS time, "
    "avg(value) AS value FROM masked GROUP BY 1, 2, 3, 4) "
    "SELECT band, y, x, time, least(greatest(value, -5.0), 5.0) AS value "
    "FROM seas"
)


def _pg_masked_seasonal(spark, sf_dir):
    """Wider planner coverage in one graph: band-expression mask build →
    mask → calendar resample → apply(clip) → save."""
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(f"{_PG_DIR}/masked_seasonal.json",
                                save_dir="/tmp/spark_graft_results/pg_seasonal")
    return pg.execute(spark).df


def _pg_ndvi_tiers_sweep(spark, sf_dir):
    """Round 15, consolidated (was process_graph_ndvi_tiled +
    process_graph_ndvi_tiled_store — each former row a named pinned
    column, invoked through the real planner): the NDVI-median graph
    in the planner's TILED MODE, query-time pack (``value_tiled``) and
    STORAGE-FIRST against the save_tiled store (``value_store``,
    r10's pack-free execution — bands prune hive partitions, temporal
    filter reaches the parquet scan), full-outer-joined per output
    pixel against the SAME long oracle as process_graph_ndvi. One
    oracle, three execution tiers across the two rows."""
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/ndvi_median.json",
        save_dir="/tmp/spark_graft_results/pg_ndvi_t", tiled=True,
    )
    tiled = pg.execute(spark).df.withColumnRenamed("value", "value_tiled")
    store = _build_s2_tiled_store(spark)
    pg_s = ProcessGraph.from_file(
        f"{_PG_DIR}/ndvi_median.json",
        save_dir="/tmp/spark_graft_results/pg_ndvi_ts",
        tiled=True, tiled_store_dir=store,
    )
    stored = pg_s.execute(spark).df.withColumnRenamed(
        "value", "value_store"
    )
    return tiled.join(stored, ["y", "x"], "full_outer")


def _pg_masked_seasonal_tiled(spark, sf_dir):
    """The masked-seasonal graph in tiled mode: band-expression mask
    build, mask, calendar resample, and apply(clip) ALL stay on tiles
    (plans/graph.py: the PROCESSES table's tiled functions), against
    the long oracle. The widest tile-resident chain the planner
    currently executes."""
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/masked_seasonal.json",
        save_dir="/tmp/spark_graft_results/pg_seasonal_t", tiled=True,
    )
    return pg.execute(spark).df


def _build_s2_tiled_store(spark) -> str:
    return _build_tiled_store(spark, "s2_l2a")


def _build_tiled_store(spark, collection_id: str) -> str:
    """Build (once) a save_tiled store for a catalog collection, for
    the storage-first gate rows: tile=8 pack of the full scene, written
    to a tmp dir and atomically renamed into place so concurrent
    callers see either nothing or a complete store."""
    import os
    import shutil

    root = "/tmp/spark_graft_tiled_store"
    path = os.path.join(root, collection_id)
    if not os.path.exists(os.path.join(path, "_tiled_meta.json")):
        from .core.tiled import save_tiled, to_tiled
        from .plans.catalog import load_collection_cube, static_scene_dims

        os.makedirs(root, exist_ok=True)
        cube = load_collection_cube(spark, collection_id)
        ny, nx = static_scene_dims(collection_id)
        # unique tmp per builder: two concurrent callers must not write
        # the same .build dir (ADVICE r10 TOCTOU)
        tmp = f"{path}.build.{os.getpid()}"
        meta = os.path.join(path, "_tiled_meta.json")
        try:
            save_tiled(to_tiled(cube, tile=8, n_y=ny, n_x=nx), tmp)
            try:
                os.replace(tmp, path)
            except OSError:
                # lost the publish race: another caller's complete
                # store is already in place — success, drop ours
                if not os.path.exists(meta):
                    # an INCOMPLETE dir squats on the path (interrupted
                    # legacy build). Serialize the clear+retry behind a
                    # mkdir lock so two losers can't rmtree each
                    # other's just-published store (ADVICE r11); the
                    # retry tolerates a third builder winning.
                    import time

                    lock = f"{path}.recover.lock"
                    try:
                        os.mkdir(lock)
                        got_lock = True
                    except OSError:
                        got_lock = False
                    if got_lock:
                        try:
                            if not os.path.exists(meta):
                                shutil.rmtree(path, ignore_errors=True)
                                try:
                                    os.replace(tmp, path)
                                except OSError:
                                    pass
                        finally:
                            os.rmdir(lock)
                    else:
                        # another recoverer is mid clear+publish: wait
                        # for a complete store to appear
                        for _ in range(200):
                            if os.path.exists(meta):
                                break
                            time.sleep(0.05)
                if not os.path.exists(meta):
                    raise RuntimeError(
                        f"tiled store publish failed for {path}"
                    )
        finally:
            # a failed build (or a lost race) must not leave a stale
            # .build dir behind
            shutil.rmtree(tmp, ignore_errors=True)
    # a real store carries its overview pyramid (round 15) — additive,
    # lock-guarded, and best-effort: a concurrent builder or failure
    # only costs coarse queries their level serve, never correctness
    try:
        from .core.tiled import ensure_overviews

        ensure_overviews(spark, path, (2, 4, 8))
    except Exception:  # noqa: BLE001 — overview absence is not an error
        pass
    return root


def _pg_masked_seasonal_tiled_store(spark, sf_dir):
    """The masked-seasonal graph STORAGE-FIRST: the widest tile-
    resident planner chain (band-expression mask build, mask, calendar
    resample, apply-clip) with its load reading the save_tiled store of
    the synthetic collection — pack-free execution end to end, same
    long oracle."""
    from .plans.graph import ProcessGraph

    store = _build_tiled_store(spark, "synthetic")
    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/masked_seasonal.json",
        save_dir="/tmp/spark_graft_results/pg_seasonal_ts",
        tiled=True, tiled_store_dir=store,
    )
    return pg.execute(spark).df


@q(
    "tiled_zonal_mean_store",
    _ZONAL_ORACLE.format(red="avg(value)", label="geom_id"),
)
def _tiled_zonal_mean_store(spark, sf_dir):
    """Round-11: zonal statistics reading FROM the save_tiled store —
    the sargable zones-bbox prefilter (core/tiled.py) is a plain
    tile_row/tile_col BETWEEN, so on the stored layout it reaches the
    parquet scan as row-group min/max pruning (PushedFilters pinned by
    tests/test_round11.py::test_zonal_store_pushes_tile_range). Same
    long oracle as aggregate_spatial_mean — the storage tier changes
    the scan, never the answer."""
    import os

    from .core.tiled import aggregate_spatial_tiled, load_tiled
    from .functions.geometry import FIXTURE_POLYGONS

    store = _build_tiled_store(spark, "synthetic")
    tc = load_tiled(spark, os.path.join(store, "synthetic"))
    return aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "mean").df


def _pg_resample_align_oracle() -> str:
    from .plans.catalog import SYNTHETIC_COARSE_SPEC

    return (
        f"WITH cube AS ({CUBE_D}), "
        f"coarse AS ({cube_sql(SYNTHETIC_COARSE_SPEC, 'duckdb')}), "
        f"snapped0 AS ({_SNAP20}), "
        "r AS (SELECT *, row_number() OVER "
        "(PARTITION BY band, time, sx, sy ORDER BY d, x, y) AS rn "
        "FROM snapped0), "
        "snapped AS (SELECT band, time, sy AS y, sx AS x, value "
        "FROM r WHERE rn = 1), "
        "st AS (SELECT DISTINCT time AS src_t FROM snapped), "
        "tt AS (SELECT DISTINCT time AS tgt_t FROM coarse), "
        "m AS (SELECT src_t, tgt_t FROM (SELECT src_t, tgt_t, "
        "row_number() OVER (PARTITION BY tgt_t "
        "ORDER BY abs(epoch_us(tgt_t) - epoch_us(src_t)), src_t) AS rn "
        "FROM tt CROSS JOIN st) WHERE rn = 1) "
        "SELECT s.band, m.tgt_t AS time, s.y, s.x, s.value AS value "
        "FROM snapped s JOIN m ON s.time = m.src_t"
    )


def _pg_resample_align(spark, sf_dir):
    """Two-collection alignment graph — the regrid-before-merge shape
    every multi-source graph hits (reference
    openeo_odc_driver.py:342-380): load the 10 m and 20 m twins,
    nearest-snap the fine cube onto the coarse grid
    (resample_cube_spatial), then as-of align its time axis to the
    coarse acquisitions (resample_cube_temporal)."""
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/resample_align.json",
        save_dir="/tmp/spark_graft_results/pg_align",
    )
    return pg.execute(spark).df


def _pg_resample_align_tiled(spark, sf_dir):
    """The alignment graph on the TILED tier: both resamples run
    natively on tiles (resample_cube_spatial_tiled's fragment repack +
    resample_cube_temporal_tiled's broadcast relabel). Demotion-free
    execution is ASSERTED, so a dispatch regression fails loudly
    instead of silently paying the from_tiled expansion this round
    removed."""
    from .plans.graph import ProcessGraph

    pg = ProcessGraph.from_file(
        f"{_PG_DIR}/resample_align.json",
        save_dir="/tmp/spark_graft_results/pg_align_t",
        tiled=True,
    )
    out = pg.execute(spark).df
    if pg.tiled_demotions:
        raise ValueError(
            f"resample_align graph demoted to long: {pg.tiled_demotions}"
        )
    return out


def _register_planner():
    q("process_graph_ndvi", _PG_NDVI_ORACLE_TMPL.format(s2=_s2_duck()))(_pg_ndvi)
    q("process_graph_resample_align", _pg_resample_align_oracle())(
        _pg_resample_align
    )
    q("process_graph_resample_align_tiled", _pg_resample_align_oracle())(
        _pg_resample_align_tiled
    )
    q("process_graph_resample_pushdown", _PG_PUSHDOWN_ORACLE)(_pg_pushdown)
    q("process_graph_masked_seasonal", _PG_MASKED_SEASONAL_ORACLE)(
        _pg_masked_seasonal
    )
    q("process_graph_ndvi_tiers_sweep",
      "SELECT y, x, value AS value_tiled, value AS value_store FROM ("
      + _PG_NDVI_ORACLE_TMPL.format(s2=_s2_duck()) + ")")(
        _pg_ndvi_tiers_sweep
    )
    q("process_graph_masked_seasonal_tiled", _PG_MASKED_SEASONAL_ORACLE)(
        _pg_masked_seasonal_tiled
    )
    q("process_graph_masked_seasonal_tiled_store",
      _PG_MASKED_SEASONAL_ORACLE)(_pg_masked_seasonal_tiled_store)
    q("tiled_store_overview", _PG_OVERVIEW_ORACLE)(_pg_overview)


_register_planner()


@q(
    "events_json_extract",
    "SELECT event_type, count(*) AS n, "
    "min(CAST(props ->> '$.k' AS BIGINT)) AS min_k, "
    "max(CAST(props ->> '$.k' AS BIGINT)) AS max_k, "
    "CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k "
    "FROM events GROUP BY event_type",
)
def _events_json(spark, sf_dir):
    """Semi-structured path: JSON extraction from the events `props`
    column (get_json_object ↔ DuckDB `->>`); integer sums stay exact."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
    )


# pipeline-operator registrations (side-effect import, keeps this module
# focused on the reference's cube surface)
from . import registry_pipeline  # noqa: E402,F401


def _pg_fit_curve_linear(spark, sf_dir):
    """fit_curve submitted as a PROCESS GRAPH (plans/graph.py: the
    model-sub-graph compiler + linear lowering): the planner compiles
    the a0 + a1·t function graph to the ModelExpr AST, recognizes it as
    the 2-param linear model, and lowers to the closed-form Catalyst
    aggregation — so the graph path and the direct operator share one
    oracle. Reference twin: openeo_odc_driver.py:227-281 (codegen) +
    :1506-1555 (fit_curve)."""
    from .plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection", "arguments": {"id": "synthetic"}},
            "fit": {
                "process_id": "fit_curve",
                "arguments": {
                    "data": {"from_node": "l"},
                    "parameters": [0, 0],
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
    p = ProcessGraph(graph).execute(spark)
    return p.df.select(
        BAND,
        Y,
        X,
        F.element_at("params", 1).alias("a0"),
        F.element_at("params", 2).alias("a1"),
    )


q("process_graph_fit_curve", _FIT_STATS_D)(_pg_fit_curve_linear)


_HARMONIC_FN_GRAPH = {
    # a0 + a1·cos(2πt/365.25) + a2·sin(2πt/365.25); `x` (the model time
    # parameter) is in DAYS since the cube's first sample — fit_curve's
    # time axis (operators/curve.py: fit_curve), vs the reference's raw
    # unix seconds (openeo_odc_driver.py:1542)
    "p0": {"process_id": "array_element",
           "arguments": {"data": {"from_parameter": "parameters"}, "index": 0}},
    "p1": {"process_id": "array_element",
           "arguments": {"data": {"from_parameter": "parameters"}, "index": 1}},
    "p2": {"process_id": "array_element",
           "arguments": {"data": {"from_parameter": "parameters"}, "index": 2}},
    "pi": {"process_id": "pi", "arguments": {}},
    "tau": {"process_id": "multiply",
            "arguments": {"x": 2, "y": {"from_node": "pi"}}},
    "w": {"process_id": "divide",
          "arguments": {"x": {"from_node": "tau"}, "y": 365.25}},
    "wt": {"process_id": "multiply",
           "arguments": {"x": {"from_node": "w"}, "y": {"from_parameter": "x"}}},
    "c": {"process_id": "cos", "arguments": {"x": {"from_node": "wt"}}},
    "s": {"process_id": "sin", "arguments": {"x": {"from_node": "wt"}}},
    "t1": {"process_id": "multiply",
           "arguments": {"x": {"from_node": "p1"}, "y": {"from_node": "c"}}},
    "t2": {"process_id": "multiply",
           "arguments": {"x": {"from_node": "p2"}, "y": {"from_node": "s"}}},
    "ht": {"process_id": "add",
           "arguments": {"x": {"from_node": "t1"}, "y": {"from_node": "t2"}}},
    "res": {"process_id": "add",
            "arguments": {"x": {"from_node": "p0"}, "y": {"from_node": "ht"}},
            "result": True},
}


@q("process_graph_predict_harmonic",
   values_oracle_sql("process_graph_predict_harmonic"))
def _pg_predict_harmonic(spark, sf_dir):
    """The reference's full phenology round trip as ONE process graph
    (VERDICT r5 item 6): load_collection → fit_curve(harmonic sub-graph)
    → predict_curve(same sub-graph, cube times). The planner compiles
    the sin/cos function graph to the ModelExpr AST twice (fit + predict
    share the compiler, plans/graph.py: _compile_model ≙ reference
    codegen :227-281), fits via tiled Gauss-Newton, and evaluates
    predictions per (pixel, time). Iterative fit ⇒ fixed-value oracle
    (one timestamp slice, rounded to 7 decimals)."""
    from .plans.graph import ProcessGraph

    graph = {
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "fit": {
                "process_id": "fit_curve",
                "arguments": {
                    "data": {"from_node": "l"},
                    "parameters": [0, 0, 0],
                    "function": {"process_graph": _HARMONIC_FN_GRAPH},
                },
            },
            "pred": {
                "process_id": "predict_curve",
                "arguments": {
                    "parameters": {"from_node": "fit"},
                    "data": {"from_node": "l"},
                    "function": {"process_graph": _HARMONIC_FN_GRAPH},
                },
                "result": True,
            },
        }
    }
    p = ProcessGraph(graph).execute(spark)
    t5 = p.df.select(F.min(TIME)).first()[0]
    return (
        p.df.where(F.col(TIME) == F.lit(t5))
        .select(BAND, Y, X, F.round(VALUE, 7).alias("pred"))
    )


_CENTS = "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)"


@q(
    "tpch_q5_local_supplier_volume",
    "SELECT n.n_name, "
    f"CAST(sum({_CENTS.replace('l_', 'l.l_')}) AS BIGINT) AS revenue_cents, "
    "CAST(count(*) AS BIGINT) AS n_lineitems "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "AND c.c_nationkey = s.s_nationkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'EUROPE' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n.n_name",
)
def _tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): the 6-way join — fact
    table lineitem joined through orders/customer and supplier/nation/
    region with the local-supplier condition c_nationkey = s_nationkey.
    Plan: every dimension side broadcasts (region/nation/supplier/
    customer are tiny vs lineitem), the date predicate pushes into the
    orders scan, and money sums use the round-to-cents BIGINT idiom so
    the aggregate is order-independent."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cents = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("bigint")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@q(
    "tpch_q14_promo_revenue",
    "SELECT "
    f"CAST(sum(CASE WHEN p.p_type = 'ECONOMY' THEN {_CENTS.replace('l_', 'l.l_')} "
    "ELSE 0 END) AS BIGINT) AS promo_cents, "
    f"CAST(sum({_CENTS.replace('l_', 'l.l_')}) AS BIGINT) AS total_cents, "
    "CAST(count(*) AS BIGINT) AS n_lineitems "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l.l_shipdate < TIMESTAMP '1996-02-01'",
)
def _tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion revenue share): one month of lineitem
    joined to the part dimension (broadcast), with the promo class
    aggregated conditionally. The shipdate band pushes into the
    lineitem scan; numerator and denominator ship as exact cents
    BIGINTs so the share can be computed engine-independently."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    cents = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "ECONOMY", cents).otherwise(F.lit(0))
            ).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@q(
    "orders_rollup",
    "SELECT coalesce(n.n_name, '__ALL__') AS nation, "
    "coalesce(CAST(year(o.o_orderdate) AS INT), -1) AS order_year, "
    "CAST(grouping(n.n_name) AS INT) AS g_nation, "
    "CAST(grouping(year(o.o_orderdate)) AS INT) AS g_year, "
    "CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) "
    "AS total_cents "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))",
)
def _orders_rollup(spark, sf_dir):
    """ROLLUP grouping sets — (nation, year) → nation subtotals → grand
    total in ONE aggregation pass (Spark expands grouping sets inside a
    single hash aggregate; no self-union of three queries). GROUPING()
    markers disambiguate real NULLs from subtotal rows, the standard
    cube-reporting contract. Dimensions broadcast; money as cents."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yr = F.year("o_orderdate")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).withColumn("_yr", yr)
    return (
        base.rollup(F.col("n_name"), F.col("_yr"))
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("_yr").cast("int").alias("g_year"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("__ALL__")).alias("nation"),
            F.coalesce(F.col("_yr"), F.lit(-1)).cast("int").alias("order_year"),
            "g_nation", "g_year", "n_orders", "total_cents",
        )
    )


@q(
    "events_user_type_pivot",
    "SELECT user_id, "
    "CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click, "
    "CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error, "
    "CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase, "
    "CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup, "
    "CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view "
    "FROM events GROUP BY user_id",
)
def _events_user_type_pivot(spark, sf_dir):
    """Long→wide pivot: per-user event-type counts, as ONE conditional
    aggregation (sum of CASEs — the FILTER-clause oracle's own shape,
    single user_id shuffle). The convenience ``DataFrame.pivot`` API was
    measured at TWO shuffles — it aggregates (user, type) first, then
    runs a second pivotfirst aggregate — so for a fixed value list the
    expression form is strictly better at scale; pivot-without-values
    additionally pays a distinct scan and a data-dependent schema."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return ev.groupBy("user_id").agg(
        *[
            F.sum((F.col("event_type") == t).cast("bigint")).alias(t)
            for t in types
        ]
    )


@q(
    "tpch_q6_forecast_revenue",
    "SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5) "
    "AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "CAST(count(*) AS BIGINT) AS n_lineitems FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount >= CAST('0.05' AS DOUBLE) "
    "AND l_discount <= CAST('0.07' AS DOUBLE) "
    "AND l_quantity < 24",
)
def _tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): the pure scan-
    aggregate — every predicate (date band, discount band, quantity
    cap) pushes into the parquet scan, the revenue product rounds to
    cents BIGINT map-side, and the exchange carries ONE partial row
    per task. The plan floor for any columnar engine; discount bounds
    go through string-cast doubles so both engines compare the same
    IEEE values (the plane-literal lesson)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= F.expr("CAST('0.05' AS DOUBLE)"))
        & (F.col("l_discount") <= F.expr("CAST('0.07' AS DOUBLE)"))
        & (F.col("l_quantity") < 24)
    )
    cents = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 100.0 + 0.5
    ).cast("bigint")
    return li.agg(
        F.sum(cents).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@q(
    "tpch_q3_shipping_priority",
    "SELECT l.l_orderkey, "
    "CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 "
    "+ 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, o.o_orderpriority "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    "AND o.o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l.l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority "
    "ORDER BY revenue_cents DESC, l.l_orderkey LIMIT 10",
)
def _tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): unshipped-order revenue for
    one market segment, top 10. Plan: the segment-filtered customer
    and date-filtered orders broadcast into the lineitem scan (both
    predicates push down), one aggregation on the composite key, then
    TakeOrderedAndProject for the global top-10 — per-partition heaps
    merged on the driver, never a full sort. Ties break on l_orderkey
    so the LIMIT edge is deterministic cross-engine (cents are exact
    BIGINTs, so equal revenues compare exactly)."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("bigint")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


@q(
    "tpch_q4_order_priority",
    "SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders "
    "FROM orders o WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1996-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) "
    "GROUP BY o.o_orderpriority",
)
def _tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): one quarter of orders
    kept iff SOME lineitem shipped more than 90 days after the order
    date (the fixture lacks commit/receipt dates, so the late-delivery
    EXISTS rewrites against shipdate), counted per priority class.
    Plan: a LEFT SEMI join — the correlated EXISTS becomes a semi-join
    whose condition references both sides (l_shipdate > o_orderdate +
    90d), so each matching order emits ONCE regardless of how many
    lineitems match; lineitem is pruned to two columns at the scan and
    the date band pushes into the orders scan. At 100 TB this is one
    key-partitioned shuffle on orderkey — the minimum for a
    fact-to-fact existence test."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@q(
    "tpch_q18_large_orders",
    "WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty "
    "FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) "
    "SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, "
    "CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents, "
    "b.total_qty "
    "FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "ORDER BY b.total_qty DESC, o.o_orderkey LIMIT 20",
)
def _tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large volume customers): orders whose total
    lineitem quantity exceeds the threshold, decorated with customer
    and order attributes, top 20. Plan: ONE aggregation over lineitem
    (map-side partials on the scan, shuffle on orderkey), the HAVING
    filter shrinks the result to a handful of keys, and that small
    survivor set BROADCASTS back into the orders/customer joins —
    the fact table shuffles once and the decoration is exchange-free.
    l_quantity is integer-valued, so its double sum is exact dyadic
    arithmetic (order-free) and casts losslessly to BIGINT; the top-20
    runs as TakeOrderedAndProject with an orderkey tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 250)
        .select("l_orderkey", F.col("_qty").cast("bigint").alias("total_qty"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    total_cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            total_cents.alias("total_cents"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@q(
    "tpch_q19_disjunctive_revenue",
    "SELECT CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 "
    "+ 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "CAST(count(*) AS BIGINT) AS n_lineitems "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5 "
    "AND l.l_quantity BETWEEN 1 AND 11) "
    "OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 "
    "AND l.l_quantity BETWEEN 10 AND 20) "
    "OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 "
    "AND l.l_quantity BETWEEN 20 AND 30)",
)
def _tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    revenue over an OR-of-ANDs mixing part-side (brand, size) and
    lineitem-side (quantity) conditions. Plan: the part-only residue of
    the disjunction — (brand12 ∧ size≤5) ∨ (brand23 ∧ size≤10) ∨
    (brand3 ∧ size≤15) — is applied BEFORE the join, shrinking the
    broadcast dimension to the union of qualifying parts and pushing
    into the part scan (the classic Q19 rewrite: Catalyst does not
    factor disjunctions across join sides on its own); the full
    three-branch predicate then filters the joined rows. Revenue uses
    the exact round-to-cents BIGINT idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    branches = [
        ("Brand#12", 5, 1, 11),
        ("Brand#23", 10, 10, 20),
        ("Brand#3", 15, 20, 30),
    ]
    part_side = None
    for brand, max_size, _, _ in branches:
        cond = (F.col("p_brand") == brand) & F.col("p_size").between(1, max_size)
        part_side = cond if part_side is None else (part_side | cond)
    p = load_table(spark, sf_dir, "part").where(part_side)
    full = None
    for brand, max_size, qlo, qhi in branches:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )
        full = cond if full is None else (full | cond)
    cents = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(full)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@q(
    "tpch_q22_idle_customers",
    "WITH bal AS (SELECT CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) "
    "AS BIGINT) AS sum_cents, CAST(count(*) AS BIGINT) AS n "
    "FROM customer WHERE c_acctbal > 0.0), "
    "idle AS (SELECT c.c_mktsegment, "
    "CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents "
    "FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o "
    "WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1998-01-01')) "
    "SELECT i.c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers, "
    "CAST(sum(i.bal_cents) AS BIGINT) AS total_cents "
    "FROM idle i, bal b WHERE i.bal_cents * b.n > b.sum_cents "
    "GROUP BY i.c_mktsegment",
)
def _tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and NO orders in 1997, censused per
    market segment (the fixture's stand-in for the phone country
    code). Plan: the NOT EXISTS becomes a LEFT ANTI join against the
    date-filtered orders keys (one key shuffle); the global average is
    a 1-row aggregate broadcast back as a cross join, and the
    above-average test cross-multiplies in integer cents
    (bal_cents · n > sum_cents) so no float division ever happens —
    the threshold decision is engine-exact at every balance."""
    c = load_table(spark, sf_dir, "customer")
    bal_cents = F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("bigint")
    bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(bal_cents).alias("sum_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    o97 = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    idle = c.join(o97, c.c_custkey == o97.o_custkey, "left_anti")
    return (
        idle.select("c_mktsegment", bal_cents.alias("bal_cents"))
        .crossJoin(F.broadcast(bal))
        .where(F.col("bal_cents") * F.col("n") > F.col("sum_cents"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_cents").alias("total_cents"),
        )
    )
