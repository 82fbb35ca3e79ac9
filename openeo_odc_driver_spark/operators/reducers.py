"""Dimension reducers: groupBy-aggregations over one cube dimension.

openEO splits "which dimension" (`reduce_dimension`,
``openeo_odc_driver.py:620-622``) from "which function" (child node:
max/min/mean/median/sd/sum/product, ``openeo_odc_driver.py:710-850``).
In long format a reducer is exactly ``groupBy(<dims minus reduced>)
.agg(fn(value))`` — a single shuffle with map-side partial aggregation.

Numeric parity decisions (verified bit-exact vs DuckDB,
scratch/parity_probe.py):

- ``mean``: built-in avg (sum/count in both engines) — exact.
- ``median`` / ``quantiles``: **exact** ``percentile`` (linear
  interpolation), not approx — matches DuckDB ``quantile_cont``.
- ``sd`` / ``variance``: Spark's builtin stddev uses a streaming moment
  update whose rounding differs from DuckDB; we compute from exact sums:
  ``sqrt((Σx² − (Σx)²/n)/(n−1))`` — bit-identical both sides. The
  reference's xarray ``.std()`` is ddof=0 (population); openEO `sd`
  specifies sample stddev — we follow openEO (ddof=1) and expose
  ``variance`` the same way.
- ``product``: fold over collect_list (no builtin product agg); exact for
  dyadic fixtures, order-independent there.

Scale: one shuffle on the remaining grid keys; partial aggregation
(`partial_`, visible in .explain) halves shuffle volume; AQE coalesces
output partitions. Reducing `time` on a (time,tile)-partitioned layout
shuffles once on (band,y,x) — unavoidable and optimal.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..core.cube import VALUE, Cube, canonical_dim


def sd_expr(col: str = VALUE) -> Column:
    """Sample stddev from exact sums (bit-parity with DuckDB stddev_samp).

    The Σx² − (Σx)²/n bracket is clamped at 0: catastrophic cancellation
    on large-offset low-variance data can push it slightly negative,
    which would make sd sqrt(negative) = NaN where the true sd is ~0.
    The clamp is applied identically in the tiled folds and the DuckDB
    oracle twins (_SD_D/_VAR_D) so the cross-tier parity pins hold
    (ADVICE r10)."""
    n = F.count(col)
    s = F.sum(col)
    ss = F.sum(F.col(col) * F.col(col))
    return F.when(
        n > 1, F.sqrt(F.greatest(F.lit(0.0), ss - s * s / n) / (n - F.lit(1)))
    )


def variance_expr(col: str = VALUE) -> Column:
    n = F.count(col)
    s = F.sum(col)
    ss = F.sum(F.col(col) * F.col(col))
    return F.when(
        n > 1, F.greatest(F.lit(0.0), ss - s * s / n) / (n - F.lit(1))
    )


def product_expr(col: str = VALUE) -> Column:
    """Product aggregate via fold over the **sorted** value list; skips
    NULLs. Sorting makes the fold order deterministic — collect_list order
    follows partition order, which would make long products (whose rounding
    is order-sensitive for non-dyadic inputs) unstable across runs."""
    return F.expr(
        f"aggregate(array_sort(collect_list({col})), CAST(1.0 AS DOUBLE), (a, v) -> a * v)"
    )


def median_expr(col: str = VALUE) -> Column:
    return F.expr(f"percentile({col}, 0.5D)")


REDUCERS = {
    "max": lambda: F.max(VALUE),
    "min": lambda: F.min(VALUE),
    "mean": lambda: F.avg(VALUE),
    "sum": lambda: F.sum(VALUE),
    "median": median_expr,
    "sd": sd_expr,
    "variance": variance_expr,
    "product": product_expr,
    "count": lambda: F.count(VALUE),
}


def reduce_dimension(cube: Cube, dimension: str, reducer: str) -> Cube:
    """`reduce_dimension` with a named child reducer.

    Unknown dimension → identity with a warning, mirroring
    ``openeo_odc_driver.py:734-736``.
    """
    dim = canonical_dim(dimension)
    if dim not in cube.schema.dims:
        return cube  # reference logs and passes through
    if reducer not in REDUCERS:
        raise ValueError(f"unknown reducer {reducer!r}")
    group = cube.group_dims_excluding(dim)
    out = cube.df.groupBy(*group).agg(REDUCERS[reducer]().alias(VALUE))
    return Cube(out, cube.schema.drop(dim) if dim != "band" else cube.schema.drop(dim).with_bands(()))


def quantile_values(qs: str, probs: Sequence[float]) -> Column:
    """The ``percentile(value, array(probs))`` column ``qs`` with an
    all-NULL group's NULL answer widened to one NULL per probability, so
    the explode emits NULL cells for it (as numpy ``nanpercentile`` on
    tiles and the DuckDB ``quantile_cont`` oracle do) instead of no
    rows."""
    return F.coalesce(
        F.col(qs), F.array_repeat(F.lit(None).cast("double"), len(probs))
    )


def quantiles(
    cube: Cube,
    dimension: str,
    probabilities: Sequence[float] | None = None,
    q: int | None = None,
) -> Cube:
    """`quantiles` (openeo_odc_driver.py:852-904): exact percentiles over a
    dimension; `q` gives q-1 equally spaced probabilities; both set or both
    missing is an error (``openeo_odc_driver.py:881-884``). Output keeps a
    `prob` column in place of the reduced dimension.
    """
    if (probabilities is None) == (q is None):
        raise ValueError("exactly one of probabilities/q required")
    if q is not None:
        probabilities = [i / q for i in range(1, q)]
    probs = list(probabilities)
    dim = canonical_dim(dimension)
    group = cube.group_dims_excluding(dim)
    arr = ", ".join(f"{p!r}D" for p in probs)
    agg = F.expr(f"percentile({VALUE}, array({arr}))").alias("_qs")
    out = (
        cube.df.groupBy(*group)
        .agg(agg)
        .select(
            *group,
            F.posexplode(quantile_values("_qs", probs)).alias("_i", VALUE),
        )
        .withColumn("prob", F.element_at(F.lit(probs), F.col("_i") + 1))
        .drop("_i")
    )
    return Cube(out, cube.schema.drop(dim))
