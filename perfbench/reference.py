"""Engine-independent references for every artifact the workloads write.

GTIFF results are checked against numpy evaluations of the CubeSpec
formula, without Spark.
"""

from __future__ import annotations

import filecmp
import os

import numpy as np

from openeo_odc_driver_spark.sinks.gtiff_tiled import decode_tiff
from openeo_odc_driver_spark.sources.synthetic import CubeSpec

from .workloads import SCENE_SPEC, Request


def cube_array(spec: CubeSpec) -> np.ndarray:
    """The spec's cube as ``[band, time, y, x]`` float64, NaN where the
    formula yields NULL (sources/synthetic.py ``_value_sql``)."""
    b, t, y, x = np.ix_(np.arange(len(spec.bands)), np.arange(spec.n_times),
                        np.arange(spec.ny), np.arange(spec.nx))
    k = (b * spec.va + t * spec.vb + y * spec.vc + x * spec.vd) % spec.vm
    val = k.astype("float64") / 8.0 - spec.vs
    null = (b * spec.na + t * spec.nb + y * spec.nc + x * spec.nd) % spec.nm == 0
    return np.where(null, np.nan, val)


def ndvi(spec: CubeSpec) -> np.ndarray:
    """(B08 - B04) / (B08 + B04) per [time, y, x]; NULL inputs and a
    zero denominator give NaN (nodata)."""
    c = cube_array(spec)
    nir, red = c[spec.bands.index("B08")], c[spec.bands.index("B04")]
    tot = nir + red
    with np.errstate(all="ignore"):
        return np.where(tot == 0.0, np.nan, (nir - red) / tot)


def median_t(a: np.ndarray) -> np.ndarray:
    """NaN-skipping median over axis 0. An even count takes the mean of
    the two middle values, (lo + hi) / 2, which is what a 0.5 percentile
    interpolation rounds to."""
    s = np.sort(a, axis=0)  # NaN sorts last
    n = (~np.isnan(a)).sum(axis=0)
    lo = np.clip((n - 1) // 2, 0, None)
    hi = np.clip(n // 2, 0, None)
    vlo = np.take_along_axis(s, lo[None], axis=0)[0]
    vhi = np.take_along_axis(s, hi[None], axis=0)[0]
    out = np.where(lo == hi, vlo, (vlo + vhi) / 2.0)
    return np.where(n == 0, np.nan, out)


class References:
    """Expected results per request; the scene's NDVI is computed once
    per run, so each check is a slice."""

    def __init__(self):
        self._ndvi = None

    def expected_planes(self, req: Request) -> np.ndarray:
        """GTIFF planes ``[plane, y, x]`` a request must produce."""
        if self._ndvi is None:
            self._ndvi = ndvi(SCENE_SPEC)
        p = req.params
        v = self._ndvi[p["start"]:p["start"] + p["months"]]
        if req.kind == "reduce":
            return median_t(v)[None]
        return v * p["mult"]

    def check(self, req: Request, path: str | None) -> str | None:
        if not path or not os.path.isfile(path):
            return f"no artifact at {path!r}"
        arr, _ = decode_tiff(path)
        want = self.expected_planes(req).astype("float32")
        if arr.shape != want.shape:
            return f"shape {arr.shape} != expected {want.shape}"
        nan_a, nan_w = np.isnan(arr), np.isnan(want)
        bad = (nan_a != nan_w) | (~nan_a & ~nan_w & (arr != want))
        if bad.any():
            return f"{int(bad.sum())} of {bad.size} pixels differ"
        return None


def same_artifact(a: str, b: str) -> bool:
    """Byte-identical files."""
    return (os.path.isfile(a) and os.path.isfile(b)
            and filecmp.cmp(a, b, shallow=False))


def decoded_bits(path: str) -> tuple:
    """(pixel bit pattern, georeference) of a GTIFF, for comparing two
    tiers' artifacts bit for bit regardless of strip or tile layout."""
    arr, meta = decode_tiff(path)
    return (arr.shape, arr.view("uint32").tobytes(),
            meta["pixel_scale"], meta["tiepoint"], meta["geo_keys"])
