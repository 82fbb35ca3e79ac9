"""HTTP service layer ≙ the reference's Flask backend
(`odc_backend.py:43-161`): POST /graph executes a process graph with an
md5 whole-query result cache, a job registry with cancellation, and STAC
collection metadata endpoints.

Execution maps to Spark idioms:

- result cache: md5(stringified graph) → artifact path (CSV-backed like
  the reference's jobs_cache.csv, odc_backend.py:62-85); hit ⇒ the
  artifact is copied to the new job folder and execution is skipped.
- job registry + DELETE /stop_job: the reference kills the worker PID
  (odc_backend.py:105-120); one SparkSession serves all jobs here, so a
  job runs under a Spark job group and cancellation is
  ``cancelJobGroup`` — the executor-side tasks abort, the session
  survives.
- GET /collections[/id]: STAC-shaped metadata (cube:dimensions with
  temporal/x/y/bands extents, odc_backend.py:244-305) derived from the
  fixture catalog.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import re
import shutil
import threading
from typing import Optional

from pyspark.sql import SparkSession

from .plans.catalog import COLLECTION_SPECS
from .plans.graph import ProcessGraph


def _graph_md5(payload: dict, tiled: bool = False, tile: int = 8) -> str:
    """Cache key: the process graph plus the execution mode — a tiled
    run and a long run of the same graph are separate cache entries
    (their telemetry differs, and the artifact equivalence is an oracle
    property, not a cache assumption).

    Long-mode keys keep the ORIGINAL bare-graph serialization so cache
    rows written before the tiled mode existed still hit (round 13 —
    the r12 ``{"g": graph}`` wrapper silently invalidated every
    pre-existing row); only tiled runs use the wrapped shape, which by
    construction can never collide with a bare-graph hash."""
    graph = payload.get("process_graph", payload)
    body = {"g": graph, "mode": ["tiled", tile]} if tiled else graph
    return hashlib.md5(
        json.dumps(body, sort_keys=True).encode()
    ).hexdigest()


class JobStore:
    """CSV-backed cache + registry (mirrors jobs_cache.csv / jobs_log.csv)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.cache_csv = os.path.join(root, "jobs_cache.csv")
        self.log_csv = os.path.join(root, "jobs_log.csv")
        self._lock = threading.Lock()

    def cache_lookup(self, md5: str):
        """(artifact_path, execution_meta dict) or None. Rows written
        before the telemetry column exist with two fields — they read
        back with empty meta."""
        if not os.path.exists(self.cache_csv):
            return None
        with open(self.cache_csv) as f:
            for row in csv.reader(f):
                if row and row[0] == md5 and os.path.exists(row[1]):
                    meta = json.loads(row[2]) if len(row) > 2 and row[2] else {}
                    return row[1], meta
        return None

    def cache_put(self, md5: str, artifact: str, meta: dict | None = None) -> None:
        with self._lock, open(self.cache_csv, "a", newline="") as f:
            csv.writer(f).writerow(
                [md5, artifact, json.dumps(meta) if meta else ""]
            )

    def log_job(self, job_id: str, group: str) -> None:
        with self._lock, open(self.log_csv, "a", newline="") as f:
            csv.writer(f).writerow([job_id, group])

    def group_for(self, job_id: str) -> Optional[str]:
        if not os.path.exists(self.log_csv):
            return None
        with open(self.log_csv) as f:
            for row in csv.reader(f):
                if row and row[0] == job_id:
                    return row[1]
        return None


def _tiled_store_stac(cid: str, store_dir: Optional[str]) -> Optional[dict]:
    """The save_tiled store block for a collection, if one exists under
    ``store_dir``: tile edge, tile-grid dims, scene pixels, and the
    physical partitioning — everything a client needs to address the
    storage-first path (VERDICT r10 item 8). Derived from the store's
    own ``_tiled_meta.json`` sidecar + directory layout, never from the
    catalog, so it reflects what is actually on disk."""
    if not store_dir:
        return None
    path = os.path.join(store_dir, cid)
    meta_path = os.path.join(path, "_tiled_meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as fh:
        meta = json.load(fh)
    tile, n_y, n_x = meta["tile"], meta["n_y"], meta["n_x"]
    partitioning = sorted(
        {d.split("=")[0] for d in os.listdir(path)
         if "=" in d and os.path.isdir(os.path.join(path, d))}
    )
    return {
        "path": path,
        "tile": tile,
        "tile_grid": [-(-n_y // tile), -(-n_x // tile)],
        "scene_pixels": [n_y, n_x],
        "partitioning": partitioning,
        "bands": meta.get("bands", []),
        "grid": meta.get("grid"),
        # COG-style reduced-resolution levels (round 15): clients (and
        # the planner's resample pushdown) can see which coarse factors
        # the store can serve without a full-res scan
        "overviews": meta.get("overviews", []),
    }


def collection_stac(cid: str, store_dir: Optional[str] = None) -> dict:
    """STAC item with cube:dimensions (≙ odc_backend.py:244-305); when
    the collection has a save_tiled store, an ``openeo_odc:tiled_store``
    block exposes its layout so clients can address the storage-first
    execution path."""
    spec = COLLECTION_SPECS[cid]
    x_min = spec.x0
    x_max = spec.x0 + spec.resx * (spec.nx - 1)
    y_max = spec.y0
    y_min = spec.y0 - spec.resy * (spec.ny - 1)
    store = _tiled_store_stac(cid, store_dir)
    return {
        **({"openeo_odc:tiled_store": store} if store else {}),
        "stac_version": "1.0.0",
        "id": cid,
        "description": f"synthetic fixture collection {cid}",
        "license": "CC0-1.0",
        "extent": {
            "spatial": {"bbox": [[x_min, y_min, x_max, y_max]]},
            "temporal": {"interval": [[spec.t0, None]]},
        },
        "cube:dimensions": {
            "t": {"type": "temporal", "extent": [spec.t0, None],
                  "step": spec.time_unit.lower()},
            "x": {"type": "spatial", "axis": "x", "extent": [x_min, x_max],
                  "step": spec.resx},
            "y": {"type": "spatial", "axis": "y", "extent": [y_min, y_max],
                  "step": spec.resy},
            "bands": {"type": "bands", "values": list(spec.bands)},
        },
        "links": [],
    }


_JOB_ID = re.compile(r"[A-Za-z0-9_-]{1,64}")


def create_app(spark: SparkSession, work_dir: str = "/tmp/spark_graft_service",
               sf_dir: Optional[str] = None,
               tiled_store_dir: str = "/tmp/spark_graft_tiled_store"):
    from flask import Flask, jsonify, request

    app = Flask("openeo_odc_driver_spark")
    store = JobStore(work_dir)

    def bad_request(job_id, message: str):
        return jsonify({"id": job_id, "code": "InvalidRequest",
                        "message": message}), 400

    @app.post("/graph")
    def run_graph():
        payload = request.get_json(force=True)
        job_id = payload.get("id") or hashlib.md5(
            os.urandom(16)
        ).hexdigest()[:12]
        # the id names the job directory: reject anything that could
        # leave work_dir ("../x", "/tmp/x") before touching the disk
        if not isinstance(job_id, str) or not _JOB_ID.fullmatch(job_id):
            return bad_request(
                job_id, f"id must match {_JOB_ID.pattern}, got {job_id!r}"
            )
        # execution-mode knobs ride the payload next to the graph
        # (this service's own shape — the reference has no tiled tier)
        tiled = bool(payload.get("tiled"))
        tile = payload.get("tile", 8)
        # a JSON integer only: no float truncation (2.9 -> 2), no
        # booleans (true -> 1), no Infinity/NaN literals
        if not isinstance(tile, int) or isinstance(tile, bool) or tile < 1:
            return bad_request(
                job_id, f"tile must be an integer >= 1, got {tile!r}"
            )
        md5 = _graph_md5(payload, tiled=tiled, tile=tile)
        job_dir = os.path.join(store.root, "jobs", job_id)
        os.makedirs(job_dir, exist_ok=True)

        cached = store.cache_lookup(md5)
        if cached:  # cache hit: copy artifact, skip execution (:62-85)
            path, meta = cached
            dest = os.path.join(job_dir, os.path.basename(path))
            if os.path.isdir(path):
                shutil.copytree(path, dest, dirs_exist_ok=True)
            else:
                shutil.copy(path, dest)
            return jsonify({"job_id": job_id, "output": dest,
                            "cached": True, **meta})

        group = f"openeo-{job_id}"
        store.log_job(job_id, group)
        spark.sparkContext.setJobGroup(group, f"process graph {job_id}",
                                       interruptOnCancel=True)
        try:
            pg = ProcessGraph(payload, sf_dir=sf_dir, save_dir=job_dir,
                              tiled=tiled, tile=tile,
                              tiled_store_dir=tiled_store_dir
                              if tiled else None)
            pg.execute(spark)
        except Exception as e:  # openEO error shape
            return jsonify({"id": job_id, "code": type(e).__name__,
                            "message": str(e)}), 400
        finally:
            spark.sparkContext.setJobGroup("", "")
        # demotion telemetry (VERDICT r11 item 6): which process ids
        # fell back to the long tier — the observability the reference's
        # per-node logs give for free (openeo_odc_driver.py:117), as a
        # response block a client can assert on; cached replays of the
        # same (graph, mode) return the same block
        meta = {"tiled": {"tile": tile,
                          "demotions": list(pg.tiled_demotions)}
                } if tiled else {}
        artifact = os.path.join(job_dir, pg.result_node)
        for ext in ("", ".tif", ".npy", ".json", ".png"):
            if os.path.exists(artifact + ext):
                artifact = artifact + ext
                break
        if not os.path.exists(artifact):
            # graph had no save_result terminal: nothing was written —
            # don't record a phantom path in the cache (ADVICE r2)
            return jsonify({"job_id": job_id, "output": None,
                            "cached": False, **meta})
        store.cache_put(md5, artifact, meta)
        return jsonify({"job_id": job_id, "output": artifact,
                        "cached": False, **meta})

    @app.delete("/stop_job")
    def stop_job():
        payload = request.get_json(force=True)
        group = store.group_for(payload.get("id", ""))
        if group is None:
            return jsonify({"code": "JobNotFound"}), 404
        spark.sparkContext.cancelJobGroup(group)
        return jsonify({"stopped": payload["id"]})

    @app.get("/processes")
    def processes():
        """openEO discovery: the process ids the planner executes — the
        node processes of its process table (``plans.graph.PROCESSES``)
        and the processes its expression compiler and reducers accept
        inside child graphs."""
        from .plans.graph import _BINARY, _UNARY, PROCESSES
        from .operators.reducers import REDUCERS

        expr_ops = sorted(
            set(_BINARY) | set(_UNARY)
            | {"array_element", "pi", "clip", "linear_scale_range", "if",
               "quantiles"}
            | set(REDUCERS)
        )
        return jsonify(
            {
                "processes": [
                    {"id": p, "categories": ["cubes"]}
                    for p in sorted(PROCESSES)
                ]
                + [{"id": p, "categories": ["math"]} for p in expr_ops],
                "links": [],
            }
        )

    @app.get("/registry")
    def registry():
        """Engine introspection beyond the openEO surface: every
        registered gate query, whether it carries a DuckDB oracle, and
        its status merged across ALL driver correctness reports found
        next to the package (CORRECTNESS_r*.json) — the live view of
        'which operators are verified, and how'.

        The driver's per-round report is a rotating ~50-query window, so
        a single report never covers the whole registry: for each query
        we take its row from the MOST RECENT round that sampled it and
        report that round as provenance."""
        import glob as _glob
        import json as _json
        import os as _os
        import re as _re

        from .registry import ORACLE, QUERIES

        repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        reports = sorted(_glob.glob(_os.path.join(repo_root, "CORRECTNESS_r*.json")))
        latest: dict = {}
        round_of: dict = {}
        for path in reports:  # ascending round order; later rounds win
            m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            rnd = int(m.group(1)) if m else -1
            with open(path) as fh:
                for name, row in _json.load(fh).items():
                    latest[name] = row
                    round_of[name] = rnd
        entries = []
        for name in QUERIES:
            row = latest.get(name)
            if row is None:
                status = "unchecked"
            elif row.get("err"):
                status = f"error: {row['err']}"
            elif row.get("hash_match"):
                status = "verified"
            else:
                status = "mismatch"
            entries.append(
                {
                    "id": name,
                    "oracle": name in ORACLE,
                    "status": status,
                    "round": round_of.get(name),
                }
            )
        return jsonify(
            {
                "queries": entries,
                "report": _os.path.basename(reports[-1]) if reports else None,
                "reports_merged": [_os.path.basename(p) for p in reports],
                "n_verified": sum(e["status"] == "verified" for e in entries),
                "n_total": len(entries),
            }
        )

    @app.get("/collections")
    def collections():
        return jsonify(
            {"collections": [collection_stac(c, tiled_store_dir)
                             for c in COLLECTION_SPECS],
             "links": []}
        )

    @app.get("/collections/<cid>")
    def collection(cid: str):
        if cid not in COLLECTION_SPECS:
            return jsonify({"code": "CollectionNotFound"}), 404
        return jsonify(collection_stac(cid, tiled_store_dir))

    return app


def main() -> None:  # pragma: no cover
    from .session import get_spark

    app = create_app(get_spark("openeo-service"))
    app.run(host="127.0.0.1", port=int(os.environ.get("PORT", "8085")))


if __name__ == "__main__":  # pragma: no cover
    main()
