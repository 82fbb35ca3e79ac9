"""Service layer: POST /graph with md5 cache, STAC metadata, job cancel."""

import json
import os

import pytest


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from openeo_odc_driver_spark.service import create_app

    app = create_app(spark, work_dir=str(tmp_path_factory.mktemp("svc")))
    app.config["TESTING"] = True
    return app.test_client()


HERE = os.path.dirname(os.path.abspath(__file__))


def _graph():
    with open(f"{HERE}/process_graphs/ndvi_median.json") as f:
        return json.load(f)


def test_post_graph_executes_and_caches(client):
    r1 = client.post("/graph", json=_graph())
    assert r1.status_code == 200
    body1 = r1.get_json()
    assert body1["cached"] is False
    assert os.path.exists(body1["output"])

    # identical graph → md5 cache hit, no re-execution (odc_backend.py:62-85)
    r2 = client.post("/graph", json=_graph())
    body2 = r2.get_json()
    assert body2["cached"] is True
    assert body2["job_id"] != body1["job_id"]
    assert os.path.exists(body2["output"])


def test_post_bad_graph_returns_openeo_error(client):
    r = client.post("/graph", json={"process_graph": {
        "z": {"process_id": "warp_drive", "arguments": {}, "result": True}}})
    assert r.status_code == 400
    assert r.get_json()["code"] == "NotImplementedError"


@pytest.mark.parametrize("bad", [
    {"id": "../escaped"},
    {"id": "/tmp/openeo-escaped-abs"},
    {"id": "a" * 65},
    {"id": 7},
    {"tile": "abc"},
    {"tile": None},
    {"tile": 0},
    {"tile": float("inf")},
    {"tile": 2.5},
    {"tile": True},
])
def test_post_bad_id_or_tile_returns_openeo_400(spark, tmp_path, bad):
    """A client id names the job directory and tile sizes the pack: both
    are checked before anything touches the disk, and a bad value is a
    400 in the openEO error shape, never a 500 or a write outside
    work_dir."""
    from openeo_odc_driver_spark.service import create_app

    work = tmp_path / "svc"
    app = create_app(spark, work_dir=str(work))
    app.config["TESTING"] = True
    r = app.test_client().post("/graph", json={**_graph(), **bad})
    assert r.status_code == 400
    body = r.get_json()
    assert set(body) == {"id", "code", "message"}
    assert body["code"] == "InvalidRequest"
    assert not (work / "escaped").exists()
    assert not os.path.exists("/tmp/openeo-escaped-abs")
    assert not (work / "jobs").exists()


def test_collections_stac_shape(client):
    r = client.get("/collections")
    cols = {c["id"]: c for c in r.get_json()["collections"]}
    assert "s2_l2a" in cols
    dims = cols["s2_l2a"]["cube:dimensions"]
    assert dims["bands"]["values"] == ["B04", "B08"]
    assert dims["x"]["step"] == 0.0078125

    r404 = client.get("/collections/nope")
    assert r404.status_code == 404


def test_processes_discovery(client):
    r = client.get("/processes")
    ids = {p["id"] for p in r.get_json()["processes"]}
    assert {"load_collection", "reduce_dimension", "median", "mod",
            "resample_spatial"} <= ids
    # the node processes are exactly the planner's process table
    from openeo_odc_driver_spark.plans.graph import PROCESSES

    cubes = {p["id"] for p in r.get_json()["processes"]
             if p["categories"] == ["cubes"]}
    assert cubes == set(PROCESSES)


def test_stop_unknown_job_404(client):
    r = client.delete("/stop_job", json={"id": "ghost"})
    assert r.status_code == 404


def test_registry_endpoint_reports_verification_status(client):
    r = client.get("/registry")
    assert r.status_code == 200
    body = r.get_json()
    assert body["n_total"] >= 150
    ids = {e["id"] for e in body["queries"]}
    assert {"tpch_q1", "fit_curve_harmonic", "paragraph_dedup"} <= ids
    # every query carries an oracle since round 5
    assert all(e["oracle"] for e in body["queries"])
    # Reports merge across rounds: the driver's per-round report is a
    # rotating ~50-query window, so a query green in an OLDER round must
    # stay "verified" even when absent from the newest report
    # (CORRECTNESS_r06 does not sample tpch_q1; r05 does).
    by_id = {e["id"]: e for e in body["queries"]}
    assert by_id["tpch_q1"]["status"] == "verified"
    # per-query round provenance is reported
    assert isinstance(by_id["tpch_q1"]["round"], int)
    for e in body["queries"]:
        if e["status"] == "verified":
            assert e["round"] is not None
    # with all shipped reports merged, the only "unchecked" queries are
    # ones genuinely absent from every shipped report (i.e. registered
    # after the newest report was written) — compute that set from the
    # same files rather than hardcoding a count
    import glob as _glob
    import json as _json
    import os as _os

    here = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    sampled = set()
    for p in _glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")):
        with open(p) as fh:
            sampled |= set(_json.load(fh))
    unchecked = {e["id"] for e in body["queries"] if e["status"] == "unchecked"}
    assert unchecked == ids - sampled
    # and every query any round DID sample is verified (no mismatches)
    verified = {e["id"] for e in body["queries"] if e["status"] == "verified"}
    assert verified == ids & sampled
    assert len(body["reports_merged"]) >= 2


def test_concurrent_jobs_cancel_one_other_completes(client):
    """Two graphs in flight on ONE session: /stop_job cancels the slow
    one mid-execution (cancelJobGroup, interruptOnCancel), the other
    completes, and the session stays usable — the repo's answer to the
    reference's process-per-job gunicorn isolation (gunicorn.conf.py).

    Threading note: Spark job groups are JVM-thread-local;
    pyspark.InheritableThread pins each request's Python thread to its
    own JVM thread so the two setJobGroup calls cannot clobber each
    other — the same mechanism a real multi-threaded driver must use.
    """
    import time

    from pyspark import InheritableThread

    sentinel = "/tmp/spark_graft_slow_started"
    if os.path.exists(sentinel):
        os.remove(sentinel)
    slow_udf = (
        "import pathlib, time\n"
        "def apply_datacube(df, context):\n"
        f"    pathlib.Path({sentinel!r}).touch()\n"
        "    time.sleep(20)\n"
        "    return df\n"
    )
    slow_graph = {
        "id": "slowjob",
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "u": {"process_id": "run_udf",
                  "arguments": {"data": {"from_node": "l"},
                                "udf": slow_udf, "runtime": "Python"}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "u"},
                                "format": "PARQUET"},
                  "result": True},
        },
    }
    fast_graph = {
        "id": "fastjob",
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "r": {"process_id": "reduce_dimension",
                  "arguments": {"data": {"from_node": "l"},
                                "dimension": "t",
                                "reducer": {"process_graph": {"m": {
                                    "process_id": "mean",
                                    "arguments": {"data": {
                                        "from_parameter": "data"}},
                                    "result": True}}}}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "r"},
                                "format": "PARQUET"},
                  "result": True},
        },
    }

    results = {}

    def post(name, graph):
        results[name] = client.post("/graph", json=graph)

    t_slow = InheritableThread(target=post, args=("slow", slow_graph))
    t_slow.start()
    # cancelJobGroup only cancels ACTIVE jobs -- wait until the slow
    # job's tasks are demonstrably running (UDF touches a sentinel)
    deadline = time.time() + 30
    while not os.path.exists(sentinel) and time.time() < deadline:
        time.sleep(0.1)
    assert os.path.exists(sentinel), "slow job never started tasks"
    t_fast = InheritableThread(target=post, args=("fast", fast_graph))
    t_fast.start()

    r_stop = client.delete("/stop_job", json={"id": "slowjob"})
    assert r_stop.status_code == 200
    assert r_stop.get_json() == {"stopped": "slowjob"}

    t_slow.join(timeout=15)
    t_fast.join(timeout=60)
    assert not t_slow.is_alive(), "cancelled job did not return"
    assert not t_fast.is_alive(), "concurrent job did not complete"

    # cancelled job surfaces as an openEO error shape, not a hang
    assert results["slow"].status_code == 400
    assert results["slow"].get_json()["id"] == "slowjob"
    # the untouched job completed normally on the same session
    assert results["fast"].status_code == 200
    assert results["fast"].get_json()["job_id"] == "fastjob"

    # session still healthy after the cancel: a re-post succeeds (md5
    # cache hit is fine -- the point is the service keeps serving; fresh
    # auto id so the cached artifact copies into a NEW job dir)
    again = {k: v for k, v in fast_graph.items() if k != "id"}
    r_again = client.post("/graph", json=again)
    assert r_again.status_code == 200


def test_collection_exposes_tiled_store_block(spark, tmp_path):
    """/collections/<id> carries the save_tiled store layout (tile edge,
    tile grid, scene pixels, band partitioning) when a store exists —
    and omits the block when none does (VERDICT r10 item 8)."""
    from openeo_odc_driver_spark.registry import _build_tiled_store
    from openeo_odc_driver_spark.service import create_app

    store_root = _build_tiled_store(spark, "synthetic")
    app = create_app(spark, work_dir=str(tmp_path),
                     tiled_store_dir=store_root)
    app.config["TESTING"] = True
    c = app.test_client()

    body = c.get("/collections/synthetic").get_json()
    block = body["openeo_odc:tiled_store"]
    assert block["tile"] == 8
    assert block["scene_pixels"] == [16, 16]
    assert block["tile_grid"] == [2, 2]
    assert block["partitioning"] == ["band"]
    assert set(block["bands"]) == {"B04", "B08", "SCL"}
    assert block["grid"]["resx"] == 10.0
    # overview levels surface from the sidecar (round 15); the shared
    # store may already carry levels from the tiled_store_overview gate
    # row, so assert the endpoint mirrors the sidecar after an ensure
    import json as _json

    from openeo_odc_driver_spark.core.tiled import ensure_overviews

    levels = ensure_overviews(spark, f"{store_root}/synthetic", (2,))
    assert 2 in levels
    block = c.get("/collections/synthetic").get_json()[
        "openeo_odc:tiled_store"]
    assert block["overviews"] == levels
    side = _json.load(open(f"{store_root}/synthetic/_tiled_meta.json"))
    assert side["overviews"] == levels

    # a collection without a store omits the block
    body2 = c.get("/collections/synthetic_coarse").get_json()
    assert "openeo_odc:tiled_store" not in body2


def _fit_curve_graph():
    """A graph whose fit_curve node has no tiled branch — the stable
    demotion example (per-pixel params cube; by-design long)."""
    return {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
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
    }}


def test_tiled_post_reports_demotions(client):
    """VERDICT r11 item 6: a tiled-mode POST exposes which process ids
    fell back to the long tier — and the cached replay of the same
    (graph, mode) carries the same telemetry block."""
    payload = {**_fit_curve_graph(), "tiled": True, "tile": 8}
    r1 = client.post("/graph", json=payload)
    assert r1.status_code == 200
    body1 = r1.get_json()
    assert body1["cached"] is False
    assert body1["tiled"]["tile"] == 8
    assert "fit_curve" in body1["tiled"]["demotions"]

    # long-mode run of the SAME graph: separate cache entry, no block
    r_long = client.post("/graph", json=_fit_curve_graph())
    assert r_long.get_json()["cached"] is False
    assert "tiled" not in r_long.get_json()


def test_tiled_demotion_free_graph_reports_empty(client):
    """The NDVI-median graph stays tile-native end to end — the
    telemetry block must say so (empty list, not absent)."""
    payload = {**_graph(), "tiled": True, "tile": 8}
    r = client.post("/graph", json=payload)
    assert r.status_code == 200
    body = r.get_json()
    assert body["tiled"]["demotions"] == []
