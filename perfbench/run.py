"""Run one benchmark workload against the openEO service and print its
metrics.

    python3 perfbench/run.py --workload scene_tiled --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is a detail record: sample counts, percentiles, run
stamp and, for a traced run, the trace checks and overhead.

``--check-tiers`` runs one seed's scene graphs on both tiers in one
session and asserts that each pair of GTIFFs decodes bit-identically.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root. See README.md in this directory for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RUN = os.path.join(WORK, "run")
SCENE_HITS_PER_JOB = 8
TIER_PAIRS = 6  # graphs --check-tiers runs on both tiers
WORKLOADS = ("scene_tiled", "scene_long")
E2E_UNITS = {
    "setup_s": "s", "first_job_s": "s", "job_p50_s": "s",
    "job_tail_s": "s", "jobs_per_s": "1/s", "reduce_p50_s": "s",
    "export_p50_s": "s", "peak_rss_mb": "MB",
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 ** 2
    return 0.0


def _cpu_ticks() -> list:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _steal_share(t0: list, t1: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two /proc/stat readings (the 8th field is steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def _loadavg() -> list:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def configure_env(trace: bool) -> dict:
    """Session settings, fixed before pyspark is imported: all cores of
    this machine, a driver heap that fits its memory, no console
    progress bar, every scratch file inside the run directory, and the
    uncompressed single-file event log for a traced run only."""
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp)
    cpus = _nproc()
    mem_gb = max(1, min(8, int(_mem_total_gb() // 4)))
    # -Xms at the heap cap: the heap is not resized during a run, so
    # peak memory does not depend on when the JVM chose to grow it;
    # -XX:-UsePerfData here and in SPARK_LAUNCHER_OPTS: no hsperfdata
    # file under /tmp
    conf = ["--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"'-Xms{mem_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        os.makedirs(os.path.join(RUN, "eventlog"))
        conf += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{RUN}/eventlog",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(conf) + " pyspark-shell",
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": " ".join(
            p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"),
                        "-XX:-UsePerfData") if p),
    })
    return {"cpus": cpus, "driver_mem_gb": mem_gb}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), summed from /proc/<pid>/statm every 200 ms.
    statm reads counters only; it does not walk the JVM's page tables,
    so sampling does not stall the process it measures. Pages that
    forked Python workers share count once per worker."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_mb(self) -> float:
        children: dict = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(pid)
        total, frontier = 0, [str(os.getpid())]
        while frontier:
            pid = frontier.pop()
            frontier.extend(children.get(int(pid), []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / 1e6

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_mb())
            self._stop_evt.wait(0.2)

    def stop(self) -> float:
        self._stop_evt.set()
        if self.is_alive():
            self.join()
        return self.peak_mb


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, tracer=None):
        self.args = args
        self.tracer = tracer
        self.records: list = []

    # --- requests -------------------------------------------------------

    def send(self, client, req, phase: str) -> dict:
        sp = self.tracer.begin("request", req.rid) if self.tracer else None
        t0 = time.perf_counter()
        err, body, status = None, {}, None
        try:
            resp = client.post("/graph", json=req.payload)
            status, body = resp.status_code, resp.get_json() or {}
        except Exception as e:  # counted as a failed request
            err = f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        if sp is not None:
            self.tracer.finish(sp)
        if err is None and status != 200:
            err = f"HTTP {status}: {body.get('code')}: {body.get('message')}"
        cached = bool(body.get("cached"))
        if err is None and cached != (req.repeat_of is not None):
            err = f"cached={cached} for {'a repeat' if req.repeat_of else 'a new graph'}"
        rec = {"rid": req.rid, "req": req, "phase": phase, "t0": t0, "t1": t1,
               "wall": t1 - t0, "cached": cached, "output": body.get("output"),
               "err": err}
        self.records.append(rec)
        return rec

    # --- set-up -----------------------------------------------------------

    def setup(self, spark) -> float:
        """The workload's ingest plus a service on an empty job store;
        returns its wall time."""
        from openeo_odc_driver_spark.service import create_app

        self.store_dir = os.path.join(RUN, "store")
        self.long_path = os.path.join(RUN, "scene_long.parquet")
        self.service_dir = os.path.join(RUN, "service")
        t0 = time.perf_counter()
        self.ingest(spark, self.args.workload)
        self.app = create_app(spark, work_dir=self.service_dir,
                              tiled_store_dir=self.store_dir)
        return time.perf_counter() - t0

    def ingest(self, spark, workload: str) -> None:
        from openeo_odc_driver_spark.core import tiled as tl
        from openeo_odc_driver_spark.sinks.save import save_parquet
        from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

        from perfbench.workloads import SCENE_ID, SCENE_SPEC, SCENE_TILE

        if workload == "scene_tiled":
            tc = tl.to_tiled(synthetic_cube(spark, SCENE_SPEC), tile=SCENE_TILE,
                             n_y=SCENE_SPEC.ny, n_x=SCENE_SPEC.nx)
            tl.save_tiled(tc, os.path.join(self.store_dir, SCENE_ID))
        elif workload == "scene_long":
            save_parquet(synthetic_cube(spark, SCENE_SPEC), self.long_path)

    # --- workloads --------------------------------------------------------

    def run_scene(self, tier: str) -> None:
        """One client. The timed part is a fixed number of whole request
        cycles, round(seconds / SCENE_CYCLE_S), not a deadline, so every
        run times the same jobs in the same mix of kinds. After each
        executed request, ``SCENE_HITS_PER_JOB`` requests repeat it and
        the graphs executed just before it, so cache hits are spread
        over the timed part and every seed replays the same mix of
        artifact sizes."""
        from perfbench.workloads import (SCENE_CYCLE, SCENE_CYCLE_S, repeat,
                                         scene_stream)

        client = self.app.test_client()
        stream = scene_stream(self.args.seed, tier, self.long_path)
        done = [self.send(client, next(stream), "first")["req"]]
        # any len(SCENE_CYCLE) consecutive requests hold one cycle's kinds
        cycles = max(1, round(self.args.seconds / SCENE_CYCLE_S))
        for _ in range(cycles * len(SCENE_CYCLE)):
            done.append(self.send(client, next(stream), "steady")["req"])
            for h in range(SCENE_HITS_PER_JOB):
                orig = done[max(0, len(done) - 1 - h)]
                self.send(client, repeat(orig, f"{done[-1].rid}-hit{h}"),
                          "steady")

    # --- checks and metrics ----------------------------------------------

    def verify(self) -> None:
        """Check every executed artifact against its engine-independent
        reference and every cache hit against the bytes of its first
        execution. Runs after the timed part."""
        from perfbench.reference import References, same_artifact

        refs = References()
        first_out = {}
        for rec in self.records:
            if rec["err"] is None and not rec["cached"]:
                first_out[rec["req"].rid] = rec["output"]
                try:
                    rec["err"] = refs.check(rec["req"], rec["output"])
                except Exception as e:  # an unreadable artifact fails
                    rec["err"] = f"check raised {type(e).__name__}: {e}"
        for rec in self.records:
            orig = rec["req"].repeat_of
            if rec["err"] is None and orig is not None:
                src = first_out.get(orig.rid)
                if src is None or not same_artifact(src, rec["output"]):
                    rec["err"] = f"cache hit differs from {orig.rid}"

    def e2e(self, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
        """End-to-end metrics. A metric with no sample (every request of
        its kind failed) reads 0; such a run also reports failures."""
        steady = [r for r in self.records if r["phase"] == "steady"]
        jobs = sorted(r["wall"] for r in steady if not r["cached"])
        hits = [r["wall"] for r in self.records if r["cached"]]
        first = next(r for r in self.records if r["phase"] == "first")
        n = len(jobs)
        k = max(0, n - 2)  # one sample beyond the tail
        t_lo = min(r["t0"] for r in steady)
        t_hi = max(r["t1"] for r in steady)

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        def p50(kind):
            return med([r["wall"] for r in steady
                        if not r["cached"] and r["req"].kind == kind])

        metrics = {
            "setup_s": setup_s,
            "first_job_s": first["wall"],
            "job_p50_s": med(jobs),
            "job_tail_s": jobs[k] if jobs else 0.0,
            "jobs_per_s": n / (t_hi - t_lo),
            "reduce_p50_s": p50("reduce"),
            "export_p50_s": p50("export"),
            "peak_rss_mb": peak_mb,
        }
        detail = {
            "jobs_n": n, "job_tail_pct": round(100.0 * (k + 1) / max(1, n), 1),
            "job_tail_beyond": n - 1 - k, "hits_n": len(hits),
            # not a bounded metric: see README.md, "Cache hits"
            "hit_p50_ms": med(hits) * 1e3,
            "reduce_n": sum(r["req"].kind == "reduce" for r in steady
                            if not r["cached"]),
            "export_n": sum(r["req"].kind == "export" for r in steady
                            if not r["cached"]),
            "steady_wall_s": t_hi - t_lo,
            "requests": [[r["rid"], r["phase"], r["req"].kind, r["req"].tier,
                          r["cached"], round(r["wall"], 4)]
                         for r in self.records],
        }
        return metrics, detail


def _stamp(spark, args) -> dict:
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": _nproc(), "mem_total_gb": round(_mem_total_gb(), 2),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run_workload(args) -> int:
    env = configure_env(bool(args.trace))
    tracer = None
    load_start, ticks_start = _loadavg(), _cpu_ticks()
    sampler = RssSampler()
    sampler.start()
    from openeo_odc_driver_spark.session import get_spark

    if args.trace:
        from perfbench.trace import Tracer, install

        tracer = Tracer()
        sp = tracer.begin("session.get_spark")
    spark = get_spark("perfbench", cpus=str(env["cpus"]))
    session_s = time.perf_counter() - T_START
    if tracer:
        tracer.finish(sp)
        install(tracer)
    stamp = _stamp(spark, args)
    bench = Bench(args, tracer)
    try:
        setup_s = session_s + bench.setup(spark)
        bench.run_scene(args.workload.removeprefix("scene_"))
        peak_mb = sampler.stop()
        bench.verify()
    finally:
        if tracer:
            tracer.unwrap_all()
        stop_session(spark)
    stamp["loadavg_start"], stamp["loadavg_end"] = load_start, _loadavg()
    stamp["cpu_steal_share"] = round(_steal_share(ticks_start, _cpu_ticks()), 4)
    stamp.update(env)

    failed = [r for r in bench.records if r["err"]]
    metrics, detail = bench.e2e(setup_s, peak_mb)
    detail["session_s"] = session_s
    detail["setup_work_s"] = setup_s - session_s
    detail["fail_ratio"] = len(failed) / len(bench.records)
    detail["failures"] = [f"{r['rid']}: {r['err']}" for r in failed[:5]]
    correct = not failed
    untraced = os.path.join(WORK, f"untraced_{args.workload}.json")
    if args.trace:
        from perfbench.trace import per_layer, read_event_log

        groups = read_event_log(os.path.join(RUN, "eventlog"))
        timed = [{"rid": r["rid"], "wall": r["wall"], "cached": r["cached"]}
                 for r in bench.records if r["phase"] == "steady"]
        layer, checks = per_layer(tracer, timed, groups, env["cpus"],
                                  session_s)
        with open(os.path.join(bench.service_dir, "jobs_cache.csv")) as fh:
            checks["cache_rows"] = sum(1 for line in fh if line.strip())
        tracer.dump(os.path.join(WORK, f"spans_{args.workload}.jsonl"))
        detail["trace_checks"] = checks
        detail["trace_overhead"] = None
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            detail["trace_overhead"] = {
                k: metrics[k] - base[k] for k in metrics if k in base}
        detail["e2e_traced"] = metrics
        out_metrics = layer
    else:
        with open(untraced, "w") as fh:
            json.dump(metrics, fh)
        out_metrics = metrics
    from perfbench.trace import PER_LAYER_UNITS

    units = PER_LAYER_UNITS if args.trace else E2E_UNITS
    result = {
        "correct": correct,
        "attempted": len(bench.records),
        "failed": len(failed),
        "metrics": {k: {"value": float(out_metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    detail = {"perfbench": {"stamp": stamp, **detail}}
    with open(os.path.join(WORK, f"last_{args.workload}_trace{args.trace}.json"),
              "w") as fh:
        json.dump({**detail, "result": result}, fh, indent=1)
    shutil.rmtree(RUN, ignore_errors=True)
    detail["perfbench"]["run_wall_s"] = time.perf_counter() - T_START
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def check_tiers(args) -> int:
    """Issue one seed's first scene graphs on both tiers and compare the
    decoded GTIFFs pair by pair, bit for bit."""
    env = configure_env(False)
    from openeo_odc_driver_spark.session import get_spark

    from perfbench.reference import References, decoded_bits
    from perfbench.workloads import scene_stream

    spark = get_spark("perfbench-tiers", cpus=str(env["cpus"]))
    args.workload = "scene_tiled"
    bench = Bench(args)
    try:
        bench.setup(spark)
        bench.ingest(spark, "scene_long")
        client = bench.app.test_client()
        streams = {t: scene_stream(args.seed, t, bench.long_path)
                   for t in ("tiled", "long")}
        pairs = []
        for _ in range(TIER_PAIRS):
            a = bench.send(client, next(streams["tiled"]), "steady")
            b = bench.send(client, next(streams["long"]), "steady")
            pairs.append((a, b))
        refs = References()
        report = []
        for a, b in pairs:
            errs = [r["err"] or refs.check(r["req"], r["output"])
                    for r in (a, b)]
            same = not any(errs) and (decoded_bits(a["output"])
                                      == decoded_bits(b["output"]))
            report.append({"graph": a["rid"], "kind": a["req"].kind,
                           "identical": same, "errors": errs})
    finally:
        stop_session(spark)
    shutil.rmtree(RUN, ignore_errors=True)
    ok = all(r["identical"] for r in report)
    print(json.dumps({"tier_equivalence": ok, "seed": args.seed,
                      "pairs": report}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0,
                    help="size of the timed part: round(seconds / 5) "
                         "request cycles of about 5 s each on 4 cores")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-tiers", action="store_true")
    args = ap.parse_args()
    if not args.check_tiers and args.workload is None:
        ap.error("--workload is required")
    # look for the package, do not import it: it reads its session
    # settings from the environment at import time
    if not os.path.isdir(os.path.join(ROOT, "openeo_odc_driver_spark")):
        _fail(f"the engine package openeo_odc_driver_spark is not in {ROOT}")
    sys.path.insert(0, ROOT)
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    return check_tiers(args) if args.check_tiers else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
