"""Per-layer measurement for the traced run.

Three sources, all read from outside the engine:

- Spans recorded by the benchmark around each call into an engine
  module (``Tracer``). Each span tags its Spark jobs with a job group,
  so stage and SQL metrics from Spark's status store
  (``/api/v1/applications/<id>/...``) attach to it.
- Spark's status store: executor CPU, GC, shuffle, spill, task skew,
  job and task counts per operation, and the Python-worker metrics of
  the Arrow/pandas UDF nodes.
- Single-thread probes of the numpy kernels each workload's
  operations run inside Python workers (codec, geo, polygon and site
  index), timed on that workload's own inputs.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq

# (name, unit) of every per-layer metric, in output order. A layer a
# workload does not exercise reports 0.
PER_LAYER = [
    ("session.build_s", "s"),
    ("pipeline.python_init_s", "s"),
    ("pipeline.python_run_s", "s"),
    ("pipeline.python_bytes_sent", "B"),
    ("pipeline.python_bytes_received", "B"),
    ("pipeline.index_broadcast_s", "s"),
    ("codec.decode_us_per_image", "us"),
    ("geo.anchor_us_per_row", "us"),
    ("geo.cell_id_us_per_row", "us"),
    ("geo.tile_xyz_us_per_row", "us"),
    ("spatial_join.index_build_s", "s"),
    ("spatial_join.assign_us_per_row", "us"),
    ("spatial_join.interior_ratio", "ratio"),
    ("spatial_join.action_s", "s"),
    ("knn.index_build_s", "s"),
    ("knn.action_s", "s"),
    ("tiling.action_s", "s"),
    ("zones.action_s", "s"),
    ("trajectory.action_s", "s"),
    ("frequent_locations.action_s", "s"),
    ("statistics.action_s", "s"),
    ("checkpoint.chunk_commit_s", "s"),
    ("checkpoint.manifest_s", "s"),
    ("checkpoint.bytes_written", "B"),
    ("checkpoint.resume_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.task_skew", "ratio"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_s", "s"),
    ("host.steal_pct", "%"),
    ("trace.overhead_pct", "%"),
    ("trace.ops", "count"),
]


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: int
    group: str | None
    start: float = 0.0  # epoch seconds, comparable with Spark's timestamps
    end: float = 0.0
    duration: float = 0.0  # perf_counter seconds


@dataclass
class Tracer:
    """In-memory spans; ``enabled`` False keeps only the timing that
    end-to-end metrics need and leaves Spark jobs untagged."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op_id: int = -1
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"perfbench-op{self.op_id}-span{sid}" if self.enabled else None
        s = Span(name, sid, parent.span_id if parent else None, self.op_id, group)
        if self.enabled:
            self.spans.append(s)
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(s)
        s.start, t0 = time.time(), time.perf_counter()
        try:
            yield s
        finally:
            s.duration = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", parent.group if parent else None
                )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# span name -> per-layer metric, where "<layer>.action_s" does not fit
_SPAN_METRICS = {"pipeline.run_pipeline_resumable.resume": "checkpoint.resume_s"}


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Median duration of the spans behind each per-layer timing."""
    names = {k for k, _u in PER_LAYER}
    durations: dict[str, list[float]] = {}
    for s in spans:
        key = _SPAN_METRICS.get(s.name, s.name.split(".")[0] + ".action_s")
        if key in names:
            durations.setdefault(key, []).append(s.duration)
    return {k: statistics.median(v) for k, v in durations.items()}


# ---------------------------------------------------------------------------
# Spark status store


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
}


def _sql_metric_total(value: str) -> float:
    """Total of a SQL UI metric string: either a bare ``"12.3 MiB"`` or
    ``"total (min, med, max ...)\\n12.3 MiB (...)"``; bytes or
    seconds."""
    line = value.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL metric name fragment -> per-layer metric
_PY_METRICS = {
    "time to initialize python workers": "pipeline.python_init_s",
    "time to run python workers": "pipeline.python_run_s",
    "data sent to python workers": "pipeline.python_bytes_sent",
    "data returned from python workers": "pipeline.python_bytes_received",
}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_op_metrics(spark, spans: list[Span]) -> list[dict]:
    """Per traced operation: stage, job and Python-worker metrics of
    every job its spans tagged."""
    sc = spark.sparkContext
    # the REST views lag the scheduler by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")}
    sqls = _get(f"{base}/sql?details=true&planDescription=false&length=100000")

    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        if j.get("jobGroup"):
            by_group.setdefault(j["jobGroup"], []).append(j)
    sql_by_job = {}
    for ex in sqls:
        for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
            sql_by_job[jid] = ex

    out = []
    for op_id in sorted({s.op_id for s in spans}):
        op_spans = [s for s in spans if s.op_id == op_id]
        root = next(s for s in op_spans if s.parent is None)
        op_jobs = [j for s in op_spans for j in by_group.get(s.group, [])]
        stage_rows = [
            st for (sid, _a), st in stages.items()
            if any(sid in j["stageIds"] for j in op_jobs) and st["status"] == "COMPLETE"
        ]
        m = {
            "spark.executor_cpu_s": sum(st["executorCpuTime"] for st in stage_rows) / 1e9,
            "spark.gc_s": sum(st.get("jvmGcTime", 0) for st in stage_rows) / 1e3,
            "spark.shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stage_rows),
            "spark.spill_bytes": sum(st["diskBytesSpilled"] for st in stage_rows),
            "spark.jobs_per_op": len(op_jobs),
            "spark.tasks_per_op": sum(st["numCompleteTasks"] for st in stage_rows),
            "spark.task_skew": 1.0,
        }
        job_iv = [
            (_ts(j["submissionTime"]), _ts(j["completionTime"]))
            for j in op_jobs if j.get("completionTime")
        ]
        m["spark.driver_s"] = max(0.0, (root.end - root.start) - _union_s(job_iv))
        if stage_rows:
            longest = max(stage_rows, key=lambda st: st["executorRunTime"])
            q = _get(
                f"{base}/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                m["spark.task_skew"] = q[1] / q[0]
        for key in _PY_METRICS.values():
            m[key] = 0.0
        seen = set()
        for j in op_jobs:
            ex = sql_by_job.get(j["jobId"])
            if ex is None or ex["id"] in seen:
                continue
            seen.add(ex["id"])
            for node in ex.get("nodes", []):
                for met in node.get("metrics", []):
                    key = _PY_METRICS.get(met["name"].lower())
                    if key:
                        m[key] += _sql_metric_total(met["value"])
        out.append(m)
    return out


# ---------------------------------------------------------------------------
# Single-thread kernel probes


def _us_per_row(fn, n: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6 / max(n, 1)


def _median_s(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_probes(spark, wl) -> dict[str, float]:
    """Probe the kernels of the layers ``wl`` exercises."""
    from cdr_analysis_tools_hadoop_spark import pipeline
    from cdr_analysis_tools_hadoop_spark.functions import codec, geo
    from cdr_analysis_tools_hadoop_spark.operators import knn, spatial_join
    from cdr_analysis_tools_hadoop_spark.plans import checkpoint

    from workloads import KNN_RADIUS_M, PIP_RES, RESUME_CHUNKS, BASE_ZOOM

    m: dict[str, float] = {}
    layers = wl.layers
    if "geo" in layers or "spatial_join" in layers:
        ids, lat, lon = wl.probe_points()
        n = len(ids)
    if "codec" in layers:
        blobs = (
            pq.read_table(wl.images_path, columns=["bytes"])
            .column("bytes").slice(0, 300).to_pylist()
        )
        m["codec.decode_us_per_image"] = _us_per_row(
            lambda: [codec.decode(b) for b in blobs], len(blobs)
        )
    if "geo" in layers:
        m["geo.anchor_us_per_row"] = _us_per_row(
            lambda: (geo.anchor_lat_np(ids), geo.anchor_lon_np(ids)), n
        )
        m["geo.cell_id_us_per_row"] = _us_per_row(
            lambda: geo.cell_id_np(lat, lon, PIP_RES), n
        )
        m["geo.tile_xyz_us_per_row"] = _us_per_row(
            lambda: geo.tile_xyz_np(lat, lon, BASE_ZOOM), n
        )
    if "spatial_join" in layers:
        polys = wl.polygons()
        m["spatial_join.index_build_s"] = _median_s(
            lambda: spatial_join.PolygonIndex(polys, PIP_RES)
        )
        idx = spatial_join.PolygonIndex(polys, PIP_RES)
        cells = geo.cell_id_np(lat, lon, PIP_RES)
        m["spatial_join.assign_us_per_row"] = _us_per_row(
            lambda: spatial_join.assign_zone_np(idx, cells, lat, lon), n
        )
        m["spatial_join.interior_ratio"] = float(
            np.mean(idx.lookup_interior(cells) >= 0)
        )
    if "knn" in layers:
        res = knn.pick_res_for_radius(KNN_RADIUS_M)
        m["knn.index_build_s"] = _median_s(lambda: knn.SiteIndex(wl.sites, res))
    if "pipeline" in layers:
        def bcast():
            bc, _ids = pipeline.broadcast_polygon_index(spark, PIP_RES)
            bc.unpersist()

        m["pipeline.index_broadcast_s"] = _median_s(bcast)
    if "checkpoint" in layers and wl.last_out:
        manifest = checkpoint.read_manifest(wl.last_out)
        m["checkpoint.chunk_commit_s"] = statistics.median(r["seconds"] for r in manifest)
        files = sorted(spark.read.parquet(wl.images_path).inputFiles())

        def manifest_ops():
            checkpoint.read_manifest(wl.last_out)
            for i in range(RESUME_CHUNKS):
                checkpoint.files_fingerprint(files[i::RESUME_CHUNKS])

        m["checkpoint.manifest_s"] = _median_s(manifest_ops, reps=5)
        m["checkpoint.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, fs in os.walk(wl.last_out) for f in fs
        )
    return m
