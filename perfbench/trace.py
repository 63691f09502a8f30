"""Tracing for the benchmark's ``--trace 1`` runs: spans recorded around the
calls into each layer, Spark job groups that carry the span name onto every
job, and a reader for the Spark event log that sums task metrics per group.

Everything here runs outside the engine; the engine itself is unchanged.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from .inputs import EXTENT, ZOOM, encoder_batch

# SQL metric names Spark gives the Arrow/Python boundary nodes
# (ArrowEvalPython, MapInPandas, ...)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

RT_KEYS = (
    "shuffle_write_bytes",
    "fetch_wait_s",  # kept in the run's JSON only: always 0 on local[N]
    "task_run_s",
    "gc_s",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "jobs",
)


class Tracer:
    """In-memory spans; with ``enabled`` each span also becomes the Spark job
    group of the jobs it runs, so the event log attributes them to it."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": layer, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self.sc.setJobGroup(f"{self.workload}/{layer}", layer)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.enabled:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
                self.sc.setJobGroup(f"{self.workload}/{parent}", parent)

    def pass_groups(self) -> set[str]:
        """Job groups of the traced pass: the ``pass`` span and its subtree."""
        inside: set[int] = set()
        for s in self.spans:  # parents precede children
            if s["name"] == "pass" or s["parent"] in inside:
                inside.add(s["id"])
        return {f"{self.workload}/{self.spans[i]['name']}" for i in inside}


def read_event_logs(log_dir: str) -> dict:
    """Per job group: task and shuffle totals from every event log in
    ``log_dir`` (one per SparkContext the run started)."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    for fn in sorted(os.listdir(log_dir)):
        _read_one(os.path.join(log_dir, fn), groups)
    return {g: dict(v) for g, v in groups.items()}


def _read_one(path: str, groups: dict) -> None:
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == PY_SENT:
                py_acc[m["accumulatorId"]] = "python_bytes_sent"
            elif m.get("name") == PY_RECEIVED:
                py_acc[m["accumulatorId"]] = "python_bytes_received"
        for child in node.get("children", []):
            plan_metrics(child)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                groups[group]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = group
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(e.get("sparkPlanInfo") or {})
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "untraced")]
                m = e.get("Task Metrics") or {}
                g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0
                ) / 1000.0
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = py_acc.get(acc.get("ID"))
                    if key is not None:
                        g[key] += float(acc.get("Update") or 0)


def runtime_totals(groups: dict, names: set[str]) -> dict:
    """``rt.*`` metrics: the sum over the job groups in ``names``."""
    out = {k: 0.0 for k in RT_KEYS}
    for name in names & groups.keys():
        for k in RT_KEYS:
            out[k] += groups[name].get(k, 0.0)
    return out


# ---------------------------------------------------------------------------
# codec inner loop, single-threaded on the driver
# ---------------------------------------------------------------------------


def bulk_encode_us(pts, n: int, reps: int = 5) -> float:
    """``codec.fast_points.encode_point_layer_tiles_bulk`` per feature."""
    import numpy as np

    from open_vector_tile_spark.codec.fast_points import encode_point_layer_tiles_bulk

    order, qx, qy, _keys, counts = encoder_batch(pts, n)
    urls = np.array(pts.urls(order), dtype=object)
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        encode_point_layer_tiles_bulk("pages", EXTENT, {"url": "string"}, {"url": urls}, qx, qy, counts)
        runs.append(time.perf_counter() - t0)
    return 1e6 * sorted(runs)[reps // 2] / n


def generic_encode_us(pts, n: int, reps: int = 3) -> float:
    """The generic (row-at-a-time) tile writer on the same features."""
    from open_vector_tile_spark.operators.tiler import LayerSpec, _encode_rows

    order, qx, qy, keys, counts = encoder_batch(pts, n)
    urls = pts.urls(order)
    specs = {"pages": LayerSpec(extent=EXTENT, shape={"url": "string"})}
    bounds = [0, *counts.cumsum().tolist()]
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for (tx, ty), a, b in zip(keys.tolist(), bounds[:-1], bounds[1:]):
            rows = [
                {
                    "zoom": ZOOM,
                    "tile_x": tx,
                    "tile_y": ty,
                    "layer": "pages",
                    "extent": EXTENT,
                    "ftype": 1,
                    "geom_xy": [int(qx[i]), int(qy[i])],
                    "props_json": json.dumps({"url": urls[i]}),
                }
                for i in range(a, b)
            ]
            _encode_rows(rows, specs)
        runs.append(time.perf_counter() - t0)
    return 1e6 * sorted(runs)[reps // 2] / n


def decode_us(tileset_dir: str, max_tiles: int = 2000, reps: int = 3) -> float:
    """``codec.VectorTile`` decode of every feature (geometry and properties)
    of the first ``max_tiles`` entries of one shard."""
    from open_vector_tile_spark.codec import VectorTile
    from open_vector_tile_spark.sources.tileset import read_shard_index

    shard = sorted(f for f in os.listdir(tileset_dir) if f.endswith(".ovtshard"))[0]
    path = os.path.join(tileset_dir, shard)
    idx, start = read_shard_index(path)
    with open(path, "rb") as fh:
        data = fh.read()
    blobs = [data[start + int(off) : start + int(off) + int(ln)] for off, ln in idx[:max_tiles, 3:5]]
    runs, n = [], 0
    for _ in range(reps):
        n = 0
        t0 = time.perf_counter()
        for blob in blobs:
            for layer in VectorTile(blob).layers.values():
                for i in range(len(layer)):
                    f = layer.feature(i)
                    f.load_points()
                    f.properties  # noqa: B018 - decode the property values too
                    n += 1
        runs.append(time.perf_counter() - t0)
    return 1e6 * sorted(runs)[reps // 2] / max(n, 1)
