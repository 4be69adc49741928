"""Tracing for the per-layer run: spans around each layer's public
functions, and an offline parser for the Spark event log.

Spans are recorded from the benchmark's own files: ``Tracer.install``
replaces the module attributes of the layer functions listed in
``LAYER_FUNCTIONS`` with wrappers that record (name, start, end, parent,
op) while the tracer is active.  The event log, written by Spark with
``spark.eventLog.enabled`` and one job group per op, gives jobs, stages,
tasks, executor time, shuffle bytes and the Python-UDF SQL metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import pydoc
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# per-layer metric prefix -> (module, public functions the workloads reach)
LAYER_FUNCTIONS = {
    "spatial_join": (
        "s2geometry_d_spark.operators.spatial_join",
        "points_in_regions points_not_in_regions candidate_join candidate_join_auto "
        "candidate_join_smj compute_coverings covering_dataframe coarse_prefix_filter",
    ),
    "tiling": (
        "s2geometry_d_spark.operators.tiling",
        "image_tile_assignment tile_assignment_stats tile_containment_check",
    ),
    "crossing": (
        "s2geometry_d_spark.operators.crossing",
        "crossing_edges_join crossing_pairs_join crossing_pairs_self",
    ),
    "knn": (
        "s2geometry_d_spark.operators.knn",
        "knn_join knn_edges_join knn_edges_join_tables knn_edges_join_with_interiors "
        "knn_edges_join_with_interiors_table knn_edges_to_cells knn_edges_to_edges "
        "furthest_points_join register_edges knn_brute_force knn_edges_brute_force",
    ),
    "poly_index": (
        "s2geometry_d_spark.operators.poly_index",
        "build_polygon_index points_in_polygons_table polygons_dataframe",
    ),
    "shape_index": (
        "s2geometry_d_spark.operators.shape_index",
        "unified_shape_index update_shape_index unified_index_from_text "
        "index_tables_from_text points_in_shapes",
    ),
    "sources": (
        "s2geometry_d_spark.sources.tables",
        "spatial_points",
    ),
    "checkpoint": (
        "s2geometry_d_spark.streaming.checkpoint",
        "PipelineContext.run_stage",
    ),
    "multimodal": (
        "s2geometry_d_spark.operators.multimodal",
        "image_features resize_images tile_pixel_stats verify_images image_checksum_stats",
    ),
    "sampling": (
        "s2geometry_d_spark.operators.sampling",
        "sample_stratified dataset_mixture shard_by_token_budget",
    ),
}


class _Traced:
    """Callable stand-in for a layer function.  Pickles back to the
    original function, so a closure shipped to a Python worker never
    carries the tracer."""

    def __init__(self, tracer: "Tracer", layer: str, fn):
        self._tracer, self._layer, self.__wrapped__ = tracer, layer, fn
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        if not self._tracer.active:
            return self.__wrapped__(*args, **kwargs)
        with self._tracer.span(f"{self._layer}.{self.__wrapped__.__name__}", self._layer):
            return self.__wrapped__(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        fn = self.__wrapped__
        return (pydoc.locate, (f"{fn.__module__}.{fn.__qualname__}",))


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "name": name,
            "layer": layer,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def install(self, layers: dict = LAYER_FUNCTIONS) -> None:
        """Wrap every listed function, at its defining module and at every
        engine module that imported it by name."""
        for layer, (modname, names) in layers.items():
            mod = importlib.import_module(modname)
            for dotted in names.split():
                owner, attr = mod, dotted
                if "." in dotted:
                    cls, attr = dotted.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, attr)
                wrapped = _Traced(self, layer, orig)
                self._set(owner, attr, wrapped)
                for other in list(sys.modules.values()):
                    name = getattr(other, "__name__", "")
                    if other is not owner and (
                        name.startswith("s2geometry_d_spark") or name == "__spark_entry__"
                    ):
                        for key, val in list(vars(other).items()):
                            if val is orig:
                                self._set(other, key, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


# -- event log -----------------------------------------------------------------

PYTHON_NODES = ("EvalPython", "InPandas", "InArrow", "PythonUDTF")
# Spark 4.1 Python SQL metrics (PythonSQLMetrics), by display name
PYTHON_METRICS = {
    "number of output rows": "functions.udf_rows",
    "data sent to Python workers": "functions.udf_bytes_sent",
    "data returned from Python workers": "functions.udf_bytes_received",
    "time to run Python workers": "functions.udf_python_s",
    "time to start Python workers": "functions.udf_boot_s",
    "time to initialize Python workers": "functions.udf_init_s",
}
# SQL metric types whose values are times, and their unit in seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.driver_think_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
)
FUNCTION_KEYS = tuple(PYTHON_METRICS.values())


def _python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Map the accumulator ids of every Python node's SQL metrics in
    ``plan`` to (per-layer name, scale to seconds or 1)."""
    if any(tag in plan.get("nodeName", "") for tag in PYTHON_NODES):
        for metric in plan.get("metrics", []):
            key = PYTHON_METRICS.get(metric["name"])
            if key:
                scale = _TIME_SCALE.get(metric.get("metricType"), 1.0)
                out[int(metric["accumulatorId"])] = (key, scale)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def read_event_log(path: str) -> dict[str, dict]:
    """Aggregate one event-log file by job group: job spans, stage and task
    counts, task metrics and the Python-UDF SQL metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    spans: dict[str, list] = defaultdict(list)
    job_start: dict[int, float] = {}
    stages_with_tasks: dict[str, set] = defaultdict(set)
    py_acc: dict[int, tuple[str, float]] = {}
    acc_updates: list[tuple[int, float, str]] = []
    driver_updates: list[tuple[int, float, int]] = []
    exec_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                groups[group]["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_group[int(exec_id)] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    spans[job_group[jid]].append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                g["spark.tasks"] += 1
                stages_with_tasks[group].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                tm = ev.get("Task Metrics") or {}
                g["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                g["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                g["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                g["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if "Update" in acc:
                        acc_updates.append((int(acc["ID"]), float(acc["Update"]), group))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    driver_updates.append((int(acc_id), float(value), int(ev["executionId"])))
    for acc_id, value, group in acc_updates:
        if acc_id in py_acc:
            key, scale = py_acc[acc_id]
            groups[group][key] += value * scale
    for acc_id, value, exec_id in driver_updates:
        group = exec_group.get(exec_id)
        if acc_id in py_acc and group:
            key, scale = py_acc[acc_id]
            groups[group][key] += value * scale
    out = {}
    for group, g in groups.items():
        rec = {k: float(g.get(k, 0.0)) for k in SPARK_KEYS + FUNCTION_KEYS}
        rec["spark.stages"] = float(len(stages_with_tasks[group]))
        rec["job_spans"] = sorted(spans[group])
        out[group] = rec
    return out


def union_seconds(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def layer_call_seconds(spans: list[dict], start: float, end: float) -> dict[str, float]:
    """Per layer, the time inside its outermost spans that started in
    [start, end): a span nested in another span of the same layer is not
    counted twice."""
    out: dict[str, float] = defaultdict(float)
    for rec in spans:
        if not (start <= rec["start"] < end) or "end" not in rec:
            continue
        parent, nested = rec["parent"], False
        while parent is not None:
            if spans[parent]["layer"] == rec["layer"]:
                nested = True
                break
            parent = spans[parent]["parent"]
        if not nested:
            out[rec["layer"]] += rec["end"] - rec["start"]
    return dict(out)


def op_layer_record(group: dict, spans: list[dict], start: float, end: float) -> dict:
    """The event-log and span numbers of one traced op evaluation that ran
    from ``start`` to ``end`` (epoch seconds) under job group ``group``."""
    rec = {k: group.get(k, 0.0) for k in SPARK_KEYS + FUNCTION_KEYS}
    rec["spark.driver_think_s"] = (end - start) - union_seconds(group.get("job_spans", []), start, end)
    rec["layer_call_s"] = layer_call_seconds(spans, start, end)
    return rec


def layer_metrics(records: list[dict], n_pass: int) -> dict[str, float]:
    """Per-layer metrics of one workload, per pass (summed over the op
    records of ``n_pass`` traced passes, divided by ``n_pass``)."""
    n_pass = max(n_pass, 1)
    m: dict[str, float] = defaultdict(float)
    for rec in records:
        for key in SPARK_KEYS + FUNCTION_KEYS:
            m[key] += rec[key] / n_pass
        m["ops.call_s"] += rec["call_s"] / n_pass
        m["ops.exec_s"] += rec["exec_s"] / n_pass
        layer = rec["layer"]
        m[f"{layer}.exec_s"] += rec["exec_s"] / n_pass
        for lay, sec in rec["layer_call_s"].items():
            m[f"{lay}.call_s"] += sec / n_pass
        if layer == "spatial_join":
            m["spatial_join.candidate_rows"] += rec["functions.udf_rows"] / n_pass
            m["spatial_join.rows_out"] += rec["rows_out"] / n_pass
        elif layer == "tiling":
            m["tiling.udf_rows"] += rec["functions.udf_rows"] / n_pass
            m["tiling.rows_out"] += rec["rows_out"] / n_pass
        elif layer == "crossing":
            m["crossing.shuffle_bytes"] += (
                rec["spark.shuffle_write_bytes"] + rec["spark.shuffle_read_bytes"]
            ) / n_pass
        elif layer == "knn":
            m["knn.jobs"] += rec["spark.jobs"] / n_pass
            m["knn.ops"] += 1 / n_pass
        elif layer in ("poly_index", "shape_index"):
            m[f"{layer}.probe_s"] += rec["exec_s"] / n_pass
    if m.get("spatial_join.candidate_rows"):
        m["spatial_join.match_ratio"] = m["spatial_join.rows_out"] / m["spatial_join.candidate_rows"]
    if m.get("knn.ops"):
        m["knn.jobs_per_op"] = m.pop("knn.jobs") / m.pop("knn.ops")
    return dict(m)
