"""Per-layer metrics of one traced pipeline, from its spans, the event log
groups its spans named, and the warehouse it wrote.

README.md maps each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq

from .eventlog import GroupStats
from .gate import STAGES
from .spans import Span, self_times

MB = 1e6


def _layer_spec() -> list[tuple[str, str, str]]:
    spec = []
    for stage in STAGES:
        c = f"checkpoint.{stage}"
        spec += [
            (f"{c}.s", "s", "lower"),
            (f"{c}.self_s", "s", "lower"),
            (f"{c}.write_s", "s", "lower"),
            (f"{c}.lineage_s", "s", "lower"),
            (f"{c}.rows", "count", "higher"),
            (f"{c}.mb", "MB", "lower"),
            (f"{c}.task_skew", "ratio", "lower"),
        ]
    spec += [
        ("checkpoint.stages_reused", "count", "higher"),
        ("checkpoint.stages_recomputed", "count", "lower"),
        ("geocode.rows_in", "count", "higher"),
        ("geocode.rows_out", "count", "higher"),
        ("spatial_join.call_s", "s", "lower"),
        ("spatial_join.dim_rows", "count", "lower"),
        ("spatial_join.broadcast_build_s", "s", "lower"),
        ("spatial_join.broadcast_mb", "MB", "lower"),
        ("spatial_join.probe_rows", "count", "lower"),
        ("spatial_join.pip_rows", "count", "lower"),
        ("spatial_join.pip_python_s", "s", "lower"),
        ("spatial_join.pip_mb_to_python", "MB", "lower"),
        ("spatial_join.rows_out", "count", "higher"),
        ("spatial_join.useful_ratio", "ratio", "higher"),
        ("tile_assignments.rows_out", "count", "higher"),
        ("build_tiles.call_s", "s", "lower"),
        ("build_tiles.coverage_rows", "count", "lower"),
        ("build_tiles.classify_python_s", "s", "lower"),
        ("build_tiles.classify_mb_to_python", "MB", "lower"),
        ("build_tiles.shuffle_mb", "MB", "lower"),
        ("build_tiles.encode_python_s", "s", "lower"),
        ("build_tiles.encode_mb_to_python", "MB", "lower"),
        ("build_tiles.encode_task_skew", "ratio", "lower"),
        ("build_tiles.tiles_out", "count", "higher"),
        ("build_tiles.tile_mb", "MB", "lower"),
        ("build_tiles.hot_tile_features", "count", "lower"),
        ("rasterize_points.rows_out", "count", "higher"),
        ("session.start_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.python_start_s", "s", "lower"),
        ("pipeline.self_s", "s", "lower"),
        ("trace.pipeline_s", "s", "lower"),
        ("trace.untraced_pipeline_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.checkpoint_cover", "ratio", "higher"),
        ("trace.stage_cover", "ratio", "higher"),
    ]
    return spec


# (name, unit, better) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = _layer_spec()


def pipeline_layers(
    spans: list[Span],
    groups: dict[str, GroupStats],
    group_prefix: str,
    summaries: dict[str, dict],
    stage_bytes: dict[str, int],
    tiles_path: str | None,
) -> dict[str, float]:
    """Layer metrics of one traced ``run_pipeline`` call.

    ``spans`` are that call's spans, the first being the pipeline itself;
    ``summaries`` the gate's per-stage lineage summaries; ``stage_bytes``
    the bytes each stage's table and lineage wrote in this call;
    ``tiles_path`` the tiles table it wrote, if it got that far.
    """
    by_name = {s.name: s for s in spans}
    self_t = self_times(spans)
    empty = GroupStats()

    def group(name: str) -> GroupStats:
        return groups.get(group_prefix + name, empty)

    def secs(name: str) -> float:
        s = by_name.get(name)
        return s.seconds if s else 0.0

    m: dict[str, float] = {}
    reused = 0
    for stage in STAGES:
        c = f"checkpoint.{stage}"
        wrote = f"{c}.write" in by_name
        reused += not wrote
        m[f"{c}.s"] = secs(c)
        m[f"{c}.self_s"] = self_t[by_name[c].id] if c in by_name else 0.0
        m[f"{c}.write_s"] = secs(f"{c}.write")
        m[f"{c}.lineage_s"] = secs(f"{c}.lineage")
        m[f"{c}.rows"] = summaries.get(stage, {}).get("rows", 0)
        m[f"{c}.mb"] = stage_bytes.get(stage, 0) / MB
        m[f"{c}.task_skew"] = group(f"{c}.write").task_skew()
    m["checkpoint.stages_reused"] = reused
    m["checkpoint.stages_recomputed"] = len(STAGES) - reused

    geo = group("checkpoint.geocoded.write")
    m["geocode.rows_in"] = geo.metric("Scan parquet", "number of output rows")
    m["geocode.rows_out"] = m["checkpoint.geocoded.rows"]

    j = group("checkpoint.join_rows.write")
    m["spatial_join.call_s"] = secs("spatial_join")
    m["spatial_join.dim_rows"] = j.metric("BroadcastExchange", "number of output rows")
    m["spatial_join.broadcast_build_s"] = sum(
        j.metric("BroadcastExchange", k)
        for k in ("time to collect", "time to build", "time to broadcast")
    )
    m["spatial_join.broadcast_mb"] = j.metric("BroadcastExchange", "data size") / MB
    probe = j.metric("BroadcastHashJoin", "number of output rows")
    m["spatial_join.probe_rows"] = probe
    m["spatial_join.pip_rows"] = j.metric("ArrowEvalPython", "number of output rows")
    m["spatial_join.pip_python_s"] = j.metric("ArrowEvalPython", "time to run Python workers")
    m["spatial_join.pip_mb_to_python"] = (
        j.metric("ArrowEvalPython", "data sent to Python workers") / MB
    )
    m["spatial_join.rows_out"] = m["checkpoint.join_rows.rows"]
    m["spatial_join.useful_ratio"] = m["spatial_join.rows_out"] / probe if probe else 0.0

    m["tile_assignments.rows_out"] = m["checkpoint.assignments.rows"]
    m["rasterize_points.rows_out"] = m["checkpoint.cellcounts.rows"]

    t = group("checkpoint.tiles.write")
    m["build_tiles.call_s"] = secs("build_tiles")
    m["build_tiles.coverage_rows"] = t.metric("ArrowEvalPython", "number of output rows")
    m["build_tiles.classify_python_s"] = t.metric("ArrowEvalPython", "time to run Python workers")
    m["build_tiles.classify_mb_to_python"] = (
        t.metric("ArrowEvalPython", "data sent to Python workers") / MB
    )
    m["build_tiles.shuffle_mb"] = t.metric("Exchange", "shuffle bytes written") / MB
    m["build_tiles.encode_python_s"] = t.metric("MapInArrow", "time to run Python workers")
    m["build_tiles.encode_mb_to_python"] = (
        t.metric("MapInArrow", "data sent to Python workers") / MB
    )
    m["build_tiles.encode_task_skew"] = t.task_skew(t.node_stages.get("MapInArrow", set()))
    m["build_tiles.tiles_out"] = m["checkpoint.tiles.rows"]
    m["build_tiles.tile_mb"] = m["build_tiles.hot_tile_features"] = 0
    if tiles_path is not None:
        tiles = pq.read_table(tiles_path, columns=["n_features", "tile"])
        m["build_tiles.tile_mb"] = (pc.sum(pc.binary_length(tiles["tile"])).as_py() or 0) / MB
        m["build_tiles.hot_tile_features"] = pc.max(tiles["n_features"]).as_py() or 0

    mine = [g for name, g in groups.items() if name.startswith(group_prefix)]
    m["spark.gc_s"] = sum(task.gc_ms for g in mine for task in g.tasks) / 1e3
    m["spark.spill_mb"] = sum(task.spill_bytes for g in mine for task in g.tasks) / MB
    m["spark.python_start_s"] = sum(
        v for g in mine for (_, name), v in g.sql.items()
        if name == "time to start Python workers"
    )

    pipe = spans[0]
    m["pipeline.self_s"] = self_t[pipe.id]
    m["trace.pipeline_s"] = pipe.seconds
    m["trace.checkpoint_cover"] = (
        sum(secs(f"checkpoint.{s}") for s in STAGES) / pipe.seconds
    )
    # checkpoints plus the operator calls made before each of them
    m["trace.stage_cover"] = 1.0 - self_t[pipe.id] / pipe.seconds
    return m
