"""Spans around the calls ``run_pipeline`` makes into each layer.

The tracer wraps, from outside the program, the public functions the
pipeline calls: ``Warehouse.checkpoint`` and the operator entry points that
``plans.pipeline`` imports. Inside a checkpoint it also wraps
``DataFrameWriter.parquet`` so the stage-table write and the lineage write
become child spans. Each span sets a Spark job group named after the span,
so the event log can attribute every job to the layer that started it.

Spans stay in memory; the benchmark writes them out once, at the end of a
run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

# operator entry points run_pipeline looks up in its own module
OPERATORS = (
    "geocode_pages",
    "spatial_join",
    "tile_assignments",
    "rasterize_points",
    "build_tiles",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover.

    Children may overlap each other; their union is subtracted, clipped to
    the parent's interval.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.seconds - covered
    return out


class Tracer:
    """Records spans; ``group_prefix`` namespaces the Spark job groups."""

    def __init__(self, spark_context, group_prefix: str):
        self.sc = spark_context
        self.group_prefix = group_prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._checkpoint_paths: list[dict[str, str]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_prefix + span.name, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # -- wrapping ------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from grandine_spark.plans import checkpoint, pipeline

        tracer = self
        for op in OPERATORS:
            fn = getattr(pipeline, op)

            def traced_op(*a, _fn=fn, _name=op, **kw):
                with tracer.span(_name):
                    return _fn(*a, **kw)

            self._patch(pipeline, op, traced_op)

        orig_checkpoint = checkpoint.Warehouse.checkpoint

        def traced_checkpoint(wh, df, stage, *a, **kw):
            paths = {
                wh.table_path(stage): f"checkpoint.{stage}.write",
                wh.lineage_path(stage): f"checkpoint.{stage}.lineage",
            }
            tracer._checkpoint_paths.append(paths)
            try:
                with tracer.span(f"checkpoint.{stage}"):
                    return orig_checkpoint(wh, df, stage, *a, **kw)
            finally:
                tracer._checkpoint_paths.pop()

        self._patch(checkpoint.Warehouse, "checkpoint", traced_checkpoint)

        orig_parquet = DataFrameWriter.parquet

        def traced_parquet(writer, path, *a, **kw):
            paths = tracer._checkpoint_paths[-1] if tracer._checkpoint_paths else {}
            name = paths.get(path)
            if name is None:
                return orig_parquet(writer, path, *a, **kw)
            with tracer.span(name):
                return orig_parquet(writer, path, *a, **kw)

        self._patch(DataFrameWriter, "parquet", traced_parquet)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
