"""Correctness gate: each stage's ``_LINEAGE`` against checked-in goldens.

A stage's lineage rows ``(bucket, key_min, key_max, row_count, digest)``
are order- and partitioning-independent, so one sha over them, sorted by
bucket, pins the stage's whole output. ``goldens.json`` holds that sha and
the row count per input set, input seed and stage.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

STAGES = ("geocoded", "join_rows", "assignments", "cellcounts", "tiles")
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")
_COLS = ["bucket", "key_min", "key_max", "row_count", "digest"]


def lineage_summary(lineage_dir: str) -> dict:
    """``{"rows": total rows, "sha": sha256 of the sorted lineage rows}``."""
    t = pq.read_table(lineage_dir, columns=_COLS).to_pylist()
    rows = sorted(tuple(r[c] for c in _COLS) for r in t)
    blob = json.dumps(rows, separators=(",", ":")).encode()
    return {"rows": sum(r[3] for r in rows), "sha": hashlib.sha256(blob).hexdigest()[:32]}


def load_goldens(path: str = GOLDENS) -> dict:
    with open(path) as f:
        return json.load(f)


def check(warehouse, expected: dict[str, dict]) -> dict[str, str | None]:
    """Per stage: ``None`` when it matches ``expected``, else why not."""
    out = {}
    for stage in STAGES:
        try:
            got = lineage_summary(warehouse.lineage_path(stage))
        except (OSError, ValueError) as e:  # missing or unreadable lineage
            out[stage] = f"no lineage: {e}"
            continue
        want = expected.get(stage)
        out[stage] = None if got == want else f"got {got}, want {want}"
    return out
