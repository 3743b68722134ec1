"""The benchmark's workloads: their inputs and per-pipeline preparation.

Both workloads draw the same tables from a seed and so share goldens:
``crawl_resume`` must reproduce ``crawl_join`` byte for byte. See README.md
for why each workload was chosen.
"""

from __future__ import annotations

import os
import shutil

from . import inputs

# goldens exist for input seeds 0..INPUT_SEEDS-1; --seed n draws the inputs
# of seed n % INPUT_SEEDS
INPUT_SEEDS = 64


# the inputs every workload runs on: sources.synth's shapes, scaled so that a
# pipeline takes ~10 s on 4 cores (see README.md)
N_PAGES = 80_000
N_FEATURES = (200, 100, 200)  # polygons, roads, POIs
EXTENT = 0.3  # inputs.features_table's feature size scale
ZOOMS = (2, 7, 14)  # run_pipeline's defaults
JOIN_ZOOM = 7

# workload name -> whether it resumes from a killed run's warehouse
WORKLOADS = {"crawl_join": False, "crawl_resume": True}

# a killed run leaves these stages complete and the next one half-written
RESUME_DONE = ("geocoded", "join_rows")
RESUME_PARTIAL = "assignments"


def write_inputs(seed: int, root: str) -> tuple[str, str]:
    """Write the seed's pages and features under ``root``; returns their
    paths."""
    pages, feats = os.path.join(root, "pages"), os.path.join(root, "features")
    inputs.write_parquet(inputs.pages_table(N_PAGES, seed), pages, n_files=8)
    inputs.write_parquet(
        inputs.features_table(seed, *N_FEATURES, extent=EXTENT), feats, n_files=1
    )
    return pages, feats


def make_snapshot(complete_warehouse, snapshot_root: str) -> None:
    """Copy a finished warehouse's ``RESUME_DONE`` stages (tables and
    lineage) and the first half of the ``RESUME_PARTIAL`` table's data
    files, without its marker or lineage: the state a run killed while
    writing ``RESUME_PARTIAL`` leaves behind."""
    wh = complete_warehouse
    for stage in RESUME_DONE:
        for src in (wh.table_path(stage), wh.lineage_path(stage)):
            dst = os.path.join(snapshot_root, os.path.relpath(src, wh.root))
            shutil.copytree(src, dst)
    src = wh.table_path(RESUME_PARTIAL)
    dst = os.path.join(snapshot_root, os.path.relpath(src, wh.root))
    os.makedirs(dst)
    parts = sorted(p for p in os.listdir(src) if p.startswith("part-"))
    for p in parts[: len(parts) // 2]:
        shutil.copy2(os.path.join(src, p), dst)


def prepare_warehouse(path: str, snapshot: str | None) -> None:
    """A fresh warehouse: empty, or a copy of the resume snapshot."""
    shutil.rmtree(path, ignore_errors=True)
    if snapshot is None:
        os.makedirs(path)
    else:
        shutil.copytree(snapshot, path)


def files_state(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict[str, tuple[int, int]], root: str) -> int:
    """Bytes of the files under ``root`` that are new or changed since
    ``before``."""
    return sum(s[0] for p, s in files_state(root).items() if before.get(p) != s)
