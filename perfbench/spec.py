"""Validation of ``BENCHMARK.json`` and of the result line a run prints."""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH_RE = re.compile(r"[A-Za-z0-9_./-]{1,200}")
MAX_BOUND = 0.25

_TOP_KEYS = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
_RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _check_metrics(entries, keys: set[str], lo: int, hi: int, where: str) -> list[str]:
    if not isinstance(entries, list) or not lo <= len(entries) <= hi:
        return [f"{where}: need a list of {lo} to {hi} metrics"]
    errs = []
    for e in entries:
        if not isinstance(e, dict) or set(e) != keys:
            errs.append(f"{where}: {e!r} must have exactly the keys {sorted(keys)}")
            continue
        if not UNIT_RE.fullmatch(str(e["unit"])):
            errs.append(f"{where}: bad unit {e['unit']!r} of {e['name']!r}")
        if e["better"] not in ("higher", "lower"):
            errs.append(f"{where}: 'better' of {e['name']!r} is not higher/lower")
        if "bound" in keys and not (
            isinstance(e["bound"], (int, float)) and 0 < e["bound"] <= MAX_BOUND
        ):
            errs.append(f"{where}: bound of {e['name']!r} must be in (0, {MAX_BOUND}]")
    return errs


def validate(bench: dict) -> list[str]:
    """Every way ``bench`` breaks the benchmark contract; empty if none."""
    if not isinstance(bench, dict) or set(bench) != _TOP_KEYS:
        return [f"top-level keys must be exactly {sorted(_TOP_KEYS)}"]
    errs = []

    cmd = bench["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32) or not all(
        isinstance(c, str) and len(c) <= 200 for c in cmd
    ):
        errs.append("command: 1 to 32 strings of at most 200 characters")
    elif any(c.startswith("/") or ".." in c.split("/") for c in cmd):
        errs.append("command: no absolute paths and no '..'")

    paths = bench["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16) or not all(
        isinstance(p, str) and PATH_RE.fullmatch(p) and ".." not in p.split("/")
        and not p.startswith("/")
        for p in paths
    ):
        errs.append("paths: 1 to 16 relative directories")

    rs = bench["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        errs.append("run_seconds: a whole number from 1 to 60")

    wls = bench["workloads"]
    if not (isinstance(wls, list) and 2 <= len(wls) <= 8):
        errs.append("workloads: 2 to 8")
        wls = []
    for w in wls:
        if not isinstance(w, dict) or set(w) != {"name", "why"}:
            errs.append(f"workload {w!r} must have exactly name and why")
        elif not (isinstance(w["why"], str) and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]):
            errs.append(f"workload {w['name']!r}: 'why' is one line of at most 200 characters")

    e2e = bench["end_to_end"]
    errs += _check_metrics(e2e, {"name", "unit", "better", "bound"}, 1, 16, "end_to_end")
    errs += _check_metrics(bench["per_layer"], {"name", "unit", "better"}, 1, 128, "per_layer")
    if isinstance(e2e, list) and not any(
        isinstance(e, dict) and e.get("name") == "setup_s" and e.get("unit") == "s"
        and e.get("better") == "lower"
        for e in e2e
    ):
        errs.append("end_to_end: needs setup_s in s, lower is better")

    names = [
        e.get("name") for group in ("workloads", "end_to_end", "per_layer")
        if isinstance(bench[group], list) for e in bench[group] if isinstance(e, dict)
    ]
    for n in names:
        if not (isinstance(n, str) and NAME_RE.fullmatch(n)):
            errs.append(f"bad name {n!r}")
    dupes = sorted({n for n in names if names.count(n) > 1}, key=str)
    if dupes:
        errs.append(f"names used more than once: {dupes}")
    return errs


def validate_result(bench: dict, result: dict, trace: bool) -> list[str]:
    """Every way a run's result line breaks the contract; empty if none."""
    if set(result) != _RESULT_KEYS:
        return [f"result keys must be exactly {sorted(_RESULT_KEYS)}"]
    errs = []
    if not isinstance(result["correct"], bool):
        errs.append("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool) or result[k] < 0:
            errs.append(f"{k} must be a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        errs.append("attempted must be at least 1")
    want = {e["name"]: e["unit"] for e in bench["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        errs.append(f"metric names differ: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}")
    for name, v in got.items():
        if name in want and (
            not isinstance(v, dict) or set(v) != {"value", "unit"} or v["unit"] != want[name]
            or not isinstance(v["value"], (int, float)) or isinstance(v["value"], bool)
        ):
            errs.append(f"metric {name!r} must be {{value: number, unit: {want[name]!r}}}")
    return errs
