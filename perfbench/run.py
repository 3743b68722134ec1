"""Pipeline benchmark: ``plans.pipeline.run_pipeline`` as a closed loop.

    python3 perfbench/run.py --workload crawl_join --seed 3 --seconds 10 --trace 0

Run from the repository root. One process runs one workload: it starts a
``local[nproc]`` session, writes the seed's inputs, warms up with an
untimed pipeline, then runs one pipeline at a time, each into a fresh
warehouse, until ``--seconds`` have passed and at least two ran. Every
stage's lineage is checked against ``goldens.json``. The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics (medians over the loop), with ``--trace 1`` the per-layer metrics
of the traced pipelines, which alternate with untraced ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT  # import the benchmark as the perfbench package

from perfbench import spec, workloads as W  # noqa: E402
from perfbench.gate import STAGES, check, lineage_summary, load_goldens  # noqa: E402
from perfbench.rss import PeakRss, tree_pids  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

MB = 1e6
# A fresh JVM runs its first pipeline ~3x slower than warm and keeps getting
# faster, by less each time, for about three more. Untraced runs time from the
# second pipeline on, at least MIN_PIPELINES of them: one pipeline is ~10 s
# on 4 cores and a run's set-up ~35 s, and a full pass of 48 runs must end
# within 3420 s. Traced runs warm up once more, so that their
# untraced-traced comparison sits on the flatter part of the curve.
MIN_PIPELINES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_memory_mb() -> int:
    """3 GiB, or half of physical RAM on a smaller box."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(3072, total_kb // 2048)


def configure_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


class Bench:
    def __init__(self, resume: bool, seed: int, seconds: float, trace: bool, work: str):
        from grandine_spark.plans.checkpoint import Warehouse
        from grandine_spark.plans.pipeline import run_pipeline

        self.resume = resume
        self.input_seed = seed % W.INPUT_SEEDS
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.run_pipeline = run_pipeline
        self.Warehouse = Warehouse
        self.spark = None
        self.stopped = False

    # -- set-up ----------------------------------------------------------------
    def start_session(self) -> float:
        from grandine_spark.session import get_spark

        conf = {
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t

    def pipeline(self, pages: str, feats: str, wh_root: str) -> dict:
        return self.run_pipeline(
            self.spark,
            self.spark.read.parquet(pages),
            self.spark.read.parquet(feats),
            wh_root,
            zooms=list(W.ZOOMS),
            join_zoom=W.JOIN_ZOOM,
        )

    def setup(self) -> dict[str, float]:
        """Session, inputs, then untimed pipelines on the real inputs: the
        warm-up (JIT, codegen, Python workers for the PIP UDF, classifier and
        encoder). The first one's warehouse seeds the resume snapshot."""
        t = {"session.start_s": self.start_session()}

        s = time.perf_counter()
        self.pages, self.feats = W.write_inputs(self.input_seed, os.path.join(self.work, "inputs"))
        t["inputs_s"] = time.perf_counter() - s

        s = time.perf_counter()
        warm = [
            self.pipeline(self.pages, self.feats, os.path.join(self.work, f"warmup-{k}"))
            for k in range(1 + self.trace)
        ]
        t["warmup_s"] = time.perf_counter() - s

        self.snapshot = None
        if self.resume:
            s = time.perf_counter()
            self.snapshot = os.path.join(self.work, "snapshot")
            W.make_snapshot(warm[0]["warehouse"], self.snapshot)
            t["snapshot_s"] = time.perf_counter() - s
        return t

    # -- one timed pipeline ------------------------------------------------------
    def iteration(self, k: int, goldens: dict) -> dict:
        wh_root = os.path.join(self.work, "wh")
        s = time.perf_counter()
        W.prepare_warehouse(wh_root, self.snapshot)
        # traced runs go untraced, traced, traced, untraced, ... so a warming
        # trend cancels out of the tracing overhead
        it = {"prep_s": time.perf_counter() - s, "traced": self.trace and k % 4 in (1, 2)}
        before = W.files_state(wh_root)

        tracer = None
        if it["traced"]:
            tracer = Tracer(self.spark.sparkContext, f"pb{k}:")
            tracer.install()
        try:
            with PeakRss(self.spark.sparkContext._gateway.proc.pid) as rss:
                s = time.perf_counter()
                try:
                    if tracer:
                        with tracer.span("pipeline"):
                            self.pipeline(self.pages, self.feats, wh_root)
                    else:
                        self.pipeline(self.pages, self.feats, wh_root)
                except Exception:  # a failed stage is counted, the loop goes on
                    traceback.print_exc()
                it["pipeline_s"] = time.perf_counter() - s
        finally:
            if tracer:
                tracer.uninstall()
        it["peak_rss_mb"] = rss.peak_bytes / MB
        it["warehouse_mb"] = W.bytes_written(before, wh_root) / MB

        wh = self.Warehouse(self.spark, wh_root)
        verdict = check(wh, goldens)
        for stage, why in verdict.items():
            if why:
                print(f"stage {stage} failed the gate: {why}", file=sys.stderr)
        it["failed"] = sum(why is not None for why in verdict.values())
        it["attempted"] = len(STAGES)

        if tracer:
            it["spans"] = tracer.spans
            it["group_prefix"] = tracer.group_prefix
            it["summaries"] = {}
            it["stage_bytes"] = {}
            for stage in STAGES:
                if verdict[stage] is None or not verdict[stage].startswith("no lineage"):
                    it["summaries"][stage] = lineage_summary(wh.lineage_path(stage))
                it["stage_bytes"][stage] = sum(
                    W.bytes_written(before, p)
                    for p in (wh.table_path(stage), wh.lineage_path(stage))
                )
            it["tiles_path"] = None
            if os.path.isdir(wh.table_path("tiles")):
                it["tiles_path"] = os.path.join(self.work, f"tiles-{k}")
                os.rename(wh.table_path("tiles"), it["tiles_path"])
        return it

    def loop(self) -> list[dict]:
        """Closed loop until ``seconds`` have passed and at least
        ``MIN_PIPELINES`` ran; traced runs also finish their last
        untraced-traced-traced-untraced block."""
        goldens = load_goldens().get(str(self.input_seed), {})
        its, start = [], time.perf_counter()
        while len(its) < MIN_PIPELINES or time.perf_counter() - start < self.seconds or (
            self.trace and len(its) % 4
        ):
            its.append(self.iteration(len(its), goldens))
        return its

    # -- teardown --------------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        self.stopped = True
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        pids = tree_pids(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 20
        for pid in pids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, 9)
                    break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_to_end(setup: dict, its: list[dict]) -> dict[str, float]:
    untraced = [i for i in its if not i["traced"]]

    def med(k):
        return statistics.median(i[k] for i in untraced)

    return {
        "pipeline_s": med("pipeline_s"),
        # the benchmark's own input generation is not set-up of the program
        "setup_s": sum(v for k, v in setup.items() if k != "inputs_s") + med("prep_s"),
        "peak_rss_mb": med("peak_rss_mb"),
        "warehouse_mb": med("warehouse_mb"),
    }


def per_layer(setup: dict, its: list[dict], eventlog_dir: str) -> dict[str, float]:
    from perfbench.eventlog import parse
    from perfbench.layers import pipeline_layers

    (log,) = os.listdir(eventlog_dir)
    groups = parse(os.path.join(eventlog_dir, log))
    traced = [
        pipeline_layers(
            i["spans"], groups, i["group_prefix"], i["summaries"], i["stage_bytes"],
            i["tiles_path"],
        )
        for i in its if i["traced"]
    ]
    m = {k: statistics.median(t[k] for t in traced) for k in traced[0]}
    untraced = statistics.median(i["pipeline_s"] for i in its if not i["traced"])
    m["trace.untraced_pipeline_s"] = untraced
    m["trace.overhead_s"] = m["trace.pipeline_s"] - untraced
    m["session.start_s"] = setup["session.start_s"]
    m["warmup_s"] = setup["warmup_s"]
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs = spec.validate(bench)
    names = [w["name"] for w in bench["workloads"]] if not errs else []
    if args.workload not in names or args.workload not in W.WORKLOADS:
        errs.append(f"unknown workload {args.workload!r}; known: {names}")
    if errs:
        print("\n".join(errs), file=sys.stderr)
        return 2
    try:
        import grandine_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    b = Bench(W.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        setup = b.setup()
        its = b.loop()
        b.stop()
        if args.trace:
            metrics = per_layer(setup, its, os.path.join(work, "eventlog"))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = [vars(s) for i in its if i["traced"] for s in i["spans"]]
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
        else:
            metrics = end_to_end(setup, its)
    finally:
        if b.spark is not None and not b.stopped:
            b.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(i["attempted"] for i in its)
    failed = sum(i["failed"] for i in its)
    key = "per_layer" if args.trace else "end_to_end"
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {e["name"]: {"value": metrics[e["name"]], "unit": e["unit"]} for e in bench[key]},
    }
    errs = spec.validate_result(bench, result, bool(args.trace))
    if errs:
        print("\n".join(errs), file=sys.stderr)
        return 1
    print(
        f"{args.workload} seed={args.seed}: {len(its)} pipelines, "
        f"stage_fail_ratio={failed / attempted:.3f} ({failed}/{attempted} stages); "
        f"pipeline_s per pipeline: {[round(i['pipeline_s'], 3) for i in its]}; "
        f"peak_rss_mb per pipeline: {[round(i['peak_rss_mb']) for i in its]}; "
        f"setup: { {k: round(v, 3) for k, v in setup.items()} }"
    )
    for n, v in result["metrics"].items():
        print(f"  {n} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
