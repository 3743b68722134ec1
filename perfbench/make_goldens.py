"""Regenerate ``goldens.json``: every stage's lineage summary for each input
seed, from one cold ``crawl_join`` pipeline per seed.

    python3 perfbench/make_goldens.py [first_seed last_seed]

Run it only when a change is meant to alter the pipeline's output, and say
so in that change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

if __name__ == "__main__":
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import run  # noqa: E402
from perfbench.gate import GOLDENS, STAGES, lineage_summary, load_goldens  # noqa: E402
from perfbench.workloads import INPUT_SEEDS, write_inputs  # noqa: E402


def main(argv: list[str]) -> int:
    first, last = (int(a) for a in argv) if argv else (0, INPUT_SEEDS - 1)
    work = os.path.join(run.ROOT, ".perfbench_work", f"goldens-{os.getpid()}")
    run.configure_env(work)
    b = run.Bench(False, 0, 0, False, work)
    b.start_session()
    goldens = load_goldens()
    try:
        for seed in range(first, last + 1):
            pages, feats = write_inputs(seed, os.path.join(work, "inputs"))
            out = b.pipeline(pages, feats, os.path.join(work, "wh"))
            wh = out["warehouse"]
            goldens[str(seed)] = {s: lineage_summary(wh.lineage_path(s)) for s in STAGES}
            print(seed, goldens[str(seed)]["tiles"], flush=True)
            for d in ("inputs", "wh"):
                shutil.rmtree(os.path.join(work, d))
            with open(GOLDENS, "w") as f:
                json.dump(dict(sorted(goldens.items(), key=lambda kv: int(kv[0]))), f, indent=1)
                f.write("\n")
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
