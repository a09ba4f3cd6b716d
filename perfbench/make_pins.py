"""Regenerate perfbench/pins.json from the current engine:

- the canary input hash of every workload (checked by every run);
- the input hash of every workload for seeds FIRST..LAST;
- the objects_full digest of the exploded chars for those seeds, pinned
  only when the run's output matches the DuckDB oracle.

    python3 perfbench/make_pins.py 0 39

A run with a pinned seed refuses to report when its inputs differ from
the pins, so regenerate them only on purpose, when a change to the
corpus builders or to pdfgen is meant to change the inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run as R
import workloads as W


def main(first: int, last: int) -> int:
    run_dir = R.WORK / f"pins-{os.getpid()}-{time.time_ns()}"
    R.prepare(run_dir)
    pins: dict = {"canary": {}, "inputs": {}, "chars": {}}
    spark = R.session(len(os.sched_getaffinity(0)), run_dir)
    try:
        for w in W.WORKLOADS.values():
            for seed in range(first, last + 1):
                inputs = W.materialize(spark, w, seed, str(run_dir / "tables"))
                canary = pins["canary"].setdefault(w.name, inputs.canary_sha256)
                if canary != inputs.canary_sha256:
                    raise SystemExit(f"{w.name}: the canary depends on the seed")
                pins["inputs"].setdefault(w.name, {})[str(seed)] = inputs.sha256
                if w.name == "objects_full":
                    v = W.verify(spark, inputs, {})
                    if v.failed:
                        raise SystemExit(f"objects_full seed {seed}: {v.detail}")
                    pins["chars"][str(seed)] = v.chars_digest
                shutil.rmtree(run_dir / "corpus", ignore_errors=True)
                print(f"{w.name} seed {seed}: {inputs.sha256}", file=sys.stderr)
    finally:
        R.stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    path = R.BENCH / "pins.json"
    path.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(R.BENCH), str(R.ROOT)]
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
