"""Extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload text_roundtrip --seed 1 \
        --seconds 16 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, renders them through the engine's corpus builders, times the
workload's Spark job in a closed loop (one job at a time, noop sink),
verifies the output against the DuckDB oracle and prints one JSON line
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics (kernel layers timed in-process, Spark layers from
Spark's event log) and writes the spans. --smoke shrinks every input
for a quick check. Everything the run writes stays under
.perfbench_work/ in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEMORY = "2g"  # of a 15 GB host shared with other jobs
KERNEL_SAMPLE = 48    # documents the traced run times in-process

END_TO_END = {
    "docs_per_s": "1/s", "wall_s": "s", "setup_s": "s",
    "verified_share": "ratio", "worker_peak_rss_mb": "MB",
    "scaling_eff": "ratio",
}
PER_LAYER = {
    "kernel.open_ms": "ms/doc", "kernel.page_build_ms": "ms/page",
    "kernel.pages_per_doc": "count", "kernel.words_ms": "ms/doc",
    "kernel.text_ms": "ms/doc", "kernel.edges_ms": "ms/doc",
    "kernel.tables_ms": "ms/doc", "kernel.batch_ms": "ms/doc",
    "kernel.serialize_ms": "ms/doc", "kernel.doc_ms_p50": "ms",
    "kernel.doc_ms_p99": "ms", "kernel.chars_per_page": "count",
    "kernel.words_per_page": "count", "kernel.edges_per_page": "count",
    "kernel.cells_per_page": "count", "kernel.out_bytes_per_doc": "B",
    "kernel.input_s": "s",
    "spark.scan_s": "s", "spark.salt_shuffle_bytes": "B",
    "spark.salt_shuffle_write_s": "s", "spark.fetch_wait_s": "s",
    "spark.split_s": "s", "spark.py_start_s": "s", "spark.py_run_s": "s",
    "spark.arrow_in_bytes": "B", "spark.arrow_out_bytes": "B",
    "spark.kernel_task_skew": "ratio", "spark.kernel_busy_share": "ratio",
    "spark.downstream_s": "s", "spark.spill_bytes": "B", "spark.gc_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; skips the pinned-hash checks")
    return ap.parse_args(argv)


def prepare(run_dir: Path) -> None:
    """Keep everything the engine writes inside the run directory."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_GRAFT_CORPUS_CACHE": str(run_dir / "corpus"),
        "SPARK_GRAFT_SPILL_DIR": str(run_dir / "spill"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })


def session(cores: int, run_dir: Path):
    """The one session recipe of every run and every tree compared."""
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData")
             .config("spark.local.dir", str(run_dir / "local"))
             .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
             .config("spark.sql.shuffle.partitions", str(2 * cores))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it (it exits
    when its stdin closes), and wait until it has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def timed(spark, pattern, seconds: float, min_groups: int, tracer):
    """Closed loop: run each (name, df) of pattern in turn to the noop
    sink, with the same GC fence before each job, and repeat the group
    until `seconds` have passed (at least min_groups times). Returns the
    groups' walls (None for a job that raised), the spans of the jobs
    that succeeded and the number that raised."""
    groups, spans, failed = [], [], 0
    deadline = time.perf_counter() + seconds
    while len(groups) < min_groups or time.perf_counter() < deadline:
        group = []
        for name, df in pattern:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            with tracer.span(f"{name}-{len(spans) + failed}", f"bench.{name}") as s:
                t0 = time.perf_counter()
                try:
                    df.write.format("noop").mode("overwrite").save()
                    wall = time.perf_counter() - t0
                except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
                    traceback.print_exc()
                    failed, wall = failed + 1, None
            if wall is not None:
                spans.append(s)
            group.append(wall)
        groups.append(group)
    if not spans:
        raise RuntimeError("every timed job failed")
    return groups, spans, failed


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def describe(name: str, xs: list[float]) -> str:
    from tracing import median

    return (f"{name}: median {median(xs):.4f} s, max {max(xs):.4f} (n={len(xs)}"
            f"; in order {' '.join(f'{x:.3f}' for x in xs)})")


def run(args) -> int:
    import tracing as T
    import workloads as W

    table = W.SMOKE if args.smoke else W.WORKLOADS
    if args.workload not in table:
        log(f"unknown workload {args.workload!r}; one of {sorted(table)}")
        return 2
    w = table[args.workload]
    pins = {} if args.smoke else json.loads((BENCH / "pins.json").read_text())
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    prepare(run_dir)
    tracer = T.Tracer()
    spark = None
    try:
        # -- set-up: session, inputs through the corpus builders,
        # verification (the same pipeline, collected) and one untimed job
        spark = session(cores, run_dir)
        t_session = time.perf_counter()
        inputs = W.materialize(spark, w, args.seed, str(run_dir / "tables"))
        log(f"{w.name} seed {args.seed}: {inputs.n_docs} docs, input sha256 "
            f"{inputs.sha256}")
        problems = [] if args.smoke else W.check_pins(inputs, pins)
        if problems:
            log("inputs changed; refusing to report:\n  " + "\n  ".join(problems))
            return 3
        t_inputs = time.perf_counter()
        verdict = W.verify(spark, inputs, pins)
        t_verify = time.perf_counter()
        df = W.job(spark, inputs)
        df.write.format("noop").mode("overwrite").save()
        setup_s = time.perf_counter() - T_START
        log(f"set-up {setup_s:.2f} s: session {t_session - T_START:.2f}, "
            f"inputs {t_inputs - t_session:.2f}, verification "
            f"{t_verify - t_inputs:.2f}, warmup {T_START + setup_s - t_verify:.2f}")
        for name, (sh, oh) in verdict.hashes.items():
            log(f"{name}: canon hash spark {sh} oracle {oh}")
        log(f"chars digest {verdict.chars_digest} {verdict.detail}")

        if args.trace:
            groups, _, failed_jobs = timed(spark, [("rep", df)],
                                           args.seconds * 0.5, 3, tracer)
            walls = [g[0] for g in groups if g[0] is not None]
            log(describe(f"wall_s local[{cores}]", walls))
            metrics, more = traced(args, spark, w, inputs, cores, run_dir,
                                   tracer, walls)
            jobs = len(groups) + more[0]
            failed_jobs += more[1]
        else:
            # each job with the kernel stage in one task (same session, same
            # inputs) sits between two default jobs, so scaling_eff pairs
            # jobs run close together
            one = W.job(spark, inputs, num_partitions=1)
            groups, _, failed_jobs = timed(
                spark, [("rep", df), ("rep1", one), ("rep", df)],
                args.seconds, 2, tracer)
            jobs = 3 * len(groups)
            walls = [x for g in groups for x in (g[0], g[2]) if x is not None]
            ratios = [g[1] / (cores * (g[0] + g[2]) / 2)
                      for g in groups if None not in g]
            rss = T.worker_peak_rss_mb()
            log(describe(f"wall_s local[{cores}]", walls))
            log(describe("wall_s kernel in one task",
                         [g[1] for g in groups if g[1] is not None]))
            wall = T.median(walls)
            metrics = {
                "docs_per_s": inputs.n_docs / wall,
                "wall_s": wall,
                "setup_s": setup_s,
                "worker_peak_rss_mb": rss,
                "scaling_eff": T.median(ratios),
            }
        spark.stop()
        spark = None

        # attempted: every document of every timed job and of the
        # verification job; a job that raised fails all its documents
        failed = failed_jobs * inputs.n_docs + verdict.failed
        attempted = (jobs + 1) * inputs.n_docs
        if not args.trace:
            metrics["verified_share"] = 1.0 - failed / attempted
        units = PER_LAYER if args.trace else END_TO_END
        for k, v in metrics.items():
            print(f"  {k:<28} {v:.6g} {units[k]}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def traced(args, spark, w, inputs, cores, run_dir, tracer, untraced_walls):
    """The traced half of a --trace 1 run: the same job with Spark's
    event log attached, then the kernel layers in-process. Returns the
    per-layer metrics and (jobs run, jobs failed)."""
    import tracing as T
    import workloads as W

    event_log = T.EventLog(spark, run_dir / "eventlog")
    try:
        groups, reps, failed_jobs = timed(spark, [("traced", W.job(spark, inputs))],
                                          args.seconds * 0.5, 3, tracer)
    finally:
        log_file = event_log.close()
    walls = [g[0] for g in groups if g[0] is not None]
    m = T.spark_layers(tracer, T.read_event_log(log_file), reps, cores)
    log(describe("wall_s traced", walls))

    # the layer sample leaves out the giants: one-page documents only
    rng = random.Random(f"kernel-sample:{args.seed}")
    small = [r for r in inputs.rows if not w.max_bytes or len(r[1]) <= w.max_bytes]
    sample = rng.sample(small, min(KERNEL_SAMPLE, len(small)))
    k = T.kernel_layers(tracer, sample, w.include)
    log(f"kernel sample {len(sample)} docs, {k.pop('kernel.doc_samples')} doc "
        f"timings; layer sum {T.layer_sum_ms(k):.4f} ms/doc, batch "
        f"{k['kernel.batch_ms']:.4f} ms/doc")
    m.update(k)
    m["kernel.input_s"] = T.kernel_input_s(inputs.rows, w.include)
    m["trace.wall_s"] = T.median(walls)
    m["trace.overhead_s"] = T.median(walls) - T.median(untraced_walls)
    log(f"kernel.input_s {m['kernel.input_s']:.4f} s (every input document "
        f"in one process) beside spark.py_run_s {m['spark.py_run_s']:.4f} s")
    bad = T.check_nesting(tracer.spans)
    if bad:
        log("spans do not nest:\n  " + "\n  ".join(bad[:5]))
    out_dir = WORK / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    spans = out_dir / f"spans-{w.name}-seed{args.seed}-{os.getpid()}.jsonl"
    tracer.write(str(spans))
    log(f"spans written to {spans}")
    return {k: m[k] for k in PER_LAYER}, (len(groups), failed_jobs)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(BENCH), str(ROOT)]
    try:
        import __spark_entry__  # noqa: F401
        import pdfplumber_rs_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        return 2
    try:
        return run(args)
    except Exception:  # noqa: BLE001 — a failed run exits non-zero, no result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
