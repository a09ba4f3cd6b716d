"""Tracing for the extraction benchmark: spans recorded around the
benchmark's own calls into each layer, the kernel layers timed
in-process, the Spark layers read back from Spark's event log, and the
Python workers' peak RSS read from /proc.

A span is {trace, id, parent, name, start, end, attrs}; start and end
are epoch milliseconds, the clock Spark's event log uses, so the
benchmark's job spans and Spark's job/stage/task spans nest.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._epoch_ms = time.time() * 1000.0
        self._pc0 = time.perf_counter()

    def now_ms(self) -> float:
        """Epoch milliseconds on the monotonic clock."""
        return self._epoch_ms + (time.perf_counter() - self._pc0) * 1000.0

    def add(self, trace: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"trace": trace, "id": sid, "parent": parent,
                           "name": name, "start": start, "end": end,
                           "attrs": attrs})
        return sid

    @contextmanager
    def span(self, trace: str, name: str, parent: int | None = None, **attrs):
        """Yields the span dict; its end is set when the block exits."""
        sid = self.add(trace, name, self.now_ms(), float("nan"), parent, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid]["end"] = self.now_ms()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def check_nesting(spans: list[dict], tol_ms: float = 2.0) -> list[str]:
    """Every span lies inside its parent (within tol_ms)."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is None:
            continue
        if s["start"] < p["start"] - tol_ms or s["end"] > p["end"] + tol_ms:
            bad.append(f"{s['name']} [{s['start']:.0f}, {s['end']:.0f}] not in "
                       f"{p['name']} [{p['start']:.0f}, {p['end']:.0f}]")
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    ys = sorted(xs)
    return ys[min(len(ys) - 1, max(0, int(round(q / 100.0 * len(ys) + 0.5)) - 1))]


# -- kernel layers, in-process ---------------------------------------------------------

KERNEL_LAYERS = ("open", "page_build", "words", "text", "edges", "tables")


@contextmanager
def _gc_paused():
    """Collect, then pause the cyclic GC for a timed pass, so the size of
    the benchmark's own heap (spans, inputs) does not tax the kernel."""
    gc.collect()
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def _batch(rows: list[tuple[str, bytes]]) -> pa.RecordBatch:
    """The extract kernel's input batch (url, html, page range)."""
    n = len(rows)
    return pa.RecordBatch.from_pydict(
        {"url": [u for u, _ in rows], "html": [h for _, h in rows],
         "page_start": [None] * n, "page_end": [None] * n},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary()),
                          ("page_start", pa.int32()), ("page_end", pa.int32())]))


def kernel_layers(tracer: Tracer, rows: list[tuple[str, bytes]], include,
                  rounds: int = 5) -> dict:
    """Time each kernel layer on rows = [(url, pdf bytes)], one span tree
    per document, and the whole make_extract_kernel callable over one
    Arrow batch of the same rows. Each round runs both passes, in
    alternating order, each with the cyclic GC paused; layer times are
    medians over rounds.

    Page.find_tables derives the edges itself, so the tables layer is
    find_tables minus the separately timed Page.edges. serialize_ms is
    batch_ms minus every layer: row building, Arrow in and Arrow out
    (plus any layer the kernel calls twice)."""
    from pdfplumber_rs_spark.kernel.document import open_pdf
    from pdfplumber_rs_spark.kernel.layout import extract_text_from_words
    from pdfplumber_rs_spark.pipeline import make_extract_kernel

    want_tables = include is None or "tables" in include
    n = len(rows)
    batch = _batch(rows)
    kernel = make_extract_kernel(ranged=True, include=include)
    counts = {"pages": 0, "chars": 0, "words": 0, "edges": 0, "cells": 0}
    doc_ms: list[float] = []

    def layers(r: int, tot: dict) -> None:
        for i, (url, data) in enumerate(rows):
            trace = f"kernel-r{r}-d{i}"
            with tracer.span(trace, "kernel.doc", url=url) as doc_span:
                with tracer.span(trace, "kernel.open", doc_span["id"]) as s:
                    doc = open_pdf(data)
                tot["open"] += s["end"] - s["start"]
                for p in range(doc.page_count):
                    with tracer.span(trace, "kernel.page", doc_span["id"],
                                     page=p + 1) as pg:
                        with tracer.span(trace, "kernel.page_build", pg["id"]) as s:
                            page = doc.page(p)
                        tot["page_build"] += s["end"] - s["start"]
                        with tracer.span(trace, "kernel.words", pg["id"]) as s:
                            words = page.extract_words()
                        tot["words"] += s["end"] - s["start"]
                        with tracer.span(trace, "kernel.text", pg["id"]) as s:
                            extract_text_from_words(words, None)
                        tot["text"] += s["end"] - s["start"]
                        edges = tables = ()
                        if want_tables:
                            with tracer.span(trace, "kernel.edges", pg["id"]) as s:
                                edges = page.edges()
                            e_ms = s["end"] - s["start"]
                            with tracer.span(trace, "kernel.tables", pg["id"]) as s:
                                tables = page.find_tables()
                            tot["edges"] += e_ms
                            tot["tables"] += (s["end"] - s["start"]) - e_ms
                    if r == 0:
                        counts["pages"] += 1
                        counts["chars"] += len(page.chars)
                        counts["words"] += len(words)
                        counts["edges"] += len(edges)
                        counts["cells"] += sum(len(row) for t in tables
                                               for row in t["rows"])
            doc_ms.append(doc_span["end"] - doc_span["start"])

    def whole(r: int, tot: dict) -> None:
        with tracer.span(f"kernel-r{r}-batch", "kernel.batch", docs=n) as s:
            out = list(kernel(iter([batch])))
        tot["batch"] = s["end"] - s["start"]
        tot["out_bytes"] = sum(b.nbytes for b in out)

    per_round: list[dict] = []
    for r in range(rounds):
        tot = dict.fromkeys(KERNEL_LAYERS, 0.0)
        for step in ((layers, whole) if r % 2 == 0 else (whole, layers)):
            with _gc_paused():
                step(r, tot)
        per_round.append(tot)

    med = {k: median([t[k] for t in per_round]) for k in per_round[0]}
    pages = max(counts["pages"], 1)
    m = {f"kernel.{k}_ms": med[k] / n for k in KERNEL_LAYERS}
    m["kernel.page_build_ms"] = med["page_build"] / pages
    m["kernel.pages_per_doc"] = pages / n
    m["kernel.batch_ms"] = med["batch"] / n
    m["kernel.serialize_ms"] = (med["batch"] - sum(med[k] for k in KERNEL_LAYERS)) / n
    m["kernel.doc_ms_p50"] = percentile(doc_ms, 50)
    m["kernel.doc_ms_p99"] = percentile(doc_ms, 99)
    m["kernel.doc_samples"] = len(doc_ms)
    for k in ("chars", "words", "edges", "cells"):
        m[f"kernel.{k}_per_page"] = counts[k] / pages
    m["kernel.out_bytes_per_doc"] = med["out_bytes"] / n
    return m


def kernel_input_s(rows: list[tuple[str, bytes]], include,
                   batch_rows: int = 256) -> float:
    """Seconds the make_extract_kernel callable takes over every row, in
    one process: the kernel's share of the Python workers' time."""
    from pdfplumber_rs_spark.pipeline import make_extract_kernel

    kernel = make_extract_kernel(ranged=True, include=include)
    with _gc_paused():
        t0 = time.perf_counter()
        for i in range(0, len(rows), batch_rows):
            for _ in kernel(iter([_batch(rows[i:i + batch_rows])])):
                pass
        return time.perf_counter() - t0


def layer_sum_ms(m: dict) -> float:
    """The kernel layer self-times plus serialize, per document; equals
    kernel.batch_ms."""
    return (m["kernel.open_ms"]
            + m["kernel.page_build_ms"] * m["kernel.pages_per_doc"]
            + sum(m[f"kernel.{k}_ms"] for k in ("words", "text", "edges", "tables"))
            + m["kernel.serialize_ms"])


# -- Spark layers, from the event log --------------------------------------------------

class EventLog:
    """Spark's own event-log listener, attached to the running context
    for the traced jobs only, so they run in the same context (same JIT
    state, same Python workers) as the untraced jobs they are compared
    with. Uncompressed and not rolling, so it reads back as JSON lines."""

    def __init__(self, spark, log_dir) -> None:
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        os.makedirs(log_dir, exist_ok=True)
        self.dir = str(log_dir)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)), conf,
            self._sc.hadoopConfiguration())
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def close(self) -> str:
        """Detach after every queued event is written; returns the file."""
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        (name,) = os.listdir(self.dir)
        return os.path.join(self.dir, name)


def _plan_metrics(node: dict, acc: dict, under_extract: bool = False) -> None:
    """acc[accumulatorId] = (role, metric name, metric type) for the plan
    nodes the benchmark reports on."""
    name = node.get("nodeName", "")
    role = None
    if name.startswith("Scan parquet"):
        role = "scan"
    elif name == "MapInArrow":
        # the spill kernel outputs (url, blob_path, n_pages); the extract
        # kernel outputs page rows
        role = "spill" if "n_pages" in node.get("simpleString", "") else "extract"
    elif name == "Exchange" and under_extract:
        role, under_extract = "salt", False
    if role:
        for m in node.get("metrics", []):
            acc[m["accumulatorId"]] = (role, m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, acc, under_extract or role == "extract")


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds; others as counted


def read_event_log(path: str) -> dict:
    acc: dict = {}
    jobs: dict = {}
    stages: dict = {}
    tasks: list = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], acc)
            elif ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"start": e["Submission Time"],
                                     "stages": e["Stage IDs"]}
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si:
                    stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                        "start": si["Submission Time"],
                        "end": si["Completion Time"]}
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                upd: dict = {}
                for a in ti.get("Accumulables", []):
                    if a["ID"] in acc or a.get("Metadata") == "sql":
                        upd[a["ID"]] = float(a.get("Update") or 0)
                tasks.append({
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "start": ti["Launch Time"], "end": ti["Finish Time"],
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "acc": upd})
    return {"acc": acc, "jobs": jobs, "stages": stages, "tasks": tasks}


def spark_layers(tracer: Tracer, log: dict, reps: list[dict], cores: int) -> dict:
    """Per-rep Spark layer metrics (medians over reps); adds job → stage
    → task spans under each rep span."""
    acc = log["acc"]

    def total(tasks, role, metric):
        s = 0.0
        for t in tasks:
            for aid, v in t["acc"].items():
                a = acc.get(aid)
                if a and a[0] == role and a[1] == metric:
                    s += v * _SCALE.get(a[2], 1.0)
        return s

    def touches(t, role):
        return any(acc.get(aid, ("",))[0] == role for aid in t["acc"])

    per_rep = []
    for rep in reps:
        rjobs = {j: v for j, v in log["jobs"].items()
                 if rep["start"] - 1 <= v["start"] <= rep["end"] + 1}
        skeys = {(sid, att) for v in rjobs.values() for sid in v["stages"]
                 for (s2, att) in log["stages"] if s2 == sid}
        rtasks = [t for t in log["tasks"] if t["stage"] in skeys]
        for j, v in sorted(rjobs.items()):
            jid = tracer.add(rep["trace"], "spark.job", v["start"],
                             v.get("end", v["start"]), rep["id"], job=j)
            for sid in v["stages"]:
                for key in sorted(k for k in skeys if k[0] == sid):
                    st = log["stages"][key]
                    sspan = tracer.add(rep["trace"], "spark.stage", st["start"],
                                       st["end"], jid, stage=key[0], attempt=key[1])
                    for t in rtasks:
                        if t["stage"] == key:
                            tracer.add(rep["trace"], "spark.task", t["start"],
                                       t["end"], sspan)
        ex_stages = {t["stage"] for t in rtasks if touches(t, "extract")}
        ex_tasks = [t for t in rtasks if t["stage"] in ex_stages]
        durs = [t["end"] - t["start"] for t in ex_tasks]
        ex_wall = sum(log["stages"][k]["end"] - log["stages"][k]["start"]
                      for k in ex_stages)
        first_ex = min(ex_stages, default=(0, 0))[0]
        down = {k for k in skeys if k[0] > first_ex and k not in ex_stages
                and not any(touches(t, "scan") for t in rtasks if t["stage"] == k)}
        down_tasks = [t for t in rtasks if t["stage"] in down]
        per_rep.append({
            "spark.scan_s": total(rtasks, "scan", "scan time"),
            "spark.salt_shuffle_bytes": total(rtasks, "salt", "shuffle bytes written"),
            "spark.salt_shuffle_write_s": total(rtasks, "salt", "shuffle write time"),
            "spark.fetch_wait_s": total(rtasks, "salt", "fetch wait time"),
            "spark.split_s": sum(t["end"] - t["start"] for t in rtasks
                                 if touches(t, "spill")) / 1000.0,
            "spark.py_start_s": sum(
                total(rtasks, role, m) for role in ("extract", "spill")
                for m in ("time to start Python workers",
                          "time to initialize Python workers")),
            "spark.py_run_s": total(rtasks, "extract", "time to run Python workers"),
            "spark.arrow_in_bytes": total(rtasks, "extract", "data sent to Python workers"),
            "spark.arrow_out_bytes": total(rtasks, "extract",
                                           "data returned from Python workers"),
            "spark.kernel_task_skew": (max(durs) / median(durs)
                                       if durs and median(durs) else 0.0),
            "spark.kernel_busy_share": (sum(durs) / (ex_wall * cores)
                                        if ex_wall else 0.0),
            "spark.downstream_s": sum(log["stages"][k]["end"] - log["stages"][k]["start"]
                                      for k in down) / 1000.0,
            "spark.spill_bytes": float(sum(t["spill"] for t in down_tasks)),
            "spark.gc_s": sum(t["gc_ms"] for t in down_tasks) / 1000.0,
        })
    return {k: median([r[k] for r in per_rep]) for k in per_rep[0]} if per_rep else {}


# -- Python worker memory ------------------------------------------------------------

def worker_peak_rss_mb() -> float:
    """Largest VmHWM over the PySpark Python workers this process
    started (descendants running pyspark.daemon or its forked workers)."""
    parent, cmd = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd[int(pid)] = f.read()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    me, peak = os.getpid(), 0.0

    def descends(pid):
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    for pid, c in cmd.items():
        if (b"pyspark.daemon" in c or b"pyspark.worker" in c) and descends(pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]) / 1024.0)
            except OSError:
                continue
    return peak
