"""Tests of the extraction benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark once per run (about a minute each); the
others need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import run as R  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402


def _bench(*args, cwd=ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"),
                           *args], cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# -- verification ------------------------------------------------------------

def _texts(texts):
    return pd.DataFrame({"doc_id": list(range(len(texts))),
                         "extracted_text": texts})


def _verdict(got, want, **kw):
    return W.verdict(len(want), {"pdf_text_roundtrip": got},
                     {"pdf_text_roundtrip": want}, **kw)


def test_matching_output_passes():
    v = _verdict(_texts(["a b", "c"]), _texts(["a b", "c"]))
    (sh, oh), = v.hashes.values()
    assert v.failed == 0 and sh == oh


def test_wrong_expected_output_fails_the_document():
    v = _verdict(_texts(["a b", "c"]), _texts(["a b", "c d"]))
    (sh, oh), = v.hashes.values()
    assert v.failed == 1 and sh != oh


def test_wrong_pinned_hash_reports_failure():
    v = _verdict(_texts(["a", "b"]), _texts(["a", "b"]),
                 chars_digest="0" * 64, pinned_digest="1" * 64)
    assert v.failed == 2 and "pinned" in v.detail


def test_kernel_error_rows_count_as_failures():
    got = _texts(["", "c"])
    got.attrs["errors"] = 1
    assert _verdict(got, _texts(["", "c"])).failed == 1


def test_inputs_are_a_function_of_the_seed():
    w = W.WORKLOADS["text_roundtrip"]
    a, b = W.documents_table(w, 7), W.documents_table(w, 7)
    assert a.equals(b)
    c = W.documents_table(w, 8)
    n = W.CANARY
    assert a.slice(0, n).equals(c.slice(0, n))      # the canary is fixed
    assert not a.slice(n).equals(c.slice(n))         # the rest is seeded


# -- kernel layers -------------------------------------------------------------

@pytest.mark.parametrize("include", [(), ("tables",), None])
def test_kernel_layers_sum_to_the_batch(include):
    from pdfplumber_rs_spark.sources import pdfgen

    rows = [("https://t/1.pdf", pdfgen.fixture_complex(2)),
            ("https://t/2.pdf", pdfgen.pdf_from_text("one\ntwo", lines_per_page=1))]
    tracer = T.Tracer()
    m = T.kernel_layers(tracer, rows, include, rounds=2)
    assert T.layer_sum_ms(m) == pytest.approx(m["kernel.batch_ms"], rel=1e-9)
    assert m["kernel.pages_per_doc"] == 2.0
    if include == ():
        assert m["kernel.edges_ms"] == m["kernel.tables_ms"] == 0.0
    else:
        assert m["kernel.cells_per_page"] > 0 and m["kernel.edges_per_page"] > 0
    assert not T.check_nesting(tracer.spans)


def test_nesting_check_finds_an_escaping_child():
    tracer = T.Tracer()
    parent = tracer.add("t", "stage", 10.0, 20.0)
    tracer.add("t", "task", 12.0, 19.0, parent)
    assert not T.check_nesting(tracer.spans)
    tracer.add("t", "task", 15.0, 30.0, parent)
    assert len(T.check_nesting(tracer.spans)) == 1


# -- the command ------------------------------------------------------------------

def test_bare_directory_exits_nonzero_without_a_result():
    bare = R.WORK / f"bare-{os.getpid()}"
    try:
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        proc = _bench("--workload", "text_roundtrip", "--seed", "1",
                      "--seconds", "1", "--trace", "0", cwd=bare)
        assert proc.returncode != 0
        assert not any(line.startswith("{") for line in proc.stdout.splitlines())
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_benchmark_json_lists_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER


@pytest.mark.parametrize("workload", sorted(W.SMOKE))
def test_smoke_traced_run(workload):
    """Every workload on tiny inputs: set-up, verification, the untraced
    and the traced jobs, the kernel layers and the spans."""
    before = set((R.WORK / "out").glob("spans-*")) if (R.WORK / "out").exists() else set()
    res = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "2",
                         "--trace", "1", "--smoke"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(R.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.py_run_s"] > 0 and m["spark.arrow_out_bytes"] > 0
    assert m["spark.scan_s"] >= 0 and m["kernel.batch_ms"] > 0
    (spans_file,) = set((R.WORK / "out").glob(f"spans-{workload}-*")) - before
    spans = [json.loads(line) for line in spans_file.read_text().splitlines()]
    spans_file.unlink()
    names = {s["name"] for s in spans}
    assert {"bench.traced", "spark.job", "spark.stage", "spark.task",
            "kernel.doc", "kernel.open", "kernel.batch"} <= names
    assert not T.check_nesting(spans)


def test_smoke_untraced_run():
    res = _result(_bench("--workload", "text_roundtrip", "--seed", "3",
                         "--seconds", "2", "--trace", "0", "--smoke"))
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == R.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
