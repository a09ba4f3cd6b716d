"""The shared Arrow row adapter (no Spark session needed)."""

from pathlib import Path

import pyarrow as pa
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pdfplumber_rs_spark.arrow_rows import rows_kernel

OUT = StructType([StructField("k", LongType(), False),
                  StructField("v", StringType())])


def _batch(n: int, start: int = 0) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {"k": list(range(start, start + n)), "s": [f"s{i}" for i in range(n)]})


def _run(fn, batches, flush_rows=None) -> list[pa.RecordBatch]:
    return list(rows_kernel(fn, OUT, flush_rows)(iter(batches)))


def test_flush_rows_splits_each_input_batch():
    out = _run(lambda k, s: [{"k": k, "v": s}], [_batch(5)], flush_rows=2)
    assert [b.num_rows for b in out] == [2, 2, 1]
    assert pa.Table.from_batches(out).column("k").to_pylist() == [0, 1, 2, 3, 4]


def test_one_output_batch_per_input_batch():
    out = _run(lambda k, s: [{"k": k, "v": s}], [_batch(3), _batch(4, 3)])
    assert [b.num_rows for b in out] == [3, 4]
    assert out[0].schema.names == ["k", "v"]


def test_one_to_many_and_zero_rows():
    def fan(k, s):  # k rows for input k: 0 → none, 2 → two
        return ({"k": k, "v": f"{s}.{i}"} for i in range(k))

    out = _run(fan, [_batch(3)], flush_rows=2)
    rows = pa.Table.from_batches(out).to_pylist()
    assert rows == [{"k": 1, "v": "s1.0"}, {"k": 2, "v": "s2.0"},
                    {"k": 2, "v": "s2.1"}]
    assert [b.num_rows for b in out] == [2, 1]
    # an input batch that yields no rows yields no output batch
    assert _run(lambda k, s: [], [_batch(3)]) == []


def test_no_hand_rolled_arrow_loops():
    """Row ↔ Arrow conversion lives in the adapter module only."""
    pkg = Path(__file__).resolve().parents[1] / "pdfplumber_rs_spark"
    hits = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if "to_pydict" in p.read_text() or "from_pylist" in p.read_text()
    )
    assert hits == ["arrow_rows.py"]
