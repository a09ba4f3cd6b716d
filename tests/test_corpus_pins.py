"""Byte pins for every synthesized corpus at sf0.001.

Each `@cached_builder` corpus is rebuilt live through `__wrapped__` (the
parquet cache is bypassed), collected, sorted and hashed; the digest must
equal the one recorded in `corpus_pins.json`. A refactor of the corpus
builders is byte-identical exactly when this test passes.

Regenerate the pins (only for an intended change of a corpus):
    python -m tests.test_corpus_pins
"""

import datetime
import hashlib
import inspect
import json
from pathlib import Path

import pytest

from pdfplumber_rs_spark.sources import corpus

SF = "/root/testdata/sf0.001"
PINS = Path(__file__).with_name("corpus_pins.json")


def _builders() -> dict:
    """Every cached corpus builder in the module, by name."""
    return {
        name: f for name, f in vars(corpus).items()
        if callable(getattr(f, "__wrapped__", None))
        and list(inspect.signature(f.__wrapped__).parameters)[:2]
        == ["spark", "sf_dir"]
    }


def _digest(rows) -> str:
    def norm(v):
        # collect() renders timestamps in the local zone; the epoch
        # second is the same in every zone
        return v.timestamp() if isinstance(v, datetime.datetime) else v

    key = sorted(tuple(norm(v) for v in r) for r in rows)
    return hashlib.sha256(repr(key).encode()).hexdigest()


def _pins() -> dict:
    return json.loads(PINS.read_text())


def test_every_builder_is_pinned():
    assert sorted(_builders()) == sorted(_pins())


@pytest.mark.parametrize("name", sorted(_builders()))
def test_corpus_bytes_match_pin(spark, name):
    rows = _builders()[name].__wrapped__(spark, SF).collect()
    assert rows, name
    assert _digest(rows) == _pins().get(name), name


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
    pins = {n: _digest(f.__wrapped__(s, SF).collect())
            for n, f in sorted(_builders().items())}
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(pins)} pins to {PINS}")
    s.stop()
