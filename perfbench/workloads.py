"""Workload definitions for the extraction benchmark: seeded inputs,
their materialization through the engine's corpus builders, the timed
Spark job of each workload, and the verification of its output against
the DuckDB oracles of ``__spark_entry__.oracle_sql()``.

Inputs are generated from the seed inside the benchmark's work
directory. The ``documents`` table mimics the schema and distributions
of the generated ``documents`` table at sf0.1 (a 31-word vocabulary,
10..99 words per document, one line each); the ``lineitem`` table
carries the four columns the table corpus reads, with the sf0.1 shape
(1..7 rows per order, quantity 1..50, flag A/N/R).
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch dup").split()
LANGS = ("en", "en", "en", "en", "en", "en", "fr", "fr", "es", "es", "de",
         "de", "zh", "zh")

# The first CANARY documents and orders of every input come from a fixed
# seed, so every run renders the same canary PDFs whatever its seed and
# checks their bytes against pins.json (see check_pins).
CANARY = 16

CORPUS_URL = "https://corpus.example/{:08d}.pdf"  # corpus_table's url form


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int = 0            # one-page documents rendered by corpus_table
    orders: int = 0          # order-key bound of lineitem_table_corpus
    giants: int = 0          # giant documents built with pdf_from_text
    giant_pages: int = 0     # pages (one line each) per giant
    max_bytes: int = 0       # extract_pages split threshold (giants only)
    include: tuple | None = ()  # extract_pages include=


# objects_full: each giant, unsplit, outlasts a core's share of the rest
# of its job: 140 pages against (160 + 161 + 140) / 4 = 115 page-sized
# units on 4 cores.
WORKLOADS = {
    w.name: w for w in (
        Workload("text_roundtrip", docs=800),
        Workload("objects_full", docs=160, orders=160, giants=2,
                 giant_pages=140, max_bytes=32 << 10, include=None),
    )
}

SMOKE = {
    "text_roundtrip": Workload("text_roundtrip", docs=40),
    "objects_full": Workload("objects_full", docs=24, orders=24, giants=2,
                             giant_pages=24, max_bytes=8 << 10, include=None),
}


# -- seeded tables -------------------------------------------------------------

def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))


def documents_table(w: Workload, seed: int) -> pa.Table:
    """doc_id, text, lang, source, n_chars: CANARY fixed rows, then
    seeded rows."""
    cols = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    canary = random.Random(f"canary:{w.name}")
    rng = random.Random(f"{w.name}:{seed}")
    for i in range(w.docs):
        r = canary if i < CANARY else rng
        text = _doc_text(r)
        cols["doc_id"].append(i)
        cols["text"].append(text)
        cols["lang"].append(r.choice(LANGS))
        cols["source"].append(f"src{i % 10}")
        cols["n_chars"].append(len(text))
    return pa.table(cols, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))


def lineitem_table(w: Workload, seed: int) -> pa.Table:
    """Orders 0..w.orders, 1..7 lineitems each (the first CANARY orders
    fixed)."""
    cols = {"l_orderkey": [], "l_linenumber": [], "l_quantity": [],
            "l_returnflag": []}
    canary = random.Random(f"canary:{w.name}:orders")
    rng = random.Random(f"{w.name}:orders:{seed}")
    for okey in range(w.orders + 1):
        r = canary if okey < CANARY else rng
        for _ in range(r.randint(1, 7)):
            cols["l_orderkey"].append(okey)
            cols["l_linenumber"].append(r.randint(1, 7))
            cols["l_quantity"].append(float(r.randint(1, 50)))
            cols["l_returnflag"].append(r.choice("ANR"))
    return pa.table(cols, schema=pa.schema([
        ("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_returnflag", pa.string())]))


def giants_table(w: Workload, seed: int) -> pa.Table:
    """Giant documents: one line per page, doc_ids after the one-page
    documents, rendered by the benchmark with pdf_from_text."""
    from pdfplumber_rs_spark.sources.pdfgen import pdf_from_text

    rng = random.Random(f"{w.name}:giants:{seed}")
    cols = {"doc_id": [], "url": [], "text": [], "html": []}
    for g in range(w.giants):
        doc_id = w.docs + g
        text = "\n".join(_doc_text(rng) for _ in range(w.giant_pages))
        cols["doc_id"].append(doc_id)
        cols["url"].append(CORPUS_URL.format(doc_id))
        cols["text"].append(text)
        cols["html"].append(pdf_from_text(text, lines_per_page=1))
    return pa.table(cols, schema=pa.schema([
        ("doc_id", pa.int64()), ("url", pa.string()), ("text", pa.string()),
        ("html", pa.binary())]))


# -- inputs: generate, materialize, hash ----------------------------------------

@dataclass
class Inputs:
    workload: Workload
    seed: int
    dir: str          # per-seed table directory (the corpus builders' sf_dir)
    rows: list        # [(url, pdf bytes)] sorted by url, every input document
    sha256: str       # of rows
    canary_sha256: str

    @property
    def n_docs(self) -> int:
        return len(self.rows)


def write_tables(w: Workload, seed: int, base: str) -> str:
    """Write the seeded source tables for (w, seed) under base."""
    d = os.path.join(base, f"{w.name}-seed{seed}")
    os.makedirs(d, exist_ok=True)
    if w.docs:
        pq.write_table(documents_table(w, seed), os.path.join(d, "documents.parquet"))
    if w.orders:
        pq.write_table(lineitem_table(w, seed), os.path.join(d, "lineitem.parquet"))
    if w.giants:
        pq.write_table(giants_table(w, seed), os.path.join(d, "giants.parquet"))
    return d


def corpus(spark, w: Workload, table_dir: str):
    """(url, html) of the workload through the corpus builders, which
    cache it under SPARK_GRAFT_CORPUS_CACHE (rendered on first use)."""
    from pdfplumber_rs_spark.sources.corpus import (corpus_table,
                                                    lineitem_table_corpus)

    parts = []
    if w.docs:
        parts.append(corpus_table(spark, table_dir))
    if w.orders:
        parts.append(lineitem_table_corpus(spark, table_dir, max_orderkey=w.orders))
    if w.giants:
        parts.append(spark.read.parquet(os.path.join(table_dir, "giants.parquet")))
    df = parts[0].select("url", "html")
    for p in parts[1:]:
        df = df.unionByName(p.select("url", "html"))
    return df


def materialize(spark, w: Workload, seed: int, base: str) -> Inputs:
    """Generate the seeded tables, render them once and hash the bytes."""
    d = write_tables(w, seed, base)
    rows = sorted((r["url"], bytes(r["html"]))
                  for r in corpus(spark, w, d).collect())
    return Inputs(w, seed, d, rows, _digest(rows),
                  _digest(r for r in rows if _key(r[0]) < CANARY))


def _key(url: str) -> int:
    """doc_id or l_orderkey of a corpus url."""
    return int(re.search(r"(\d+)\.pdf$", url).group(1))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for url, html in rows:
        h.update(url.encode())
        h.update(len(html).to_bytes(8, "little"))
        h.update(html)
    return h.hexdigest()


def check_pins(inputs: Inputs, pins: dict) -> list[str]:
    """Differences between the inputs and the pinned hashes: the canary
    always, the full input when the seed is pinned."""
    name, problems = inputs.workload.name, []
    want = pins.get("canary", {}).get(name)
    if want != inputs.canary_sha256:
        problems.append(f"{name}: canary input sha256 {inputs.canary_sha256} "
                        f"!= pinned {want}")
    want = pins.get("inputs", {}).get(name, {}).get(str(inputs.seed))
    if want is not None and want != inputs.sha256:
        problems.append(f"{name} seed {inputs.seed}: input sha256 "
                        f"{inputs.sha256} != pinned {want}")
    return problems


# -- timed jobs ----------------------------------------------------------------

def pages(spark, inputs: Inputs, num_partitions: int | None = None):
    """extract_pages as the workload calls it. num_partitions is the
    kernel stage's task count (None: the engine's default)."""
    from pdfplumber_rs_spark import pipeline as P

    w = inputs.workload
    kw = {"max_bytes": w.max_bytes} if w.max_bytes else {}
    return P.extract_pages(corpus(spark, w, inputs.dir), handle_skew=True,
                           num_partitions=num_partitions, include=w.include, **kw)


def job(spark, inputs: Inputs, num_partitions: int | None = None):
    """The workload's timed DataFrame (written to the noop sink)."""
    from pdfplumber_rs_spark import pipeline as P

    p = pages(spark, inputs, num_partitions)
    if inputs.workload.include is None:
        return P.chars_table(p)
    return P.document_text(p)


# -- verification ----------------------------------------------------------------

@dataclass
class Verdict:
    failed: int       # documents
    hashes: dict = field(default_factory=dict)  # check -> (spark, oracle) canon
    chars_digest: str | None = None
    detail: str = ""


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def oracle_frames(w: Workload, table_dir: str) -> dict:
    """Expected outputs from oracle_sql() in DuckDB over the run's own
    tables: {oracle query name: DataFrame}."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    out = {}
    try:
        docs = "select doc_id, text from read_parquet({})".format(
            _sql_str(os.path.join(table_dir, "documents.parquet")))
        if w.giants:
            docs += " union all select doc_id, text from read_parquet({})".format(
                _sql_str(os.path.join(table_dir, "giants.parquet")))
        con.execute(f"create view documents as {docs}")
        q = "pdf_char_count" if w.include is None else "pdf_text_roundtrip"
        out[q] = con.execute(sql[q]).fetchdf()
        if w.orders:
            con.execute("create view lineitem as select * from read_parquet({})"
                        .format(_sql_str(os.path.join(table_dir, "lineitem.parquet"))))
            q = sql["pdf_table_cells"].replace("l_orderkey <= 100",
                                               f"l_orderkey <= {w.orders}")
            out["pdf_table_cells"] = con.execute(q).fetchdf()
    finally:
        con.close()
    return out


def spark_frames(spark, inputs: Inputs):
    """Run the workload's pipeline again and collect its output in the
    oracles' shapes; objects_full also returns the chars digest (per url:
    the row count and the sum of xxhash64 over every chars_table column)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdfplumber_rs_spark import pipeline as P

    if inputs.workload.include is None:
        p = pages(spark, inputs).persist()
        try:
            ct = P.chars_table(p)
            per_url = ct.groupBy("url").agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*ct.columns).cast("decimal(38,0)")).alias("h"))
            rows = sorted((r["url"], r["n"], str(r["h"])) for r in per_url.collect())
            cells = P.cells_table(p).toPandas() if inputs.workload.orders else None
        finally:
            p.unpersist()
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        docs = [(u, n) for u, n, _ in rows if u.startswith("https://corpus.")]
        out = {"pdf_char_count": pd.DataFrame({
            "doc_id": [_key(u) for u, _ in docs],
            "n_chars_extracted": [n for _, n in docs]})}
        if cells is not None:
            out["pdf_table_cells"] = pd.DataFrame({
                "l_orderkey": [_key(u) for u in cells["url"]],
                "row": cells["row"].astype("int32"),
                "col": cells["col"].astype("int32"),
                "cell_text": cells["text"]})
        return out, digest
    docs = job(spark, inputs).select("url", "text", "error").toPandas()
    out = pd.DataFrame({"doc_id": [_key(u) for u in docs["url"]],
                        "extracted_text": docs["text"]})
    out.attrs["errors"] = int(docs["error"].notna().sum())
    return {"pdf_text_roundtrip": out}, None


KEYS = {"pdf_text_roundtrip": "doc_id", "pdf_char_count": "doc_id",
        "pdf_table_cells": "l_orderkey"}


def compare(spark_df, oracle_df, key: str) -> tuple[set, str, str]:
    """Keys whose rows differ between the two frames (plus, when the
    frames' canon hashes differ with no such key, a None entry), and both
    canon hashes. canon is scripts/check_contract.py's hash, the one the
    correctness gate uses."""
    from scripts.check_contract import canon

    _, sh = canon(spark_df)
    _, oh = canon(oracle_df)

    def groups(df):
        cols = sorted(df.columns)
        out: dict = {}
        for row in df[cols].itertuples(index=False):
            out.setdefault(getattr(row, key), []).append(tuple(str(v) for v in row))
        return {k: sorted(v) for k, v in out.items()}

    got, want = groups(spark_df), groups(oracle_df)
    bad = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
    if sh != oh and not bad:
        bad = {None}
    return bad, sh, oh


def verdict(n_docs: int, spark: dict, oracle: dict, chars_digest=None,
            pinned_digest=None) -> Verdict:
    """Failed documents: kernel error rows, documents whose rows differ
    from an oracle's, and every document when a pinned digest differs."""
    v = Verdict(0, chars_digest=chars_digest)
    notes = []
    for name, oracle_df in oracle.items():
        bad, sh, oh = compare(spark[name], oracle_df, KEYS[name])
        v.hashes[name] = (sh, oh)
        v.failed += len(bad) + int(spark[name].attrs.get("errors", 0))
        if bad:
            notes.append(f"{name}: {len(bad)} documents differ from the oracle")
    if pinned_digest is not None and chars_digest != pinned_digest:
        v.failed = n_docs
        notes.append(f"chars digest {chars_digest} != pinned {pinned_digest}")
    v.failed = min(v.failed, n_docs)
    v.detail = "; ".join(notes)
    return v


def verify(spark, inputs: Inputs, pins: dict) -> Verdict:
    frames, digest = spark_frames(spark, inputs)
    pinned = pins.get("chars", {}).get(str(inputs.seed)) if digest else None
    return verdict(inputs.n_docs, frames,
                   oracle_frames(inputs.workload, inputs.dir), digest, pinned)
