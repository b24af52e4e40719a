"""The benchmark's workloads: what one repetition runs and how its output
is checked.

A workload exposes

* ``inputs(cache, seed)``: build or reuse its seeded inputs (in a child
  process) and set ``described``, what the main input holds;
* ``load(spark)``: read the input, return it;
* ``ops(spark, loaded)``: the named operations of one repetition, each a
  thunk returning a lazy DataFrame the harness forces to a noop sink;
* ``check(spark, loaded, name, df)``: compare one operation's output to
  its reference, returning (units that match, units checked).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import inputs

CORPUS_DOCS = 5000
CURATE_DOCS = 500

# One curate repetition runs these registry queries, which reach the
# dedup, curate and graph layers: dedup_cluster_keep_best runs MinHash-LSH,
# large-star/small-star components and keep-best; crawl_frontier_rank runs
# the blocklist, robots gate, PageRank and per-host cap.
CURATE_QUERIES = (
    "dedup_cluster_keep_best",
    "curation_funnel",
    "crawl_frontier_rank",
    "text_top_ngrams",
)
# Run once each in the traced run only, so stages inside the compositions
# above get their own timings; in every pass they would add about 5 s.
PROBE_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_components_bigstar",
    "graph_pagerank",
)


def _digest(df: DataFrame) -> DataFrame:
    spans = F.transform("out_spans", lambda s: F.struct(
        s["kind"].alias("kind"), s["text"].alias("text"),
        s["media_ref"].alias("media_ref"),
        s["order"].cast("int").alias("order")))
    return df.select("doc_id", F.md5(F.to_json(F.struct(
        spans.alias("out_spans"), "codes"))).alias("d"))


class _Workload:
    kind = ""  # which input set: see inputs.prepare
    oracles: tuple = ()  # queries whose oracle digests go with the input
    n_docs = 0
    # untimed repetitions before timing, the first of them checked: the
    # JVM keeps compiling hot paths for the first few
    warmups: int

    def inputs(self, cache: str, seed: int) -> float:
        """Build or reuse the input; returns the seconds spent building."""
        got = inputs.prepare(self.kind, cache, self.n_docs, seed,
                             self.oracles)
        self.dir, self.described = got["dir"], got["describe"]
        return got["generate_s"]


class Extraction(_Workload):
    """One extraction entry point over the interleaved corpus (or its
    text-only derivative); a unit is a document."""

    unit = "document"
    warmups = 3

    def __init__(self, name: str, text_only: bool = False,
                 fallback: bool = False, n_docs: int = CORPUS_DOCS):
        self.name = name
        self.text_only = text_only
        self.kind = "text_only" if text_only else "corpus"
        self.fallback = fallback
        self.inrow = not fallback  # run_extraction_inrow: split its jobs
        self.n_docs = n_docs

    def load(self, spark) -> dict:
        loaded = {t: spark.read.parquet(os.path.join(self.dir, f"{t}.parquet"))
                  for t in ("documents_interleaved", "media_blobs",
                            "expected_spans")}
        loaded["units"] = loaded["documents_interleaved"].count()
        loaded["dir"] = self.dir
        return loaded

    def job(self, loaded: dict) -> DataFrame:
        docs, blobs = loaded["documents_interleaved"], loaded["media_blobs"]
        if self.fallback:
            from ocr_spark.operators.extraction import run_extraction

            return run_extraction(docs, blobs, broadcast_ok=False)
        from ocr_spark.operators.extraction_inrow import run_extraction_inrow

        return run_extraction_inrow(docs, blobs)

    def ops(self, spark, loaded: dict):
        return [(self.name, lambda: self.job(loaded))]

    def check(self, spark, loaded: dict, name: str,
              df: DataFrame) -> tuple[int, int]:
        """Two-way digest comparison against expected_spans: a changed,
        extra or dropped document each counts once as a mismatch."""
        got = Counter(map(tuple, _digest(df).collect()))
        want = Counter(map(tuple, _digest(loaded["expected_spans"]).collect()))
        bad = {doc_id for doc_id, _ in (got - want) + (want - got)}
        total = loaded["units"]
        return max(total - len(bad), 0), total


def _canon(v):
    """Order-free, type-stable form of one result cell."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (struct cell)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted(((str(k), _canon(x)) for k, x in v.items()),
                            key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_canon(x) for x in v), key=repr))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def result_digest(cols: list[str], rows) -> str:
    """sha256 over rows canonicalised cell by cell, columns aligned by
    name, rows sorted: equal digests mean equal multisets of rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_canon(r[i]) for i in order) for r in rows),
                   key=repr)
    payload = repr(([cols[i] for i in order], canon))
    return hashlib.sha256(payload.encode()).hexdigest()


class Curate(_Workload):
    """A fixed set of registry queries, each checked against its DuckDB
    oracle; a unit is a query."""

    unit = "query"
    kind = "curate"
    warmups = 2
    inrow = False

    def __init__(self, name: str = "curate", n_docs: int = CURATE_DOCS):
        self.name = name
        self.queries = self.oracles = CURATE_QUERIES
        self.n_docs = n_docs

    def load(self, spark) -> dict:
        d = self.dir
        import __spark_entry__ as entry

        registry = entry.queries()
        # input load: read every table once so file listing and footers
        # are cached before timing
        for t in ("documents", "customer", "supplier", "orders", "lineitem"):
            spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
        return {"dir": d, "registry": registry, "units": len(self.queries)}

    def ops(self, spark, loaded: dict):
        reg, d = loaded["registry"], loaded["dir"]
        return [(q, lambda q=q: reg[q](spark, d)) for q in self.queries]

    def check(self, spark, loaded: dict, name: str,
              df: DataFrame) -> tuple[int, int]:
        got = result_digest(df.columns, df.collect())
        return int(got == oracle_digest(loaded["dir"], name)), 1


def oracle_digest(d: str, name: str) -> str:
    """Digest of the DuckDB oracle's rows over the curation tables in `d`,
    cached beside them (keyed by query, oracle text and input stamp).
    Input preparation fills the cache, so a run only reads it."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()[name]
    with open(os.path.join(d, "_STAMP"), encoding="utf-8") as fh:
        stamp = fh.read()
    key = hashlib.sha256(f"{name}\0{sql}\0{stamp}".encode()).hexdigest()
    path = os.path.join(d, "_ORACLES.json")
    try:
        with open(path, encoding="utf-8") as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    if key not in cache:
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            con.execute(f"SET temp_directory = '{d}/duckdb.tmp'")
            for t in ("documents", "customer", "supplier", "orders",
                      "lineitem"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(d, t)}.parquet'")
            res = con.sql(sql)
            cache[key] = result_digest(list(res.columns), res.fetchall())
        finally:
            con.close()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(cache, fh)
    return cache[key]


WORKLOADS = {
    "flagship": lambda: Extraction("flagship"),
    "text_only": lambda: Extraction("text_only", text_only=True),
    "fallback": lambda: Extraction("fallback", fallback=True),
    "curate": Curate,
}
