"""Seeded benchmark inputs, cached on disk.

Three input sets, each a function of (size, seed) only:

* the interleaved corpus, written by ``ocr_spark.datagen.write_corpus``
  (reused when its own ``_COMPLETE`` stamp matches), with
  ``expected_spans`` as its golden;
* its ``text_only`` derivative: media spans removed from every document
  and from the golden, expected codes recomputed with
  ``voucher_core.extract_voucher_codes`` over the remaining texts;
* the curation tables (``documents``, ``customer``, ``supplier``,
  ``orders``, ``lineitem``) the ``curate`` queries read, with the column
  names, types and row ratios of the repository's TPC-H-style test
  tables and a ``documents`` table drawn the way their ``documents`` is
  (see ``_documents``).

The benchmark builds and describes its inputs in a child process
(``prepare``), so neither generation nor the description's reads count
in the benchmark process's own peak memory:

    python3 -m perfbench.inputs '{"kind": "corpus", "cache": ".perfbench_cache", "n_docs": 200, "seed": 1, "oracles": []}'

prints one JSON line: the input directory, the seconds spent building
it (about 0 when reused) and its description.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FORMAT = 4


def _cached(path: str, stamp: dict, build) -> str:
    """Build `path` unless its ``_STAMP`` matches `stamp` exactly."""
    marker = os.path.join(path, "_STAMP")
    want = json.dumps(dict(stamp, format=FORMAT), sort_keys=True)
    try:
        with open(marker, encoding="utf-8") as fh:
            if fh.read() == want:
                return path
    except OSError:
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(want)
    return path


def corpus(cache: str, n_docs: int, seed: int) -> str:
    """Interleaved corpus directory for (n_docs, seed)."""
    from ocr_spark.datagen import write_corpus

    return write_corpus(os.path.join(cache, f"corpus-n{n_docs}-s{seed}"),
                        n_docs, seed)


def text_only(cache: str, n_docs: int, seed: int) -> str:
    """The corpus with every media span removed, golden recomputed, in
    the same sharded layout."""
    from ocr_spark.functions.voucher_core import extract_voucher_codes

    src = corpus(cache, n_docs, seed)

    def build(out: str) -> None:
        docs = pq.read_table(os.path.join(src, "documents_interleaved.parquet"))
        exp = pq.read_table(os.path.join(src, "expected_spans.parquet"))
        doc_rows = docs.to_pylist()
        for row in doc_rows:
            row["spans"] = [s for s in row["spans"] if s["kind"] == "text"]
        exp_rows = exp.to_pylist()
        for row in exp_rows:
            row["out_spans"] = [s for s in row["out_spans"]
                                if s["kind"] == "text"]
            row["codes"] = extract_voucher_codes(
                "\n".join(s["text"] for s in row["out_spans"]))
        shards = min(128, max(8, n_docs // 128))
        for name, tbl in (
                ("documents_interleaved",
                 pa.Table.from_pylist(doc_rows, docs.schema)),
                ("media_blobs",
                 pq.read_table(os.path.join(src, "media_blobs.parquet"))),
                ("expected_spans",
                 pa.Table.from_pylist(exp_rows, exp.schema))):
            dest = os.path.join(out, f"{name}.parquet")
            os.makedirs(dest)
            per = -(-tbl.num_rows // shards)
            for i in range(0, tbl.num_rows, per):
                pq.write_table(tbl.slice(i, per), os.path.join(
                    dest, f"part-{i // per:05d}.parquet"), row_group_size=256)

    return _cached(os.path.join(cache, f"textonly-n{n_docs}-s{seed}"),
                   {"kind": "text_only", "n_docs": n_docs, "seed": seed},
                   build)


_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents fitted to the test tables' ``documents`` as measured on
    its 5,000 rows (``perfbench.calibrate``; perfbench/README.md lists
    the figures): 10 to 99 words, uniform, each uniform over a 30-word
    vocabulary; then 5% of the documents, at random positions, replaced
    by the text of another, random, document plus the word ``dup``.

    There, about 1 in 25 near-duplicate components has three or more
    members. Here every 25th replacement copies the same source as the
    one before it, so that share holds at every size and seed: left to
    chance, a 500-document table has no such component for about half
    the seeds, and large-star/small-star then needs one round fewer."""
    texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k))
             for k in rng.integers(10, 100, n)]
    n_dup = n // 20
    slots = rng.choice(n, 2 * n_dup, replace=False)
    for k, i in enumerate(slots[:n_dup]):
        src = slots[n_dup + k - (k % 25 == 24)]
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    start = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 2400, n).astype("timedelta64[D]")
    return pa.array((start + days).astype("datetime64[us]"))


def curation_tables(cache: str, n_docs: int, seed: int) -> str:
    """The tables the curate queries read; row ratios follow the test
    tables (3 customers, 0.2 suppliers, 30 orders and 120 line items per
    document)."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        n_cust, n_supp, n_ord = 3 * n_docs, max(10, n_docs // 5), 30 * n_docs
        n_li = 4 * n_ord
        cust = pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}"
                                for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"]), n_cust)),
        })
        supp = pa.table({
            "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}"
                                for i in range(1, n_supp + 1)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        })
        orders = pa.table({
            "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord,
                                               dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]),
                                                 n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_ord),
                                              2)),
            "o_orderdate": _timestamps(rng, n_ord),
            "o_orderpriority": pa.array(rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"]), n_ord)),
        })
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        lineitem = pa.table({
            "l_orderkey": pa.array(np.repeat(np.arange(1, n_ord + 1,
                                                       dtype=np.int64), 4)),
            "l_partkey": pa.array(rng.integers(1, 20 * n_docs, n_li,
                                               dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li,
                                               dtype=np.int64)),
            "l_linenumber": pa.array(np.tile(np.arange(1, 5, dtype=np.int32),
                                             n_ord)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(
                900, 2000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]),
                                                n_li)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
            "l_shipdate": _timestamps(rng, n_li),
        })
        for name, tbl in (("documents", _documents(rng, n_docs)),
                          ("customer", cust), ("supplier", supp),
                          ("orders", orders), ("lineitem", lineitem)):
            pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))

    return _cached(os.path.join(cache, f"curate-n{n_docs}-s{seed}"),
                   {"kind": "curate", "n_docs": n_docs, "seed": seed}, build)


def describe_corpus(corpus_dir: str) -> dict:
    """What a corpus holds: sizes, media share and reuse, codec mix."""
    docs = pq.read_table(os.path.join(corpus_dir,
                                      "documents_interleaved.parquet"),
                         columns=["spans"])
    spans = pc.list_flatten(docs.column("spans"))
    refs = pc.drop_null(pc.struct_field(spans, "media_ref"))
    blobs = pq.read_table(os.path.join(corpus_dir, "media_blobs.parquet"),
                          columns=["media_ref", "codec"])
    used = blobs.filter(pc.is_in(blobs.column("media_ref"),
                                 value_set=pc.unique(refs)))
    mix = {c: round(100.0 * n / max(used.num_rows, 1), 1)
           for c, n in zip(*np.unique(used.column("codec").to_numpy(
               zero_copy_only=False), return_counts=True))}
    n_refs = len(pc.unique(refs))
    return {
        "docs": docs.num_rows,
        "spans": len(spans),
        "media_span_pct": round(100.0 * len(refs) / max(len(spans), 1), 1),
        "distinct_refs": n_refs,
        "refs_per_blob": round(len(refs) / max(n_refs, 1), 2),
        "codec_mix_pct": mix,
    }


def describe_curation(d: str) -> dict:
    """Row count of every curation table."""
    return {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
            .metadata.num_rows
            for t in ("documents", "customer", "supplier", "orders",
                      "lineitem")}


def _build(kind: str, cache: str, n_docs: int, seed: int,
           oracles: list[str]) -> dict:
    t0 = time.perf_counter()
    if kind == "curate":
        from perfbench.workloads import oracle_digest

        path = curation_tables(cache, n_docs, seed)
        for name in oracles:
            oracle_digest(path, name)
        spent = time.perf_counter() - t0
        return {"dir": path, "generate_s": spent,
                "describe": describe_curation(path)}
    path = (text_only if kind == "text_only" else corpus)(cache, n_docs, seed)
    spent = time.perf_counter() - t0
    return {"dir": path, "generate_s": spent,
            "describe": describe_corpus(path)}


def prepare(kind: str, cache: str, n_docs: int, seed: int,
            oracles=()) -> dict:
    """Build or reuse one input set in a child process and wait for it,
    with the digests of the named queries' DuckDB oracles over it (curate
    only); returns {"dir", "generate_s", "describe"}."""
    spec = json.dumps({"kind": kind, "cache": cache, "n_docs": n_docs,
                       "seed": seed, "oracles": list(oracles)})
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-m", "perfbench.inputs", spec],
                         cwd=root, check=True, stdout=subprocess.PIPE,
                         text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    print(json.dumps(_build(**json.loads(sys.argv[1]))))
