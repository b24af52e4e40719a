"""Describe curation tables the way the ``curate`` generator is fitted.

    python3 -m perfbench.calibrate <tables dir> [<tables dir> ...]

For each directory holding ``documents``, ``customer``, ``supplier``,
``orders`` and ``lineitem`` parquet files, prints one JSON line: text
length and vocabulary of ``documents``, its ``dup``-marked and exactly
copied documents, and what the curate queries' DuckDB oracles make of it
(MinHash-LSH pair count, near-duplicate component sizes, and the
``curation_funnel`` verdict counts). Run it on the repository's test
tables and on a generated set to compare them (perfbench/README.md).
"""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys

import duckdb
import pyarrow.parquet as pq


def describe(d: str) -> dict:
    import __spark_entry__ as entry

    rows = pq.read_table(os.path.join(d, "documents.parquet"),
                         columns=["text", "lang"]).to_pylist()
    texts = [r["text"] for r in rows]
    chars = [len(t) for t in texts]
    words = [len(t.split()) for t in texts]
    out = {
        "docs": len(texts),
        "words_min_median_max": [min(words), statistics.median(words),
                                 max(words)],
        "chars_quartiles": [round(q) for q in statistics.quantiles(chars, n=4)],
        "vocabulary": len({w for t in texts for w in t.split()}),
        "dup_marked": sum(t.endswith(" dup") for t in texts),
        "exact_copies": len(texts) - len(set(texts)),
        "en_pct": round(100.0 * sum(r["lang"] == "en" for r in rows)
                        / len(rows), 1),
    }
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("documents", "customer", "supplier", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t)}.parquet'")
        out["lsh_pairs"] = len(con.sql(sql["dedup_minhash_lsh"]).fetchall())
        labels = con.sql(sql["dedup_components_bigstar"])
        col = [c for c in labels.columns if c != "doc_id"][0]
        sizes = collections.Counter(collections.Counter(
            r[0] for r in labels.select(col).fetchall()).values())
        out["component_sizes"] = {str(k): v for k, v in sorted(sizes.items())}
        verdicts = con.sql(sql["curation_funnel"]).select("verdict")
        out["funnel_verdicts"] = dict(sorted(collections.Counter(
            r[0] for r in verdicts.fetchall()).items()))
    finally:
        con.close()
    return out


if __name__ == "__main__":
    for arg in sys.argv[1:]:
        print(json.dumps({"dir": arg, **describe(arg)}), flush=True)
