"""Per-layer measurements for the traced run.

Everything here observes the program from outside: it times calls into
each module's public functions and reads Spark's AppStatusStore and
``/proc``. No code inside ``ocr_spark`` is instrumented.
"""

from __future__ import annotations

import os
import pickle
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from .probes import Job, StatusStore, tree_cpu_s, union_s

CODECS = (("png_codec", "png"), ("png_codec", "raw"), ("jpeg_codec", "jpeg"),
          ("isobmff", "unci"))


def names(queries) -> list[str]:
    """Every per-layer metric name, in print order."""
    out = [f"extraction_inrow.{k}" for k in
           ("guard_s", "ocr_collect_s", "doc_pass_s", "driver_s", "refs",
            "map_mb")]
    out += ["ocr.recognize_cpu_s", "ocr.blobs"]
    for mod, codec in CODECS:
        out += [f"{mod}.{codec}_s", f"{mod}.{codec}_count"]
    out += ["boilerplate_core.strip_cpu_s", "boilerplate_core.spans",
            "vouchers.codes_s"]
    out += [f"extraction.{k}" for k in
            ("fallback_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")]
    for q in queries:
        out += [f"queries.{q}_s", f"queries.{q}_shuffle_mb"]
    out += [f"spark.{k}" for k in
            ("executor_run_s", "executor_cpu_s", "gc_s", "tasks",
             "result_mb")]
    out += ["jvm.heap_peak_mb", "session.pre_s", "session.start_s",
            "session.load_s", "session.warmup_s", "datagen.generate_s", "trace.wall_s",
            "trace.overhead_s"]
    return out


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def inrow_split(jobs: list[Job], wall_s: float) -> dict[str, float]:
    """Attribute one run_extraction_inrow repetition's jobs by call site:
    the budget guard's ``first()`` jobs, the OCR ``toPandas()`` jobs and
    the sink ``save`` job; the rest of the wall is driver time."""

    def part(pred) -> float:
        return union_s([(j.start_ms, j.end_ms) for j in jobs if pred(j.name)])

    return {
        "extraction_inrow.guard_s": part(
            lambda n: n.startswith("first at") and "extraction_inrow" in n),
        "extraction_inrow.ocr_collect_s": part(
            lambda n: n.startswith("toPandas at")),
        "extraction_inrow.doc_pass_s": part(lambda n: n.startswith("save at")),
        "extraction_inrow.driver_s": wall_s - part(lambda n: True),
    }


def stage_metrics(store: StatusStore, jobs: list[Job]) -> dict[str, float]:
    tot = store.stage_totals(jobs)
    return {f"spark.{k}": tot[k] for k in
            ("executor_run_s", "executor_cpu_s", "gc_s", "tasks",
             "result_mb")}


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_probes(spark, loaded: dict, queries) -> dict[str, float]:
    """Wall time and shuffle write of each query, run once on its own."""
    store = StatusStore(spark)
    out = {}
    for q in queries:
        seen = store.job_ids()
        t0 = time.perf_counter()
        _force(loaded["registry"][q](spark, loaded["dir"]))
        out[f"queries.{q}_s"] = time.perf_counter() - t0
        out[f"queries.{q}_shuffle_mb"] = store.stage_totals(
            store.jobs_since(seen))["shuffle_write_mb"]
    return out


def extraction_probes(spark, loaded: dict) -> dict[str, float]:
    """Driver-side and single-layer timings over the workload's input:
    codec decode per format, the boilerplate strip over its text spans,
    recognition of its pruned blobs, the code regex over its golden
    document texts and one run of the shuffle (fallback) plan."""
    from ocr_spark.functions.boilerplate_core import strip_boilerplate
    from ocr_spark.functions.vouchers import codes_from_text
    from ocr_spark.operators.extraction import run_extraction
    from ocr_spark.operators.ocr import recognize_blobs
    from ocr_spark.png_codec import blob_to_array

    d = loaded["dir"]
    docs = pq.read_table(os.path.join(d, "documents_interleaved.parquet"),
                         columns=["spans"])
    spans = pc.list_flatten(docs.column("spans"))
    kinds = pc.struct_field(spans, "kind")
    texts = pc.struct_field(spans, "text").filter(
        pc.equal(kinds, "text")).to_pylist()
    refs = pc.unique(pc.drop_null(pc.struct_field(spans, "media_ref")))
    out: dict[str, float] = {"extraction_inrow.refs": float(len(refs))}

    t0 = time.process_time()
    for t in texts:
        strip_boilerplate(t)
    out["boilerplate_core.strip_cpu_s"] = time.process_time() - t0
    out["boilerplate_core.spans"] = float(len(texts))

    blobs = pq.read_table(os.path.join(d, "media_blobs.parquet"),
                          columns=["media_ref", "width", "height", "pixels",
                                   "codec"])
    blobs = blobs.filter(pc.is_in(blobs.column("media_ref"), value_set=refs))
    for mod, codec in CODECS:
        sel = blobs.filter(pc.equal(blobs.column("codec"), codec))
        t0 = time.process_time()
        for px, h, w in zip(sel.column("pixels").to_pylist(),
                            sel.column("height").to_pylist(),
                            sel.column("width").to_pylist()):
            blob_to_array(px, h, w)
        out[f"{mod}.{codec}_s"] = time.process_time() - t0
        out[f"{mod}.{codec}_count"] = float(sel.num_rows)

    out["ocr.blobs"] = float(blobs.num_rows)
    out["ocr.recognize_cpu_s"] = 0.0
    out["extraction_inrow.map_mb"] = 0.0
    if blobs.num_rows:
        pruned = loaded["media_blobs"].where(
            F.col("media_ref").isin(refs.to_pylist()))
        cpu0 = tree_cpu_s()
        pdf = recognize_blobs(pruned).toPandas()
        out["ocr.recognize_cpu_s"] = tree_cpu_s() - cpu0
        # the broadcast payload recognized_map() hands to sc.broadcast
        out["extraction_inrow.map_mb"] = len(pickle.dumps(
            dict(zip(pdf["media_ref"], pdf["text"])))) / float(1 << 20)

    doc_text = F.array_join(F.transform("out_spans", lambda s: s["text"]),
                            "\n")
    t0 = time.perf_counter()
    _force(loaded["expected_spans"].select(codes_from_text(doc_text)))
    out["vouchers.codes_s"] = time.perf_counter() - t0

    # the cold-media plan the budget guard falls back to, once: the only
    # extraction plan with posexplode, shuffle joins and groupBy reassembly
    store = StatusStore(spark)
    seen = store.job_ids()
    t0 = time.perf_counter()
    _force(run_extraction(loaded["documents_interleaved"],
                          loaded["media_blobs"], broadcast_ok=False))
    out["extraction.fallback_s"] = time.perf_counter() - t0
    tot = store.stage_totals(store.jobs_since(seen))
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"extraction.{k}"] = tot[k]
    return out
