"""Repository benchmark: extraction throughput and curation time.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

Runs one workload (see ``perfbench/workloads.py`` and
``perfbench/README.md``) at ``local[<nproc>]`` in this process:

1. build or reuse the seeded inputs under ``.perfbench_cache/``, in a
   child process;
2. set up: launch the JVM and start a Spark session, load the input and
   warm up with ``workload.warmups`` untimed repetitions, the first of
   them checked against the reference. ``setup_s`` is the time from
   process start to the first timed repetition, less the time spent
   preparing inputs;
3. repeat the workload for ``--seconds`` seconds (at least once), timing
   each repetition.

With ``--trace 1`` each repetition's Spark jobs and stages are read back
from the AppStatusStore and single layers are timed from the driver
(``perfbench/layers.py``). Everything goes to stderr except two lines on
stdout: a detail record (inputs, machine, every timing's median, min,
max and sample count) and, last, the result object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

T_PROC = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIN_HEAP_MB = 1024
MAX_HEAP_MB = 2048

END_TO_END = (("docs_per_s", "docs/s"), ("wall_s", "s"),
              ("equality_pct", "%"), ("setup_s", "s"), ("peak_rss_mb", "MB"))


def machine() -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:"))
                     .split()[1])
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"nproc": os.cpu_count() or 1, "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg()), "cpu_ticks": cpu}


def steal_pct(start: dict, end: dict) -> float:
    """Share of the machine's CPU time the hypervisor gave to others
    between two `machine()` readings (the 8th /proc/stat field)."""
    delta = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return 100.0 * delta[7] / max(sum(delta[:8]), 1)


def driver_heap_mb(mem_total_mb: int) -> int:
    """A quarter of the machine, capped; the JVM pre-touches all of it."""
    heap = min(MAX_HEAP_MB, mem_total_mb // 4) // 256 * 256
    if heap < MIN_HEAP_MB:
        raise SystemExit(
            f"perfbench: MemTotal is {mem_total_mb} MiB; the driver needs a "
            f"{MIN_HEAP_MB} MiB heap, a quarter of memory at most, so at "
            f"least {4 * MIN_HEAP_MB} MiB")
    return heap


def spread(values: list[float]) -> dict:
    return {"median": statistics.median(values), "min": min(values),
            "max": max(values), "n": len(values)}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect_garbage(spark) -> None:
    """Untimed: drop Python references and run the JVM's GC, so Spark's
    ContextCleaner frees the last repetition's persisted and broadcast
    blocks now and the next repetition never pays for that clean-up."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def start_session(heap_mb: int, cores: int):
    from ocr_spark.session import get_spark

    return get_spark(
        app_name="perfbench", cores=cores, driver_memory=f"{heap_mb}m",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced read-out
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })


def shutdown_jvm() -> None:
    """End the JVM this process launched and wait until it and every
    other process below this one (its Python workers) have exited."""
    from pyspark import SparkContext

    from perfbench.probes import tree_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    below = set(tree_pids()) - {os.getpid()}
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in below):
        if time.monotonic() > deadline:
            raise SystemExit(f"perfbench: processes {sorted(below)} did not "
                             "exit after the JVM stopped")
        time.sleep(0.05)


def set_up(workload, heap_mb: int, cores: int):
    """Launch the JVM and start a session, load the input, and warm up
    with `workload.warmups` untimed repetitions, the first of them checked
    (they start the Python workers and let the JVM compile the hot paths).

    Returns (spark, loaded input, {start_s, load_s, warmup_s}, check).
    """
    t0 = time.perf_counter()
    spark = start_session(heap_mb, cores)
    t1 = time.perf_counter()
    loaded = workload.load(spark)
    t2 = time.perf_counter()
    chk = check(spark, workload, loaded)
    for _ in range(workload.warmups - 1):
        collect_garbage(spark)
        for _name, thunk in workload.ops(spark, loaded):
            try:
                force(thunk())
            except Exception:  # noqa: BLE001 - the timed loop counts it
                traceback.print_exc()
    parts = {"start_s": t1 - t0, "load_s": t2 - t1,
             "warmup_s": time.perf_counter() - t2}
    return spark, loaded, parts, chk


def repeat(spark, workload, loaded, seconds: float, trace: bool) -> dict:
    """Timed repetitions for `seconds` (at least one; two when traced).
    With `trace`, every other repetition also reads its jobs and stages
    back from the AppStatusStore, inside its timing. Each operation of a
    repetition that raises is counted as failed and the repetition's wall
    is dropped; the loop goes on."""
    from perfbench import layers
    from perfbench.probes import StatusStore

    store = StatusStore(spark) if trace else None
    walls: dict[bool, list[float]] = {False: [], True: []}
    per_op: dict[str, list[float]] = {}
    layer_samples: list[dict[str, float]] = []
    reps = attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or reps < (2 if trace else 1):
        traced = trace and reps % 2 == 1
        reps += 1
        ok, sample = True, {}
        t0 = time.perf_counter()
        if traced:
            before = store.job_ids()
            seen = set(before)
        for name, thunk in workload.ops(spark, loaded):
            attempted += 1
            tq = time.perf_counter()
            try:
                force(thunk())
            except Exception:  # noqa: BLE001 - counted, the run goes on
                traceback.print_exc()
                failed += 1
                ok = False
                continue
            per_op.setdefault(name, []).append(time.perf_counter() - tq)
            if traced and workload.unit == "query":
                jobs = store.jobs_since(seen)
                seen |= {j.job_id for j in jobs}
                sample[f"queries.{name}_shuffle_mb"] = store.stage_totals(
                    jobs)["shuffle_write_mb"]
        if traced:
            jobs = store.jobs_since(before)
            sample.update(layers.stage_metrics(store, jobs))
        wall = time.perf_counter() - t0
        collect_garbage(spark)
        if not ok:
            continue
        walls[traced].append(wall)
        if traced:
            if workload.inrow:
                sample.update(layers.inrow_split(jobs, wall))
            layer_samples.append(sample)
    return {"walls": walls, "per_op": per_op, "layers": layer_samples,
            "attempted": attempted, "failed": failed}


def check(spark, workload, loaded) -> dict:
    """A repetition whose outputs are checked against the reference; a
    crashed or failed check is counted, never raised."""
    matched = total = attempted = failed = 0
    ops = workload.ops(spark, loaded)
    for name, thunk in ops:
        attempted += 1
        try:
            ok, n = workload.check(spark, loaded, name, thunk())
        except Exception:  # noqa: BLE001 - a crashed check is a failed op
            traceback.print_exc()
            ok, n = 0, loaded["units"] // len(ops)  # all its units unmatched
        matched += ok
        total += n
        if ok < n:
            failed += 1
            print(f"perfbench: {name}: {n - ok} of {n} {workload.unit}s "
                  "differ from the reference", file=sys.stderr)
    return {"matched": matched, "total": total, "attempted": attempted,
            "failed": failed}


def run(workload, seed: int, seconds: float, trace: bool, cache: str,
        t_start: float = T_PROC) -> tuple[dict, dict]:
    """One benchmark run in this process, `t_start` being when the run
    began (the process start by default); returns (detail, result)."""
    from perfbench import layers, probes, workloads

    env0 = machine()
    heap_mb = driver_heap_mb(env0["mem_total_mb"])
    cores = env0["nproc"]
    t0 = time.perf_counter()
    gen_s = workload.inputs(cache, seed)
    prep_s = time.perf_counter() - t0
    described = workload.described
    # interpreter, imports and input look-up before the JVM launch
    pre_s = time.perf_counter() - t_start - prep_s

    spark, loaded, parts, chk = set_up(workload, heap_mb, cores)
    collect_garbage(spark)
    setup_s = time.perf_counter() - t_start - prep_s
    probes.jvm_heap_peak_mb(spark, reset=True)
    reps = repeat(spark, workload, loaded, seconds, trace)
    # before the traced probes, which are not part of the workload
    rss_mb = probes.tree_peak_rss_mb()
    heap_peak_mb = probes.jvm_heap_peak_mb(spark)
    per_layer = None
    if trace:
        per_layer = dict.fromkeys(layers.names(
            workloads.CURATE_QUERIES + workloads.PROBE_QUERIES), 0.0)
        for k in per_layer:
            vals = [s[k] for s in reps["layers"] if k in s]
            if vals:
                per_layer[k] = statistics.median(vals)
        if workload.unit == "document":
            per_layer.update(layers.extraction_probes(spark, loaded))
        else:
            per_layer.update({f"queries.{q}_s": statistics.median(v)
                              for q, v in reps["per_op"].items()})
            per_layer.update(layers.query_probes(spark, loaded,
                                                 workloads.PROBE_QUERIES))
        per_layer["session.pre_s"] = pre_s
        per_layer.update({f"session.{k}": v for k, v in parts.items()})
        per_layer["datagen.generate_s"] = gen_s
        per_layer["jvm.heap_peak_mb"] = heap_peak_mb
        traced, plain = reps["walls"][True], reps["walls"][False]
        if traced and plain:
            per_layer["trace.wall_s"] = statistics.median(traced)
            per_layer["trace.overhead_s"] = (statistics.median(traced)
                                             - statistics.median(plain))
    spark.stop()

    walls = reps["walls"][False] or reps["walls"][True]
    if not walls:
        raise SystemExit(f"perfbench: all {reps['attempted']} operations of "
                         f"{workload.name} failed; nothing was measured")
    wall = statistics.median(walls)
    docs = loaded["units"] if workload.unit == "document" else \
        described["documents"]
    values = {
        "docs_per_s": docs / wall,
        "wall_s": wall,
        "equality_pct": 100.0 * chk["matched"] / max(chk["total"], 1),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }
    attempted = reps["attempted"] + chk["attempted"]
    failed = reps["failed"] + chk["failed"]
    env1 = machine()
    detail = {
        "workload": workload.name, "seed": seed, "seconds": seconds,
        "trace": int(trace), "master": f"local[{cores}]",
        "driver_heap_mb": heap_mb, "machine_start": env0,
        "machine_end": env1, "steal_pct": steal_pct(env0, env1),
        "inputs": described,
        "units_checked": chk["total"], "unit": workload.unit,
        "failed_pct": 100.0 * failed / attempted,
        "end_to_end": values,
        "spreads": {
            "wall_s": spread(walls),
            "walls_s": reps["walls"],
            "ops_s": {k: spread(v) for k, v in reps["per_op"].items()},
        },
        "set_up": dict(parts, pre_s=pre_s, input_prep_s=prep_s),
        "jvm_heap_peak_mb": heap_peak_mb,
        "wall_since_process_start_s": time.perf_counter() - T_PROC,
    }
    metrics = values
    if per_layer is not None:
        detail["per_layer"] = metrics = per_layer
    units = dict(END_TO_END)
    final = {
        "correct": failed == 0 and chk["matched"] == chk["total"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or layers.unit(k)}
                    for k, v in metrics.items()},
    }
    return detail, final


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ocr_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cache = os.path.join(ROOT, ".perfbench_cache")
    scratch = os.path.join(cache, "tmp")
    os.makedirs(scratch, exist_ok=True)
    # keep every file Spark, the JVM and Python workers write in the checkout
    os.environ.update({
        "SPARK_LOCAL_DIRS": scratch, "TMPDIR": scratch,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    # Spark writes to fd 1; keep stdout for the two result lines only
    out_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        detail, final = run(workloads.WORKLOADS[args.workload](), args.seed,
                            args.seconds, bool(args.trace), cache)
    finally:
        shutdown_jvm()
    os.write(out_fd, (json.dumps(detail) + "\n" + json.dumps(final) + "\n")
             .encode())
    os.close(out_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
