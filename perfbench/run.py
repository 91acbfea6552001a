"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload co2_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. The package is imported from the current
directory; everything the run writes (Spark scratch, stores, JVM temp files)
lives under ``.perfbench_work/`` and is removed at exit, and a traced run
leaves its spans and layer table under ``.perfbench_out/``.

One closed-loop client drives the workload on at most 4 local Spark cores:
set-up runs ``SETUP_REPS`` times (``setup_s`` is their median), one untimed
warm-up unit follows, then units of work run back to back until
``--seconds`` have passed, at least ``MIN_UNITS`` ran and the workload is at
a boundary, then the output checks run. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run. The exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import resource
import shutil
import statistics
import sys
import tempfile
import time

SETUP_REPS = 3
# a run times at least two units, so no median is a single sample
MIN_UNITS = 2
MAX_CORES = 4
HERE = os.path.dirname(os.path.abspath(__file__))


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it. Below 21
    samples that percentile would not exceed the median, so the maximum
    stands in for it; the note says which was used."""
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        return xs[-1], f"max of {n}"
    return xs[n - 11], f"p{100 * (n - 10) / n:.1f} of {n}"


def memo_caches(pkg: str) -> dict[str, int]:
    """Sizes of every module-level memo dict (``_..._CACHE``) in the package."""
    out = {}
    for name, mod in list(sys.modules.items()):
        if not name.startswith(pkg) or mod is None:
            continue
        for k, v in vars(mod).items():
            if re.fullmatch(r"_[A-Z0-9_]*CACHE[A-Z0-9_]*", k) and isinstance(v, dict):
                out[f"{name}.{k}"] = len(v)
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_ms(spark) -> float:
    """Milliseconds the JVM has spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def job_floor_ms(spark, reps: int = 20) -> float:
    """Median time of a one-task Spark job: the fixed cost every job pays.
    Jobs x this floor, set against a layer's busy time, says how much of
    that layer is per-job overhead rather than work on the data."""
    spark.range(1).collect()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).collect()
        times.append(time.perf_counter() - t0)
    return 1000 * statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: do not leave it behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import incremental_datapipeline_using_snowflake_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {root}: {exc}", file=sys.stderr)
        return 2

    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a small launcher JVM to assemble the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CORES, os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")

    tracer = tracing.Tracer()
    if args.trace:
        tracer.install()
        tracer.enabled = True
    from incremental_datapipeline_using_snowflake_spark import session as session_mod

    t_session = time.perf_counter()
    spark = session_mod.get_session(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files (and no hsperfdata) inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t_session
    tracer.spark = spark
    try:
        return run(args, spark, tracer, pkg.__name__, work, session_s, WORKLOADS)
    finally:
        tracer.uninstall()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run(args, spark, tracer, pkg_name, work, session_s, workloads) -> int:
    spec = load_spec()
    wl = workloads[args.workload](spark, args.seed, work)
    caches_before = memo_caches(pkg_name)

    # set-up: several fresh fixtures, median time; only the last is traced.
    # The first also pays the JVM's cold start, so the median is the slower
    # of the two warm ones.
    setup_times = []
    for rep in range(SETUP_REPS):
        tracer.enabled = bool(args.trace) and rep == SETUP_REPS - 1
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)

    # warm-up: one untimed unit on the final fixture, so that timed units
    # run on warm JIT and codegen caches and all measure the same thing
    tracer.enabled = False
    t0 = time.perf_counter()
    warm = wl.warm_up()
    warm_s = time.perf_counter() - t0

    # every timed phase starts from a collected heap, so that garbage left by
    # set-up is not collected inside some runs' timed phase and not others'
    gc.collect()
    spark._jvm.System.gc()
    gc_ms0 = jvm_gc_ms(spark)

    # timed phase: closed loop, one unit at a time, ending on a boundary
    units, tracer_cost, writes = [], [], []
    t_start = time.perf_counter()
    while (len(units) < MIN_UNITS or time.perf_counter() - t_start < args.seconds
           or not wl.at_boundary()):
        tracer.run_id = len(units)
        tracer.enabled = bool(args.trace)
        snap = wl.snapshot() if args.trace else None
        cost0 = tracer.cost_s
        with tracer.span("bench.unit"):
            units.append(wl.step(len(units) + 1))
        tracer_cost.append(tracer.cost_s - cost0)
        if args.trace:
            # outside the unit's own timer, but inside the timed window
            writes.append(wl.writes_since(snap))
    timed_s = time.perf_counter() - t_start
    tracer.enabled = False
    gc_ms = jvm_gc_ms(spark) - gc_ms0

    errors = wl.check()
    if warm.failed:
        errors.append("the warm-up unit failed")
    grown = {k: (n, caches_before.get(k, 0)) for k, n in memo_caches(pkg_name).items()
             if n > caches_before.get(k, 0)}
    if grown:
        errors.append(f"module memo caches gained entries: {grown}")
    failed = sum(u.failed for u in units)
    attempted = len(units)
    correct = not errors and failed == 0

    print(f"workload {args.workload} seed {args.seed}: {attempted} units in {timed_s:.1f} s, "
          f"session start {session_s:.2f} s, setups {[round(s, 2) for s in setup_times]}, "
          f"warm-up unit {warm_s:.2f} s, JVM GC {gc_ms:.0f} ms in the timed phase")
    for e in errors:
        print(f"CHECK FAILED: {e}")

    if args.trace:
        found = layer_metrics(tracer, spark, wl, units, tracer_cost, writes, args)
        declared = spec["per_layer"]
    else:
        found = end_to_end(wl, units, setup_times, timed_s)
        declared = spec["end_to_end"]
    # another workload's counters read 0 here: this workload does not run them
    other = {c for w in workloads.values() for c in w.counters}
    found.update({m["name"]: 0.0 for m in declared if m["name"] not in found and m["name"] in other})
    missing = [m["name"] for m in declared if m["name"] not in found]
    if missing:
        raise RuntimeError(f"metrics named in BENCHMARK.json but not measured: {missing}")
    metrics = {m["name"]: {"value": found[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(wl, units, setup_times, timed_s) -> dict[str, float]:
    """Every end-to-end metric; each is printed with how it was sampled."""
    from workloads import dir_bytes

    ok = [u for u in units if not u.failed] or units
    run_ms = [u.run_s * 1000 for u in ok]
    query_ms = [q * 1000 for u in ok for q in u.queries] or [0.0]
    rows = sum(u.rows_in for u in ok)
    store_bytes = sum(dir_bytes(d) for d in wl.store_dirs())
    failed = sum(u.failed for u in units)
    out = {
        "setup_s": (statistics.median(setup_times), f"median of {len(setup_times)}"),
        "run_p50_ms": (statistics.median(run_ms), f"median of {len(ok)}"),
        "run_tail_ms": tail(run_ms),
        "rows_per_s": (rows / timed_s, f"{rows} rows in {timed_s:.1f} s"),
        "query_p50_ms": (statistics.median(query_ms), f"median of {len(query_ms)}"),
        "query_tail_ms": tail(query_ms),
        "ok_ratio": ((len(units) - failed) / len(units), f"{len(units)} attempted"),
        "store_bytes_per_input_byte": (store_bytes / max(wl.input_bytes, 1),
                                       f"{store_bytes} B on disk / {wl.input_bytes} B input"),
    }
    for k, (v, note) in out.items():
        print(f"  {k:28s} {v:14.4f}  ({note})")
    print(f"  unit ms in order:  {[round(x) for x in run_ms]}")
    print(f"  query ms in order: {[round(x) for x in query_ms]}")
    return {k: v for k, (v, _note) in out.items()}


def layer_metrics(tracer, spark, wl, units, tracer_cost, writes, args) -> dict[str, float]:
    """Per-layer metrics of a traced run; writes the spans and the table."""
    tracer.resolve_jobs()
    table = tracer.layer_table()
    # the three scalar kernels only build column expressions: one row for the layer
    kern = [table.pop(n) for n in list(table) if n.startswith("functions.")]
    table["functions.kernels"] = {k: sum(r[k] for r in kern) for k in ("calls", "busy_ms", "jobs", "tasks")}
    found = {f"{name}.{k}": v for name, row in table.items() for k, v in row.items()}
    found.update(wl.layer_counters())
    timed = [s for s in tracer.spans if s.run_id >= 0]
    jobs = sum(len(s.jobs) for s in timed)
    tasks = sum(s.tasks for s in timed)
    n_bytes = sum(b for b, _r in writes)
    n_rows = sum(r for _b, r in writes)
    changed = sum(u.rows_changed for u in units)
    found.update({
        "spark.jobs_per_run": jobs / len(units),
        "spark.tasks_per_job": tasks / jobs if jobs else 0.0,
        "spark.job_floor_ms": job_floor_ms(spark),
        "operators.table_store.bytes_written": n_bytes / len(units),
        "operators.table_store.files_live": float(len(wl.snapshot())),
        "operators.merge.rows_changed_per_row_written": changed / n_rows if n_rows else 0.0,
        "trace.run_p50_ms": statistics.median(u.run_s * 1000 for u in units),
        "trace.cost_ms_per_run": 1000 * statistics.median(tracer_cost),
        # Python process + JVM high-water; JVM heap growth follows GC timing, so it
        # spreads too widely across runs to carry a regression bound
        "session.peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
                                + jvm_peak_rss_mb(spark)),
    })

    out = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    tracer.write(stem + "-spans.json")
    lines = [f"{'layer call':44s} {'calls':>6s} {'self ms':>10s} {'jobs':>6s} {'tasks':>7s}"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["busy_ms"]):
        if row["calls"]:
            lines.append(f"{name:44s} {row['calls']:6d} {row['busy_ms']:10.1f} "
                         f"{row['jobs']:6d} {row['tasks']:7d}")
    lines += [f"{k:44s} {v:.4f}" for k, v in sorted(found.items())
              if not k.endswith((".calls", ".busy_ms", ".jobs", ".tasks"))]
    lines.append("tracing overhead: compare trace.run_p50_ms with run_p50_ms of an "
                 f"untraced run of the same seed; tracer bookkeeping "
                 f"{found['trace.cost_ms_per_run']:.2f} ms per unit")
    with open(stem + "-layers.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return found


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
