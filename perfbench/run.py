"""Benchmark of the greentech-spark engine: two workloads, end-to-end and
per-layer metrics, outputs checked.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest|analytics \\
        --seed N --seconds S --trace 0|1

One Python process drives ``local[N]`` Spark in a closed loop (one client;
each op starts when the previous one returns). Set-up builds the session,
generates the inputs from ``--seed``, checks the outputs once and warms up
until op times stop falling or a warm-up time budget is spent; ``setup_s``
covers all of it. Then ops run for ``--seconds``.

The host's cores are shared with other tenants and their speed swings by a
fifth or more from minute to minute, so the end-to-end times are scaled to
a reference host speed: a child process times a fixed loop on every core
throughout the run (``probes.HostSpeed``), and each timed interval is
multiplied by the reference loop time over the mean loop time during it.
The raw wall times are printed too (``pass_wall_s`` and ``setup_wall_s``
in the per-layer metrics and on the line before the result).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced ops, prints the per-layer metrics (zero for a layer the
workload does not reach) and the tracing overhead, and writes the spans to
``.bench_work/traces/``. The last line of standard output is one JSON
object; the line before it describes the run and its environment. The exit
code is non-zero when any output check fails.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics")
MAX_CPUS = 2
MAX_HEAP_GB = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Task slots, heap, JIT and scratch space fixed from outside the
    program: ``min(2, nproc)`` task slots, a fixed-size heap of at most
    2 GiB and a quarter of RAM, and every temporary file under ``run_dir``.

    Two slots on a four-core host leave cores free for the Spark driver,
    the JIT and the collector; at sf 0.01 a pass took the same time at two
    slots as at four. The heap is fixed in size
    (``-Xms`` equal to the maximum) because ``release_session_state`` ends
    every query with a full collection, after which G1 would shrink a
    growable heap and regrow it during the next query.

    The JVM compiles with C1 only and never flushes compiled code. With the
    default tiered compiler, C2 was still compiling 5-10 s per analytics
    pass after four passes, so op times kept falling through the whole run;
    with C1 only, compile time drops under 1 s per pass by the second warm
    pass. With code-cache flushing on, compile time jumped back in a late
    pass. Spark generates and loads new classes on every pass, so without
    flushing C1's default 48 MB code cache filled after about ten analytics
    passes and the JIT switched itself off; the cache is 256 MB."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(MAX_HEAP_GB, int(ram_gb // 4)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = min(MAX_CPUS, nproc)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=256m -Xms{heap_gb}g -XX:ParallelGCThreads={cpus}",
        "pyspark-shell",
    ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def measure(workload, counters, tracer, seconds: float, trace: bool) -> list[dict]:
    """Closed loop for ``seconds``. A traced run traces ops in the order
    T U U T T U U T ..., so traced and untraced ops sit equally early and
    late in the run, and reads Spark counters after every op."""
    records = []
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or (trace and i < 2):
        traced = trace and i % 4 in (0, 3)
        tracer.op = i
        tracer.enabled = traced
        if traced:
            workload.install_probes()
        gc0, jit0 = counters.gc_ms(), counters.jit_ms()
        t = time.perf_counter()
        try:
            res = workload.op(i)
            error, rows, counts, spans = res.error, res.rows, res.counts, res.spans
        except Exception as exc:  # a failed op is counted, not fatal
            error, rows, counts, spans = f"{type(exc).__name__}: {exc}", 0, None, None
        dt = time.perf_counter() - t
        spans = spans or {"op": (t, t + dt)}
        rec = {
            "t": dt,
            "parts": {k: end - begin for k, (begin, end) in spans.items()},
            "spans": spans,
            "traced": traced,
            "rows": rows,
            "error": error,
            "counts": counts or {},
            "gc_ms": counters.gc_ms() - gc0,
            "jit_ms": counters.jit_ms() - jit0,
        }
        if traced:
            workload.remove_probes()
        tracer.enabled = False
        rec["live_heap_mb"] = counters.live_heap_mb()
        if trace:
            counters.drain()
            rec["jobs"] = {}
            all_jobs = []
            for group in workload.groups(i):
                ids = counters.job_ids(group)
                rec["jobs"][group.split("/", 1)[-1]] = len(ids)
                all_jobs += ids
            rec["spark"] = counters.stage_totals(all_jobs)
            rec["spark"]["jobs"] = len(all_jobs)
        rec.update(workload.after_op())
        records.append(rec)
        i += 1
    return records


def pass_time(records: list[dict], scaled: bool) -> float:
    """Sum, over the parts of an op (the queries of a pass), of the median
    time of each part, so one slow query does not make its whole pass the
    outlier; an ingest op has one part. Failed ops are left out when any op
    succeeded. ``scaled`` multiplies each part's time by
    ``HostSpeed.REFERENCE_S`` over the host speed during that part."""
    from probes import HostSpeed

    done = [r for r in records if r["error"] is None] or records

    def t(r: dict, k: str) -> float:
        dt = r["parts"].get(k, r["t"])
        if not scaled:
            return dt
        host = r["hosts"].get(k) or statistics.fmean(r["hosts"].values())
        return dt * HostSpeed.REFERENCE_S / host

    return sum(_median([t(r, k) for r in done]) for k in done[0]["parts"])


def end_to_end(setup_s: float, records: list[dict]) -> dict:
    """``pass_s`` is the pass time at the reference host speed (see
    ``pass_time``), ``rows_per_s`` an op's input rows over it. ``setup_s``
    is the time from process start to the first measured op, scaled the
    same way by the host speed over that interval."""
    pass_s = pass_time(records, scaled=True)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (max(r["rows"] for r in records) / pass_s, "rows/s"),
        "live_heap_mb": (_median([r["live_heap_mb"] for r in records]), "MB"),
    }


def per_layer(workload, tracer, records: list[dict], rss_mb: float) -> dict:
    from workloads import ANALYTICS

    def span_s(name: str) -> float:
        return sum(tracer.durations(name))

    def per_op(name: str) -> float:
        """Median over traced ops of the time in spans called ``name``."""
        by_op: dict[int, float] = {}
        for s in tracer.spans:
            if s.name == name and s.op is not None:
                by_op[s.op] = by_op.get(s.op, 0.0) + s.end - s.start
        return _median(list(by_op.values()))

    def rec_median(get) -> float:
        return _median([get(r) for r in records])

    traced = [r["t"] for r in records if r["traced"]]
    plain = [r["t"] for r in records if not r["traced"]]
    out = {
        "pass_wall_s": (pass_time(records, scaled=False), "s"),
        "host.loop_ms": (1e3 * _median([h for r in records for h in r["hosts"].values()]), "ms"),
        "session.get_spark_s": (span_s("session.get_spark"), "s"),
        "registry.queries_s": (span_s("registry.queries"), "s"),
        "session.release_s": (per_op("session.release"), "s"),
        "testing.write_raw_batches_s": (span_s("testing.write_raw_batches"), "s"),
        "perfbench.write_tables_s": (span_s("perfbench.write_tables"), "s"),
        "perfbench.warmup_s": (sum(workload.warmup_times), "s"),
        "perfbench.warmup_ops": (len(workload.warmup_times), "count"),
        "pipeline.run_batch_s": (per_op("pipeline.run_batch"), "s"),
        "pipeline.quality_gate_s": (per_op("pipeline.quality_gate"), "s"),
    }
    for key in ("curated_rows", "rejected_rows", "corrupt_rows"):
        out[f"pipeline.{key}"] = (rec_median(lambda r: r["counts"].get(key, 0)), "count")
    out["sources.write_table_s"] = (per_op("sources.write_table"), "s")
    out["sources.files_written"] = (rec_median(lambda r: r.get("files_written", 0)), "count")
    out["sources.bytes_written"] = (rec_median(lambda r: r.get("bytes_written", 0)), "bytes")
    for q in ANALYTICS:
        out[f"operators.{q}_s"] = (per_op(f"operators.{q}"), "s")
        out[f"operators.{q}.jobs"] = (rec_median(lambda r, q=q: r["jobs"].get(q, 0)), "count")
    sp = lambda k: rec_median(lambda r: r["spark"][k])  # noqa: E731
    out.update({
        "spark.jobs": (sp("jobs"), "count"),
        "spark.stages": (sp("stages"), "count"),
        "spark.tasks": (sp("tasks"), "count"),
        "spark.tasks_failed": (sp("tasks_failed"), "count"),
        "spark.shuffle_write_bytes": (sp("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (sp("shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (sp("spill_bytes"), "bytes"),
        "spark.executor_run_s": (sp("executor_run_ms") / 1e3, "s"),
        "spark.executor_cpu_s": (sp("executor_cpu_ns") / 1e9, "s"),
        "spark.gc_s": (rec_median(lambda r: r["gc_ms"]) / 1e3, "s"),
        "spark.jit_compile_s": (rec_median(lambda r: r["jit_ms"]) / 1e3, "s"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_pct": (100.0 * (_median(traced) / _median(plain) - 1.0), "%"),
    })
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from project_1_greentech_logistics_data_pipeline_spark import registry, session
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2
    import probes
    import workloads as W

    work = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    tracer = probes.Tracer(enabled=bool(args.trace))
    host = probes.HostSpeed(os.path.join(run_dir, "host-speed.txt"))
    spark = None
    try:
        host.start()
        with tracer.span("session.get_spark"):
            spark = session.get_spark("perfbench")
        with tracer.span("registry.queries"):
            queries = registry.queries()
            oracle_sql = registry.oracle_sql()
        counters = probes.SparkCounters(spark)
        common = (spark, run_dir, args.seed, tracer, counters)
        if args.workload == "ingest":
            wl = W.Ingest(*common)
        else:
            wl = W.Analytics(*common, queries=queries, oracle_sql=oracle_sql)
        wl.setup()
        setup_end = time.perf_counter()
        records = measure(wl, counters, tracer, args.seconds, bool(args.trace))
        host.stop()
        setup_host = host.over(T0, setup_end)
        for r in records:
            r["hosts"] = {k: host.over(*span) for k, span in r["spans"].items()}
        rss = probes.peak_rss_mb(probes.jvm_pid(spark))
        env = probes.environment(spark)
    finally:
        host.stop()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = wl.failures + [r["error"] for r in records if r["error"]]
    failed = wl.failed_ops + sum(1 for r in records if r["error"])
    attempted = len(wl.warmup_times) + len(records)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "load": "closed loop, 1 client",
        "input_rows_per_op": wl.input_rows,
        "warmup_op_s": [round(t, 4) for t in wl.warmup_times],
        "measured_op_s": [round(r["t"], 4) for r in records],
        "measured_gc_s": [r["gc_ms"] / 1e3 for r in records],
        "measured_jit_s": [r["jit_ms"] / 1e3 for r in records],
        "measured_host_ms": [
            round(1e3 * statistics.fmean(r["hosts"].values()), 4) for r in records
        ],
        "setup_wall_s": setup_end - T0,
        "setup_host_ms": 1e3 * setup_host,
        "pass_wall_s": pass_time(records, scaled=False),
        "pass_s_samples": len(records),
        "failures": failures,
    }
    if args.trace:
        trace_file = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(trace_file)
        info["trace_file"] = os.path.relpath(trace_file, ROOT)
        info["notes"] = (
            "per-layer values are medians over ops; 0 marks a layer this "
            "workload does not reach; pipeline.quality_gate_s is the first "
            "action of run_batch, so it includes JSON parse, validation and "
            "the persist fill; spark.gc_s and spark.jit_compile_s are JVM-wide"
        )
        metrics = per_layer(wl, tracer, records, rss)
        metrics["setup_wall_s"] = (setup_end - T0, "s")
    else:
        setup_s = (setup_end - T0) * probes.HostSpeed.REFERENCE_S / setup_host
        metrics = end_to_end(setup_s, records)
    print(json.dumps(info))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
