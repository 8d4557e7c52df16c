#!/usr/bin/env python3
"""The link-graph engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tc-copart --seed 1 --seconds 10 --trace 0

Closed loop with one client: one Python process holding one SparkSession at
local[nproc] issues its next query only when the previous one returned and
was checked against the oracle. The run

1. generates the seed's inputs and oracle answers once (cached under
   ``.perfbench-data/cache``; not timed);
2. sets up ``N_SETUPS`` times — session start plus loading the input into a
   materialized table — and reports the median as ``setup_s``;
3. discards the workload's warm-up queries, then measures queries for
   ``--seconds`` (at least ``min_queries``), releasing cached blocks between
   queries with ``release_all_cached``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates untraced
and traced queries and prints the per-layer metrics of the traced ones, plus
the tracing overhead (traced minus untraced median). The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full report. A wrong answer counts as failed and makes the
exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SETUPS = 3
# stop measuring past this point so a run always ends well inside 180 s
HARD_STOP_S = 140.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _host(spark) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": _nproc(),
        "mem_total_mb": mem_kb // 1024,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
    }


def _tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    s = sorted(samples)
    return {"value": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(args, wl, work: str, cache: str) -> int:
    from perfbench.trace import PeakRss, StatusReader, Tracer, layer_metric_names
    from trianglecounting_spark.plans.cache import persistent_rdd_ids, release_all_cached
    from trianglecounting_spark.session import get_spark

    t_run = time.perf_counter()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    # inputs for a new seed are generated in a session of their own, stopped
    # before set-up; its JVM is reused, its memory is not counted (PeakRss)
    gen = []

    def session():
        if not gen:
            gen.append(get_spark(app_name="perfbench-inputs", cores=_nproc(), extra_conf=conf))
            gen[0].sparkContext.setLogLevel("ERROR")
        return gen[0]

    t_prep = time.perf_counter()
    inp = wl.prepare(session, cache, args.seed)
    if gen:
        gen[0].stop()
    prepare_s = time.perf_counter() - t_prep

    tr = Tracer(None, enabled=bool(args.trace))
    setups, spark, reader, state = [], None, None, None

    def absorb():
        jobs, stages, execs = reader.collect()
        tr.absorb(jobs, stages)
        return execs

    with PeakRss() as rss:
        for i in range(N_SETUPS):
            if spark is not None:
                if args.trace:
                    absorb()
                spark.stop()
            t0 = time.time()
            spark = get_spark(app_name="perfbench", cores=_nproc(), extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.time() - t0
            tr.mark("session", t0, t0 + t_session)
            tr.spark = spark
            reader = StatusReader(spark) if args.trace else None
            t1 = time.perf_counter()
            state = wl.load(spark, inp, tr)
            setups.append(t_session + time.perf_counter() - t1)
        protected = persistent_rdd_ids(spark)  # the loaded input survives releases
        attempted = failed = 0
        errors = []
        front = getattr(wl, "front_door", None)
        if front is not None:
            tr.phase = "front"
            t0 = time.perf_counter()
            bad = front(spark, inp, tr)
            report_front = {"ingest_s": time.perf_counter() - t0}
            report_front["pages_per_s"] = wl.pages / report_front["ingest_s"]
            attempted += 1
            if bad:
                failed += 1
                errors.append({"query": "front_door", "errors": bad})
                print(f"perfbench: front door wrong: {bad}", file=sys.stderr)
        if args.trace:
            absorb()
        oracle = inp["oracle"]
        if args.inject_wrong:
            oracle = wl.corrupt(oracle)

        tr.phase = "query"
        untraced, traced, kernel = [], [], []
        t_measure = None
        q = 0
        while True:
            warm = q < wl.warmup
            if not warm and t_measure is None:
                t_measure = time.perf_counter()
            if t_measure is not None:
                done = q - wl.warmup
                elapsed = time.perf_counter() - t_measure
                if done >= wl.min_queries and elapsed >= args.seconds:
                    break
                if done >= 1 and time.perf_counter() - t_run > HARD_STOP_S:
                    break
            tracing = bool(args.trace) and not warm and q % 2 == 1
            tr.enabled = tracing
            tr.query_id = f"q{q}"
            with tr.span("cache"):
                release_all_cached(spark, keep=protected)
            t0 = time.perf_counter()
            attempted += 1
            try:
                with tr.span("query"):
                    ans = wl.query(spark, state, tr)
                dt = time.perf_counter() - t0
                bad = wl.check(ans, oracle)
            except Exception:  # a failed query is counted and reported, not fatal
                dt, bad = None, [traceback.format_exc(limit=3)]
            if bad:
                failed += 1
                errors.append({"query": q, "errors": bad})
                print(f"perfbench: query {q} wrong: {bad}", file=sys.stderr)
            elif not warm:
                (traced if tracing else untraced).append(dt)
                if tracing:
                    execs = absorb()
                    window = [s for s in tr.spans if s["query"] == tr.query_id and s["name"] == "query"]
                    lo, hi = window[0]["start"], window[0]["end"]
                    kernel.append({
                        "execs": [x for x in execs if lo <= x["start"] <= hi],
                        "counts": wl.kernel_counts(ans),
                    })
            q += 1
        host = _host(spark)
        _stop(spark)

    measured = untraced + traced
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "load": "closed loop, 1 client, local[%d]" % host["nproc"],
        "prepare_s": prepare_s, "setup_s": setups,
        "warmup_queries": wl.warmup, "query_s": measured,
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "errors": errors[:5],
    }
    if front is not None:
        report.update(report_front)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    edges = wl.edges
    if args.trace:
        metrics = tr.layer_metrics(N_SETUPS, max(1, len(traced)))
        metrics.update(_kernel_metrics(kernel))
        if traced and untraced:
            metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        else:
            metrics["trace.overhead_s"] = 0.0
        units = dict(layer_metric_names())
        units["trace.overhead_s"] = "s"
        report["traced_query_s"] = traced
        tr.dump(os.path.join(ROOT, ".perfbench-data", "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        # no correct query measured (every answer wrong): no latency to report
        p50 = statistics.median(measured) if measured else None
        metrics = {
            "setup_s": statistics.median(setups),
            "query_s.p50": p50,
            "edges_per_s": edges / p50 if p50 else None,
            "peak_rss_mb": rss.python_mb(),
        }
        units = {"setup_s": "s", "query_s.p50": "s", "edges_per_s": "1/s", "peak_rss_mb": "MB"}
        report["query_s.tail"] = _tail(measured)
        report["peak_rss_by_process"] = rss.by_process_mb()
        if wl.work_name:
            report[f"{wl.work_name}_per_s"] = wl.work / p50 if p50 else None
    report["edges"] = edges
    report["metrics"] = metrics
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _kernel_metrics(per_query: list[dict]) -> dict[str, float]:
    """Kernel metrics per traced query: the MapInArrow node's SQL metrics
    plus the probe/hit counters the tc workloads read via ``observation=``."""
    n = max(1, len(per_query))
    out = {k: 0.0 for k in ("python_run_s", "python_start_s", "arrow_bytes_in",
                            "arrow_bytes_out", "probes", "hits")}
    for q in per_query:
        for x in q["execs"]:
            for k in ("python_run_s", "python_start_s", "arrow_bytes_in", "arrow_bytes_out"):
                out[k] += x[k]
        out["probes"] += q["counts"][0]
        out["hits"] += q["counts"][1]
    out = {k: v / n for k, v in out.items()}
    out["hit_ratio"] = out["hits"] / out["probes"] if out["probes"] else 0.0
    out["probes_per_s"] = out["probes"] / out["python_run_s"] if out["python_run_s"] else 0.0
    return {f"kernel.{k}": v for k, v in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tc-copart-rmat", "iter-copart"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: self-test inputs (sf0.001, R-MAT scale 11, 500 pages)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="self-test: corrupt the expected answer")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "trianglecounting_spark", "__init__.py")):
        print("perfbench: trianglecounting_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    data = os.path.join(ROOT, ".perfbench-data")
    work = os.path.join(data, "work", f"{args.workload}-{os.getpid()}")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the package from the checkout root, whatever the
    # working directory; every temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's own temp files and perf-data file stay inside the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData") if p
    )
    tempfile.tempdir = None  # re-read TMPDIR (get_spark's checkpoint dir)
    wl = WORKLOADS[args.workload][args.size]()
    wl.work_dir = work
    os.environ.update(wl.env)
    try:
        return run(args, wl, work, os.path.join(data, "cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
