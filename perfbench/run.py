#!/usr/bin/env python3
"""Layered crawl / extraction benchmark for goskyr_spark.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One process runs one workload on
``local[nproc]``: it starts Spark, builds the workload's input from the
seed, warms up, then runs whole units (a crawl until its frontier
drains, or one full extract_items action) until ``--seconds`` of
measuring have passed, checking every unit's output against the input
generator. Informational JSON lines (environment, size gates, samples,
check errors, trace summary) come first; the last line of stdout is the
result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` runs one
untraced and one traced unit and reports the per-layer ones, including
the tracing overhead between the two.

Everything the run writes (Spark scratch, workdirs, event log, span
dump) goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# (name, unit) of the end-to-end metrics, as BENCHMARK.json lists them
E2E = [("pages_per_s", "pages/s"), ("round_p50_s", "s"),
       ("setup_s", "s"), ("driver_rss_mb", "MB")]
SETUP_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_wide", "crawl_deep", "extract_batch",
                             "crawl_live", "crawl_live_nodelay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the self-tests")
    return ap.parse_args(argv)


def check_program():
    """The engine must come from this checkout, not from anywhere else
    on the path."""
    try:
        import goskyr_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import goskyr_spark from "
                         f"{ROOT}: {e}") from None
    src = os.path.dirname(os.path.abspath(goskyr_spark.__file__))
    if os.path.dirname(src) != ROOT:
        raise SystemExit(f"perfbench: goskyr_spark imported from {src}, "
                         f"not from {ROOT}")
    return src


def source_sha(src):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(src):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, src).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(args, nproc, src):
    import pyarrow
    import pyspark

    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "size": args.size, "nproc": nproc,
            "master": f"local[{nproc}]",
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "git_sha": git_sha(), "source_sha": source_sha(src),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def start_spark(work, nproc, trace):
    from goskyr_spark.spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job's stage info for the per-round job/task counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir":
                         "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=max(nproc, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def _median_setup(wl):
    builds = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.build_input()
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    return statistics.median(builds), time.perf_counter() - t0


def _account(wl, unit):
    """(attempted, failed) for one unit: a unit that fails a check fails
    all its pages; otherwise unpredicted fetch statuses and failed Spark
    tasks count."""
    from perfbench.workloads import jobs_stats

    pages = unit["pages"]
    if unit["errors"]:
        return pages, pages
    st = jobs_stats(wl.ctx.spark.sparkContext, unit["all_groups"])
    failed = unit.get("status_failures", 0) + sum(v[2] for v in st.values())
    return pages, min(pages, failed)


def measure(args, src, work, info):
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    nproc = len(os.sched_getaffinity(0))
    info.append({"env": environment(args, nproc, src)})
    tracer = Tracer()
    t0 = time.perf_counter()
    spark = start_spark(work, nproc, args.trace)
    session_s = time.perf_counter() - t0
    offset = layers.clock_offset()
    ctx = workloads.Context(spark, nproc, args.seed, work, args.size,
                            tracer)
    wl = workloads.make(args.workload, ctx)
    crawl = isinstance(wl, workloads.CrawlWorkload)
    units, errors, metrics = [], [], {}
    attempted = failed = 0
    try:
        build_s, warm_s = _median_setup(wl)
        setup = {"session_s": session_s, "build_s": build_s,
                 "warm_up_s": warm_s}
        info.append({"setup": setup})
        # the units' own walls count toward --seconds, so the number of
        # units does not depend on how long the checks take
        measured = 0.0
        while not units or (not args.trace and measured < args.seconds):
            unit = wl.run_unit(False)
            measured += unit["wall"]
            if crawl and not units:
                info.append({"gates": wl.gates(unit)})
            units.append(unit)
        traced = None
        if args.trace:
            first = len(tracer.spans)
            layers.patch_store(tracer)
            layers.patch_seen(tracer)
            try:
                traced = wl.run_unit(True)
            finally:
                tracer.restore()
            units.append(traced)
            metrics = _layer_metrics(wl, ctx, crawl, units[0], traced,
                                     tracer.spans[first:], info)
        for u in units:
            a, f = _account(wl, u)
            attempted += a
            failed += f
            errors += u["errors"]
            if crawl and u is not traced:
                shutil.rmtree(u["workdir"], ignore_errors=True)
    finally:
        wl.close()
        stop_spark(spark)
    if traced is not None:
        metrics.update(layers.event_log_metrics(
            tracer, os.path.join(work, "eventlog"), traced["group_prefix"],
            dict(zip(traced["groups"], traced["round_spans"])), offset))
        _dump_spans(args, tracer, info)
    rounds = [w for u in units for w in u["rounds"]]
    info.append({"samples": {
        "rounds": len(rounds), "round_p75_s": _quantile(rounds, 4, 2),
        "units": len(units), "unit_walls_s": [u["wall"] for u in units],
        "pages_per_unit": units[0]["pages"],
        "digests": sorted({u["digest"] for u in units if "digest" in u}),
        "round_walls_s": [[round(w, 3) for w in u["rounds"]]
                          for u in units]}})
    info.append({"check_errors": errors[:20]})
    if not args.trace:
        metrics = _e2e_metrics(units, setup)
    return {"correct": not errors, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": _unit(k)}
                        for k, v in metrics.items()}}


def _unit(name):
    from perfbench.layers import UNITS

    return dict(E2E).get(name) or UNITS[name]


def _e2e_metrics(units, setup):
    rounds = [w for u in units for w in u["rounds"]]
    return {
        "pages_per_s": statistics.median(u["pages"] / u["wall"]
                                         for u in units),
        "round_p50_s": _quantile(rounds, 2, 0),
        "setup_s": setup["session_s"] + setup["build_s"]
        + setup["warm_up_s"],
        "driver_rss_mb":
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def _quantile(values, n, k):
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=n)[k]


def _layer_metrics(wl, ctx, crawl, base, traced, spans, info):
    from perfbench import layers

    tr, spark, nproc = ctx.tracer, ctx.spark, ctx.nproc
    out = {name: 0.0 for name, _u, _b in layers.METRICS}
    out.update(layers.kernel_metrics(tr, wl.spec, subpage=not crawl))
    page_ms = out["kernels.page_ms"]
    pps = base["pages"] / base["wall"]
    out["pipeline.parallel_eff"] = pps / (nproc * 1000 / page_ms)
    out["trace.overhead_frac"] = (traced["wall"] - base["wall"]) \
        / base["wall"]
    if crawl:
        m, unmapped = layers.crawl_metrics(tr, spark, traced, spans)
        out.update(m)
        info.append({"unmapped_phases": unmapped})
        out.update(layers.seen_metrics(tr, spark, traced["engine"]))
        out.update(layers.compact_recover_metrics(tr, wl, traced))
        kernel_s = out["crawl.fetch_extract_s"]
        if wl.live:
            out.update(layers.fetch_metrics(tr, traced))
    else:
        out.update(layers.pipeline_metrics(tr, wl))
        kernel_s = out["pipeline.stage1_s"]
    out["pipeline.boundary_ms_per_page"] = \
        kernel_s * nproc * 1000 / traced["pages"] - page_ms
    return out


def _dump_spans(args, tracer, info):
    path = os.path.join(ROOT, ".bench_work",
                        f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(tracer.spans, fh, default=str)
    info.append({"trace": {
        "spans": len(tracer.spans),
        "nesting_errors": tracer.nesting_errors()[:10],
        "by_name": {k: {"count": c, "total_s": round(t, 6),
                        "self_s": round(s, 6)}
                    for k, (c, t, s) in sorted(tracer.totals().items())},
        "file": os.path.relpath(path, ROOT)}})


def main(argv=None):
    args = parse_args(argv)
    src = check_program()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers and the JVM inherit this, so their scratch files
    # stay inside the checkout too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    info = []
    try:
        result = measure(args, src, work, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in info:
        print(json.dumps(line, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
