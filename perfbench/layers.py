"""Per-layer measurements for the traced run.

Each function measures one layer from outside the engine: by calling its
public functions directly (kernels, seen filters, fetcher), by wrapping
them (store writes), or by reading what Spark already records (event
log, status tracker). Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np

from .workloads import NOW, PHASE_METRIC, jobs_stats

STORE_METHODS = ("append", "append_counted", "append_arrow", "append_rows",
                 "append_arrow_bucketed", "overwrite", "commit_meta")

# (name, unit, better) of every per-layer metric, in report order
METRICS = [
    ("kernels.page_ms", "ms", "lower"),
    ("kernels.parse_ms", "ms", "lower"),
    ("kernels.select_ms", "ms", "lower"),
    ("kernels.date_ms", "ms", "lower"),
    ("pipeline.stage1_s", "s", "lower"),
    ("pipeline.stage2_s", "s", "lower"),
    ("pipeline.finalize_s", "s", "lower"),
    ("pipeline.boundary_ms_per_page", "ms", "lower"),
    ("pipeline.parallel_eff", "ratio", "higher"),
    ("crawl.bootstrap_s", "s", "lower"),
    ("crawl.dequeue_s", "s", "lower"),
    ("crawl.fetch_extract_s", "s", "lower"),
    ("crawl.fetched_write_s", "s", "lower"),
    ("crawl.new_urls_s", "s", "lower"),
    ("crawl.seen_s", "s", "lower"),
    ("crawl.slabs_s", "s", "lower"),
    ("crawl.commit_tail_s", "s", "lower"),
    ("crawl.jobs_per_round", "jobs/round", "lower"),
    ("crawl.tasks_per_round", "tasks/round", "lower"),
    ("crawl.compact_s", "s", "lower"),
    ("crawl.recover_s", "s", "lower"),
    ("store.write_calls", "count", "lower"),
    ("store.write_s", "s", "lower"),
    ("store.files_written", "count", "lower"),
    ("store.bytes_written", "bytes", "lower"),
    ("seen.bloom_fp_frac", "ratio", "lower"),
    ("seen.maybe_seen_fp_frac", "ratio", "lower"),
    ("seen.cuckoo_refine_frac", "ratio", "higher"),
    ("seen.probe_ns", "ns", "lower"),
    ("seen.insert_ns", "ns", "lower"),
    ("fetch.requests", "count", "lower"),
    ("fetch.robots_requests", "count", "lower"),
    ("fetch.connections", "count", "lower"),
    ("fetch.server_ms", "ms", "lower"),
    ("fetch.hosts_in_flight", "count", "higher"),
    ("fetch.gap_over_delay_s", "s", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]
UNITS = {name: unit for name, unit, _b in METRICS}


def patch_store(tracer):
    from goskyr_spark.spark.store import SnapshotTable

    for m in STORE_METHODS:
        tracer.patch(SnapshotTable, m, f"store.{m}")


def patch_seen(tracer):
    from goskyr_spark.kernels.cuckoo import BloomFilter, CuckooFilter

    tracer.patch(BloomFilter, "contains_many", "seen.bloom.contains_many")
    tracer.patch(BloomFilter, "add_many", "seen.bloom.add_many")
    tracer.patch(CuckooFilter, "contains_many", "seen.cuckoo.contains_many")
    tracer.patch(CuckooFilter, "insert_many", "seen.cuckoo.insert_many")


# --- kernels ---------------------------------------------------------------------


def page_sample(spec, n=240):
    """A fixed, evenly strided sample of the workload's (url, html)
    pages, in the input's own mix of list and detail pages."""
    rids = [r for r in range(spec.total_rows)
            if spec.locate(r)[1] != "robots"]
    step = max(1, len(rids) // n)
    out = []
    for rid in rids[::step][:n]:
        h, kind, p, i = spec.locate(rid)
        out.append((h, spec.url_for(h, kind, p, i),
                    spec.render(h, kind, p, i)[0]))
    return out


def kernel_metrics(tracer, spec, subpage=False, passes=3):
    """Single-core, driver-side ms per page of `scrape_page` and of the
    three pieces it spends most time in, called directly over the page
    sample; the median of ``passes`` passes."""
    from goskyr_spark.kernels import css, dom, extract
    from goskyr_spark.kernels.filters import initialize_filters
    from goskyr_spark.kernels.scrape import scrape_page
    from goskyr_spark.synth import event_scraper, host_name

    sample = page_sample(spec)
    scrapers = {}
    for h, _u, _html in sample:
        if h not in scrapers:
            sc = event_scraper(host_name(h), subpage=subpage)
            scrapers[h] = (sc, initialize_filters(sc, now=NOW))
    sc0 = next(iter(scrapers.values()))[0]
    text_sels = [loc.selector for f in sc0.fields for loc in f.location
                 if loc.selector]
    date_fields = [f for f in sc0.fields if f.type == "date"]
    docs = [dom.parse_html(html) for _h, _u, html in sample]
    nodes = [css.find(d, sc0.item) for d in docs]

    def page():
        for h, url, html in sample:
            sc, flt = scrapers[h]
            scrape_page(sc, url, html, filters=flt, now=NOW)

    def parse():
        for _h, _u, html in sample:
            dom.parse_html(html)

    def select():
        for d, items in zip(docs, nodes):
            css.find(d, sc0.item)
            css.find(d, sc0.paginator.location.selector)
            for node in items:
                for s in text_sels:
                    css.find([node], s)

    def dates():
        for items in nodes:
            for node in items:
                for f in date_fields:
                    extract.get_date(f, [node], now=NOW)

    out = {}
    for key, fn in (("page", page), ("parse", parse), ("select", select),
                    ("date", dates)):
        per = []
        for _ in range(passes):
            with tracer.span(f"kernels.{key}") as sp:
                fn()
            per.append((sp["end"] - sp["start"]) * 1000 / len(sample))
        out[f"kernels.{key}_ms"] = statistics.median(per)
    return out


# --- seen set --------------------------------------------------------------------


def seen_metrics(tracer, spark, eng, n_probe=20_000):
    """Probe the crawl's latest slab filters with hashes of urls the crawl
    never saw: the share Bloom calls present, the share both filters
    call present (the engine's "maybe seen"), and how many Bloom
    positives the cuckoo filter rules out; plus per-key probe and
    insert cost."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goskyr_spark.kernels.cuckoo import BloomFilter, CuckooFilter

    with tracer.span("seen.read_slabs"):
        w = Window.partitionBy("slab_id").orderBy(F.desc("round"))
        slabs = {int(r[0]): (BloomFilter.from_bytes(r[1]),
                             CuckooFilter.from_bytes(r[2]))
                 for r in eng.t_slabs.read(spark)
                 .withColumn("_rn", F.row_number().over(w))
                 .filter("_rn = 1").select("slab_id", "bloom", "cuckoo")
                 .collect()}
    probe = np.array([r[0] for r in spark.range(n_probe).select(
        F.xxhash64(F.concat(F.lit("https://never-crawled.invalid/p"),
                            F.col("id").cast("string")))).collect()],
        dtype=np.int64).view(np.uint64)
    sids = (probe % np.uint64(eng.n_slabs)).astype(np.int64)

    def flags():
        bloom = np.zeros(len(probe), dtype=bool)
        both = np.zeros(len(probe), dtype=bool)
        for sid, (bf, cf) in slabs.items():
            sel = sids == sid
            b = bf.contains_many(probe[sel])
            bloom[sel] = b
            both[sel] = b & cf.contains_many(probe[sel])
        return bloom, both

    times = []
    for _ in range(5):
        with tracer.span("seen.probe") as sp:
            bloom, both = flags()
        times.append((sp["end"] - sp["start"]) * 1e9 / len(probe))
    seen_h = np.array([r[0] for r in eng.t_seen.read(spark)
                       .select("url_hash").collect()],
                      dtype=np.int64).view(np.uint64)
    ins = []
    for _ in range(3):
        bf = BloomFilter.sized_for(len(seen_h))
        cf = CuckooFilter.sized_for(len(seen_h))
        with tracer.span("seen.insert") as sp:
            bf.add_many(seen_h)
            cf.insert_many(seen_h)
        ins.append((sp["end"] - sp["start"]) * 1e9 / max(1, len(seen_h)))
    n_bloom = int(bloom.sum())
    return {
        "seen.bloom_fp_frac": n_bloom / len(probe),
        "seen.maybe_seen_fp_frac": int(both.sum()) / len(probe),
        "seen.cuckoo_refine_frac": (1 - int(both.sum()) / n_bloom
                                    if n_bloom else 0.0),
        "seen.probe_ns": statistics.median(times),
        "seen.insert_ns": statistics.median(ins),
    }


# --- crawl and store ---------------------------------------------------------------


def crawl_metrics(tracer, spark, unit, traced_spans):
    """Phase totals of the traced crawl, jobs and tasks per round, and
    the store writes it made."""
    out = {}
    unmapped = set()
    for phases in unit["phases"]:
        for name, secs in phases:
            key = PHASE_METRIC.get(name)
            if key is None:
                unmapped.add(name)
                continue
            out[key] = out.get(key, 0.0) + secs
    out["crawl.bootstrap_s"] = unit["bootstrap_secs"]
    st = jobs_stats(spark.sparkContext, unit["groups"])
    n = max(1, len(unit["groups"]))
    out["crawl.jobs_per_round"] = sum(v[0] for v in st.values()) / n
    out["crawl.tasks_per_round"] = sum(v[1] for v in st.values()) / n
    writes = [s for s in traced_spans if s["name"].startswith("store.")]
    out["store.write_calls"] = len(writes)
    out["store.write_s"] = sum(s["end"] - s["start"] for s in writes)
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(unit["workdir"]):
        for fn in names:
            if fn.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, fn))
    out["store.files_written"] = files
    out["store.bytes_written"] = nbytes
    return out, sorted(unmapped)


def compact_recover_metrics(tracer, workload, unit):
    """Mean wall of the crawl's own `compact()` calls (one explicit call
    after the crawl when the workload never compacts), and `recover()`
    on a fresh engine over the finished workdir."""
    eng = unit["engine"]
    secs = list(unit["compact_secs"])
    if not secs:
        with tracer.span("crawl.compact") as sp:
            eng.compact()
        secs = [sp["end"] - sp["start"]]
    fresh = workload._engine(unit["workdir"], workload._seeds())
    with tracer.span("crawl.recover") as sp:
        fresh.recover()
    return {"crawl.compact_s": statistics.mean(secs),
            "crawl.recover_s": sp["end"] - sp["start"]}


# --- batch pipeline ------------------------------------------------------------------


def pipeline_metrics(tracer, workload):
    """Each stage of `extract_items` timed alone with a noop sink, the
    stage before it cached."""
    from goskyr_spark.spark.pipeline import (
        extract_stage1, extract_stage2_subpages, finalize_items_df)
    from goskyr_spark.synth import event_scraper

    spark = workload.ctx.spark
    sc = event_scraper("host0000.test", subpage=True)
    pages = spark.read.parquet(workload.corpus)

    def noop(name, df):
        with tracer.span(name) as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp["end"] - sp["start"]

    out = {"pipeline.stage1_s": noop("pipeline.stage1",
                                     extract_stage1(pages, sc, now=NOW))}
    s1 = extract_stage1(pages, sc, now=NOW).cache()
    s1.count()
    s2 = extract_stage2_subpages(s1, pages, sc, now=NOW).cache()
    out["pipeline.stage2_s"] = noop("pipeline.stage2", s2)
    out["pipeline.finalize_s"] = noop(
        "pipeline.finalize", finalize_items_df(s2, sc, now=NOW))
    s2.unpersist()
    s1.unpersist()
    return out


# --- live fetch ---------------------------------------------------------------------


def fetch_metrics(tracer, unit):
    """From the loopback server's log of the traced crawl: requests,
    robots.txt requests, connections, server time per request, the peak
    number of hosts with a request chain open at once, and the mean
    wait beyond Crawl-delay between a host's requests in one round."""
    web = unit["web"]
    log = [(t, ip, path) for t, ip, path, _s in web.log]
    bounds = [(sp["start"], sp["end"]) for sp in unit["round_spans"]]

    def round_of(t):
        for k, (a, b) in enumerate(bounds):
            if a <= t <= b:
                return k
        return -1

    chains = {}
    for t, ip, path in log:
        chains.setdefault((round_of(t), ip), []).append(t)
    gaps = [b - a - web.crawl_delay for ts in chains.values()
            for a, b in zip(ts, ts[1:])]
    events = sorted([(ts[0], 1) for ts in chains.values()] +
                    [(ts[-1], -1) for ts in chains.values()],
                    key=lambda e: (e[0], -e[1]))
    peak = cur = 0
    for _t, d in events:
        cur += d
        peak = max(peak, cur)
    # a driver-side round trip through the fetcher and robots parser
    from goskyr_spark.kernels.robots import parse_robots
    from goskyr_spark.spark.fetchers import StaticFetcher

    f = StaticFetcher(timeout=10)
    for h in range(min(4, web.spec.n_hosts)):
        with tracer.span("fetch.static_fetch"):
            body = f.fetch(f"{web.base_url(h)}/robots.txt")
        with tracer.span("robots.parse_robots"):
            parse_robots(body.encode(), "*")
    n_req = len(log)
    return {
        "fetch.requests": sum(1 for _t, _ip, p in log
                              if p != "/robots.txt"),
        "fetch.robots_requests": sum(1 for _t, _ip, p in log
                                     if p == "/robots.txt"),
        "fetch.connections": web.connections,
        "fetch.server_ms": web.handle_secs * 1000 / max(1, n_req),
        "fetch.hosts_in_flight": peak,
        "fetch.gap_over_delay_s": statistics.mean(gaps) if gaps else 0.0,
    }


# --- Spark runtime (event log) ---------------------------------------------------------


def event_log_metrics(tracer, log_dir, prefix, parents, clock_offset):
    """Task skew of the heaviest stage and shuffle bytes of the traced
    unit's jobs (job group ``prefix*``), from the Spark event log; each
    of those jobs also becomes a ``spark.job`` span under the span of
    the call that launched it (``parents``: job group -> span)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        return {}
    jobs, stage_job, tasks, job_times = {}, {}, {}, {}
    with open(files[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g and g.startswith(prefix):
                    jobs[ev["Job ID"]] = g
                    job_times[ev["Job ID"]] = [ev["Submission Time"], None]
                    for s in ev["Stage IDs"]:
                        stage_job[s] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                job_times[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and \
                    ev["Stage ID"] in stage_job:
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sw = (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                tasks.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"], sw))
    for jid, (a, b) in job_times.items():
        parent = parents.get(jobs[jid])
        if b is not None:
            tracer.add_span("spark.job", a / 1000 - clock_offset,
                            b / 1000 - clock_offset, parent, job=jid)
    if not tasks:
        return {}
    heavy = max(tasks.values(), key=lambda ts: sum(d for d, _ in ts))
    durs = [d for d, _ in heavy]
    med = statistics.median(durs)
    return {
        "spark.task_skew": max(durs) / med if med else 1.0,
        "spark.shuffle_bytes": sum(sw for ts in tasks.values()
                                   for _d, sw in ts),
    }


def clock_offset():
    """time.time() - time.perf_counter(), to place epoch-ms event-log
    times on the span clock."""
    return time.time() - time.perf_counter()
