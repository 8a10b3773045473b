"""The workloads: inputs, set-up, timed units and their checks.

A workload builds its input from the seed once per set-up, warms the
engine up, then runs *units* (one whole crawl from `bootstrap()` until
the frontier drains, or one whole `extract_items` action) until the
measuring time is spent. Every unit is checked against the generator
(see oracle.py); a unit that fails a check counts all its pages as
failed.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from goskyr_spark.spark.crawl import CrawlEngine
from goskyr_spark.spark.fetchers import StaticFetcher
from goskyr_spark.spark.pipeline import extract_items
from goskyr_spark.synth import (
    SynthSpec, event_scraper, host_name, synth_pages_df,
)

from . import oracle
from .liveweb import LiveWeb

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)

# crawl.py `last_phases` names -> the per-layer metric they add to
PHASE_METRIC = {
    "dequeue": "crawl.dequeue_s",
    "salt_detect": "crawl.dequeue_s",
    "fetch_extract+items": "crawl.fetch_extract_s",
    "fetched_write": "crawl.fetched_write_s",
    "host_stats": "crawl.fetched_write_s",
    "seq_stats": "crawl.fetched_write_s",
    "frontier(new_urls)": "crawl.new_urls_s",
    "seen": "crawl.seen_s",
    "slabs": "crawl.slabs_s",
    "commit_tail": "crawl.commit_tail_s",
}

# SynthSpec shapes per workload; "tiny" is for the self-tests.
SPECS = {
    "crawl_wide": {
        "full": dict(n_hosts=500, pages_per_host=2, items_per_page=12,
                     hot_hosts=5, hot_factor=4),
        "tiny": dict(n_hosts=12, pages_per_host=2, items_per_page=3,
                     hot_hosts=1, hot_factor=3),
    },
    "crawl_deep": {
        "full": dict(n_hosts=16, pages_per_host=40, items_per_page=2,
                     hot_hosts=0, hot_factor=1),
        "tiny": dict(n_hosts=4, pages_per_host=5, items_per_page=2,
                     hot_hosts=0, hot_factor=1),
    },
    "extract_batch": {
        "full": dict(n_hosts=16, pages_per_host=4, items_per_page=100,
                     hot_hosts=0, hot_factor=1),
        "tiny": dict(n_hosts=2, pages_per_host=2, items_per_page=10,
                     hot_hosts=0, hot_factor=1),
    },
    "crawl_live": {
        "full": dict(n_hosts=64, pages_per_host=2, items_per_page=4,
                     hot_hosts=0, hot_factor=1),
        "tiny": dict(n_hosts=4, pages_per_host=2, items_per_page=2,
                     hot_hosts=0, hot_factor=1),
    },
    "crawl_live_nodelay": {
        "full": dict(n_hosts=192, pages_per_host=2, items_per_page=4,
                     hot_hosts=0, hot_factor=1),
        "tiny": dict(n_hosts=4, pages_per_host=2, items_per_page=2,
                     hot_hosts=0, hot_factor=1),
    },
}

# Crawl digests (fetch order + statuses + seen set) are functions of the
# web's shape only, not of the seed, which changes page text alone.
# crawl_wide's full digest is the one bench.py has recorded since r01.
DIGESTS = {
    ("crawl_wide", "full"): "768bf8d782fb251d",
    ("crawl_wide", "tiny"): "1736243eba05902d",
    ("crawl_deep", "full"): "97882816ffdc24fb",
    ("crawl_deep", "tiny"): "4f192d9adba942d3",
}
COMPACT_EVERY = {"full": 10, "tiny": 2}
# A first crawl in a fresh JVM runs far slower than later ones; the
# warm-up pays for most of that in set-up. Its first rounds carry the
# JVM and worker start-up; later tail rounds would only add set-up time.
WARM_ROUNDS = 4
WARM_ACTIONS = 3
# Crawl-delay (seconds) every host of a live web declares; 0 omits it
CRAWL_DELAY = {"crawl_live": 0.02, "crawl_live_nodelay": 0.0}


def make_spec(workload, seed, size):
    return SynthSpec(seed=seed, **SPECS[workload][size])


class Context:
    """What every workload shares: the session, sizes, scratch space and
    the span recorder of the current phase."""

    def __init__(self, spark, nproc, seed, work, size, tracer):
        self.spark = spark
        self.nproc = nproc
        self.seed = seed
        self.work = work
        self.size = size
        self.tracer = tracer

    def tmpdir(self, tag):
        d = os.path.join(self.work, f"{tag}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d

    def job_group(self, tag):
        return f"pb-{tag}-{uuid.uuid4().hex[:8]}"


def jobs_stats(sc, groups):
    """(jobs, tasks, failed tasks) per job group, from the status
    tracker (no extra Spark job)."""
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        out[g] = (len(jobs), tasks, failed)
    return out


# --- crawls --------------------------------------------------------------------


class CrawlWorkload:
    live = False

    def __init__(self, name, ctx):
        self.name = name
        self.ctx = ctx
        self.spec = make_spec(name, ctx.seed, ctx.size)
        self.digest = DIGESTS.get((name, ctx.size))
        self.compact_every = (COMPACT_EVERY[ctx.size]
                              if name == "crawl_deep" else None)
        self.pages = None

    # set-up ------------------------------------------------------------------

    def build_input(self):
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = synth_pages_df(
            self.ctx.spark, self.spec, include_fixtures=False,
            num_partitions=2 * self.ctx.nproc).cache()
        self.pages.count()

    def warm_up(self):
        """The same crawl, capped at WARM_ROUNDS rounds (crawl_wide's
        three fat rounds and a tail round), so the JVM's code paths and
        the Python workers are warm before the timed units."""
        eng = self._engine(self.ctx.tmpdir("warm"), self._seeds())
        eng.run(max_rounds=WARM_ROUNDS)

    def close(self):
        if self.pages is not None:
            self.pages.unpersist()

    # one unit ----------------------------------------------------------------

    def _seeds(self):
        return [f"https://{host_name(h)}/list/1"
                for h in range(self.spec.n_hosts)]

    def _engine(self, wd, seeds, **kw):
        return CrawlEngine(self.ctx.spark, wd, self.pages, event_scraper,
                           seeds, now=NOW,
                           fetch_partitions=2 * self.ctx.nproc,
                           round_budget=10_000_000,
                           compact_every=self.compact_every, **kw)

    def run_unit(self, traced):
        wd = self.ctx.tmpdir("crawl")
        eng = self._engine(wd, self._seeds())
        unit = self._crawl(eng, traced)
        unit.update(self._check(eng, unit))
        unit["engine"] = eng
        unit["workdir"] = wd
        return unit

    def _crawl(self, eng, traced):
        """Run ``eng.run()`` with spans around bootstrap, every round and
        every compaction; each round runs under its own job group."""
        tr = self.ctx.tracer
        sc = self.ctx.spark.sparkContext
        prefix = self.ctx.job_group(self.name)
        rounds = []
        orig_round = eng.run_round

        def run_round(r):
            sc.setJobGroup(f"{prefix}-r{r}", f"{self.name} round {r}")
            try:
                with tr.span("crawl.run_round", round=r) as sp:
                    s = orig_round(r)
            finally:
                # jobs between rounds (compaction) are not the round's
                sc.setJobGroup(f"{prefix}-between", self.name)
            rounds.append((sp, s, list(eng.last_phases)))
            return s

        eng.run_round = run_round
        tr.patch(eng, "bootstrap", "crawl.bootstrap")
        tr.patch(eng, "compact", "crawl.compact")
        tr.patch(eng, "recover", "crawl.recover")
        first = len(tr.spans)
        sc.setJobGroup(f"{prefix}-boot", f"{self.name} bootstrap")
        try:
            eng.run(max_rounds=10_000)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            del eng.run_round
            tr.restore()
        spans = tr.spans[first:]
        boot = [s for s in spans if s["name"] == "crawl.bootstrap"]
        start = boot[0]["start"] if boot else rounds[0][0]["start"]
        wall = rounds[-1][0]["end"] - start
        if traced:
            self._phase_spans(rounds)
        n_pages = sum(s["n_dequeued"] for _sp, s, _ph in rounds)
        return {"wall": wall, "pages": n_pages,
                "rounds": [sp["end"] - sp["start"] for sp, _s, _p in rounds],
                "round_spans": [sp for sp, _s, _p in rounds],
                "summaries": [s for _sp, s, _p in rounds],
                "phases": [ph for _sp, _s, ph in rounds],
                "groups": [f"{prefix}-r{s['round']}"
                           for _sp, s, _p in rounds],
                "group_prefix": prefix,
                "all_groups": [f"{prefix}-r{s['round']}"
                               for _sp, s, _p in rounds]
                + [f"{prefix}-boot", f"{prefix}-between"],
                "compact_secs": [s["end"] - s["start"] for s in spans
                                 if s["name"] == "crawl.compact"],
                "bootstrap_secs": (boot[0]["end"] - boot[0]["start"]
                                   if boot else 0.0)}

    def _phase_spans(self, rounds):
        """Turn each round's `last_phases` into child spans laid end to
        end from the round's start, and re-parent the spans recorded
        during the round (store writes, seen-filter calls) under the
        phase they fall in."""
        tr = self.ctx.tracer
        for sp, _s, phases in rounds:
            inner = [s for s in tr.spans if s["parent"] == sp["id"]]
            t = sp["start"]
            made = []
            for name, secs in phases:
                made.append(tr.add_span(f"crawl.phase.{name}", t, t + secs,
                                        sp))
                t += secs
            for s in inner:
                for ph in made:
                    if ph["start"] <= s["start"] and s["end"] <= ph["end"]:
                        s["parent"] = ph["id"]
                        break

    # checks ------------------------------------------------------------------

    def _host_prefix(self, h):
        return f"https://{host_name(h)}"

    def _read_outputs(self, eng):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        fetched = [tuple(r) for r in eng.t_fetched.read(spark).select(
            "round", "fetch_seq", "url", "status").collect()]
        seen = [r[0] for r in eng.t_seen.read(spark).select("url")
                .collect()]
        items = [tuple(r) for r in eng.t_items.read(spark)
                 .filter("item_idx >= 0")
                 .select("page_url", "item_idx", "title", "genre",
                         F.unix_micros("date")).collect()]
        return fetched, seen, items

    def _robots_blocked(self):
        return oracle.mock_robots_blocked(self.spec, host_name)

    def _check(self, eng, unit):
        fetched, seen, items = self._read_outputs(eng)
        errors = []
        digest = oracle.crawl_digest(fetched, seen)
        if self.digest is not None and digest != self.digest:
            errors.append(f"crawl digest {digest} != pinned {self.digest}")
        bad = oracle.status_failures(fetched, self._robots_blocked())
        errors += [f"unpredicted status {r[3]} for {r[2]}" for r in bad[:5]]
        expected = oracle.expected_items(self.spec, self._host_prefix)
        errors += oracle.check_items(expected, items)
        return {"digest": digest, "errors": errors,
                "status_failures": len(bad)}

    # gate report -------------------------------------------------------------

    def gates(self, unit):
        """Which size-gated paths the largest round took: its dequeued and
        new-url counts and the on-disk state the byte gates read."""
        eng = unit["engine"]
        summ = unit["summaries"]
        big = max(summ, key=lambda s: s["n_dequeued"])
        r = big["round"]

        def bytes_before(table):
            target = None
            for m in table.snapshots():
                if m["meta"].get("round", -1) <= r - 1:
                    target = m
            if target is None:
                return 0
            return sum(os.path.getsize(os.path.join(table.dir, f))
                       for f in target["files"])

        # the dequeue gate reads frontier + fetched (+ host stats when
        # priorities adapt), the driver new-url commit the seen table;
        # the thresholds are the engine's own
        state = bytes_before(eng.t_frontier) + bytes_before(eng.t_fetched)
        if eng.adaptive_priority:
            state += bytes_before(eng.t_host_stats)
        seen_b = bytes_before(eng.t_seen)
        max_new = max(s.get("n_new_urls", 0) for s in summ)
        rows = eng.slab_driver_threshold
        return {
            "largest_round": r,
            "max_dequeued": big["n_dequeued"],
            "max_new_urls": max_new,
            "dequeue_state_bytes": state,
            "seen_bytes": seen_b,
            "driver_dequeue": state <= eng.dequeue_driver_bytes,
            "driver_new_urls": seen_b <= eng.dequeue_driver_bytes,
            "single_collect_commit": big["n_dequeued"] <= rows,
            "driver_slab_update": max_new <= rows,
        }


class LiveCrawlWorkload(CrawlWorkload):
    """Real sockets: the engine's live fetch path against `LiveWeb`."""

    live = True

    def __init__(self, name, ctx):
        super().__init__(name, ctx)
        self.crawl_delay = CRAWL_DELAY[name]
        self.web = None

    def build_input(self):
        if self.web is not None:
            self.web.stop()
        self.web = LiveWeb(self.spec, self.crawl_delay).start()

    def warm_up(self):
        small = SynthSpec(seed=self.ctx.seed, n_hosts=max(2, self.ctx.nproc),
                          pages_per_host=2, items_per_page=2, hot_hosts=0)
        web = LiveWeb(small, self.crawl_delay).start()
        try:
            eng = self._engine(self.ctx.tmpdir("warm"),
                               [f"{web.base_url(h)}/list/1"
                                for h in range(small.n_hosts)])
            eng.run(max_rounds=10)
        finally:
            web.stop()

    def close(self):
        if self.web is not None:
            self.web.stop()
            self.web = None

    def _seeds(self):
        return [f"{self.web.base_url(h)}/list/1"
                for h in range(self.spec.n_hosts)]

    def _host_prefix(self, h):
        return self.web.base_url(h)

    def _robots_blocked(self):
        return {}

    def _engine(self, wd, seeds, **kw):
        return CrawlEngine(self.ctx.spark, wd, None, event_scraper, seeds,
                           now=NOW, fetch_partitions=2 * self.ctx.nproc,
                           round_budget=10_000_000,
                           live_fetcher=lambda: StaticFetcher(timeout=10),
                           **kw)

    def run_unit(self, traced):
        # each unit gets a fresh server (new port), so the workers'
        # robots cache, keyed by host:port, starts cold every time
        self.build_input()
        mark = len(self.web.log)
        unit = super().run_unit(traced)
        log = [(t, ip, path) for t, ip, path, _st in self.web.log[mark:]]
        errs = oracle.check_politeness(log, self.crawl_delay)
        unit["errors"] += errs[:10]
        unit["web"] = self.web
        return unit


# --- batch extraction ------------------------------------------------------------


class ExtractWorkload:
    """`pipeline.extract_items` with on_subpage fields over a parquet
    corpus of heavy list pages and their detail pages."""

    def __init__(self, name, ctx):
        self.name = name
        self.ctx = ctx
        self.spec = make_spec(name, ctx.seed, ctx.size)
        self.corpus = os.path.join(ctx.work, "corpus.parquet")
        self.n_pages = 0
        self.expected = None

    def build_input(self):
        pages = synth_pages_df(self.ctx.spark, self.spec,
                               include_fixtures=False,
                               num_partitions=2 * self.ctx.nproc)
        (pages.filter(~pages.url.endswith("/robots.txt"))
         .write.mode("overwrite").parquet(self.corpus))
        self.n_pages = self.ctx.spark.read.parquet(self.corpus).count()

    def warm_up(self):
        for _ in range(WARM_ACTIONS):
            self._action(self.ctx.job_group("warm"))

    def close(self):
        pass

    def _items_df(self):
        pages = self.ctx.spark.read.parquet(self.corpus)
        items, _raw = extract_items(
            pages, event_scraper("host0000.test", subpage=True), now=NOW)
        return items

    def _action(self, group):
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(group, f"{self.name} extract_items")
        try:
            with self.ctx.tracer.span("pipeline.extract_items") as sp:
                table = self._items_df().toArrow()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return table, sp

    def run_unit(self, traced):
        group = self.ctx.job_group(self.name)
        table, sp = self._action(group)
        wall = sp["end"] - sp["start"]
        return {"wall": wall, "pages": self.n_pages, "rounds": [wall],
                "groups": [group], "group_prefix": group,
                "all_groups": [group],
                "round_spans": [sp],
                "errors": self._check(table)}

    def _check(self, table):
        import pyarrow as pa

        if self.expected is None:
            self.expected = oracle.expected_items(
                self.spec, lambda h: f"https://{host_name(h)}",
                subpage=True)
        cols = [table.column(c).to_pylist()
                for c in ("page_url", "item_idx", "title", "genre")]
        dates = table.column("date").cast(pa.int64()).to_pylist()
        desc = table.column("desc").to_pylist()
        rows = list(zip(*cols, dates, desc))
        errors = oracle.check_items(self.expected, rows, subpage=True)
        keys = [(r[0], r[1]) for r in rows]
        if keys != sorted(keys):
            errors.append("items are not ordered by (page_url, item_idx)")
        return errors


WORKLOADS = {
    "crawl_wide": CrawlWorkload,
    "crawl_deep": CrawlWorkload,
    "extract_batch": ExtractWorkload,
    "crawl_live": LiveCrawlWorkload,
    "crawl_live_nodelay": LiveCrawlWorkload,
}


def make(name, ctx):
    return WORKLOADS[name](name, ctx)

