"""The crawl engine: URL frontier + fetch scheduler + extraction rounds.

North-rule architecture (BASELINE.json, SURVEY §3.1): each crawl round is
a deterministic micro-batch over snapshot tables —

  pending  = frontier ANTI JOIN fetched            (append-only tables)
  dequeue  = robots-filter → per-host top-k (Window host / priority,url)
             → global ORDER BY (priority, url) LIMIT round_budget
  fetch    = hash join against the pages table on url (the mock "web";
             a real HTTP fetcher plugs in behind the same join contract),
             repartitioned BY HOST so per-host politeness (crawl-delay
             budgets from robots.txt) is enforceable inside one partition
  extract  = one Arrow kernel pass per fetched page: items + outlinks
             (pagination links depth+1 and item url fields), outlinks
             canonicalized by goskyr's URL-join during extraction (P7)
  seen-set = candidates → per-slab Bloom+cuckoo test ("definitely new"
             skips the shuffle; "maybe seen" pays the exact LEFT ANTI
             JOIN — false positives can NEVER drop a real URL)
  commit   = items / fetched / seen+slabs / frontier / metrics appended
             with round metadata; a final `rounds` row marks the round
             complete. Resume rolls every table back to the last complete
             round (snapshot isolation makes rollback free), so a crash
             mid-round replays identically.

Determinism: every ordering is an explicit sort key (priority, url,
host); the virtual politeness clock is a pure function of the dequeue
set; no wall-clock, partition-order, or hash-seed dependence — local[8]
and local[32] produce identical crawl order and seen set (tested).

Skew: hot hosts (large news domains) are bounded by per_host_budget at
dequeue; the fetch stage salts any host whose dequeued count exceeds
salt_threshold across `salt_factor` sub-partitions while keeping the
politeness chain correct by computing the virtual clock per host BEFORE
salting (the delay schedule is part of the dequeue output, not the
fetch partition).
"""

from __future__ import annotations

import logging
import os
import time
from datetime import datetime, timezone
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa

from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ..kernels.cuckoo import BloomFilter, CuckooFilter
from ..kernels.filters import filter_item, initialize_filters
from ..kernels.robots import parse_robots
from .fetchers import FetchError, polite_fetch
from ..kernels.scrape import scrape_page
from .pipeline import _field_columns, _arrow_schema, item_spark_schema
from .store import SnapshotStore

logger = logging.getLogger("goskyr_spark.crawl")

# RFC 9309 §2.3.1.3-4: a robots.txt that is UNAVAILABLE (4xx) means the
# crawler MAY access any resource (allow-all, empty rules); one that is
# UNREACHABLE (5xx / network error) MUST be assumed complete disallow.
ROBOTS_DISALLOW_ALL = b"User-agent: *\nDisallow: /\n"

# Live-mode robots cache, worker-global across tasks AND rounds (a
# reused Python worker keeps module globals): RFC 9309 §2.4 says
# crawlers SHOULD cache robots.txt up to 24 hours — re-fetching every
# host's robots every round paid one extra GET + one crawl-delay
# alignment per host per round for nothing. Only resolvable outcomes
# are cached (2xx bodies and 4xx allow-all); 5xx/network-failure
# disallow-all stays per-round so an unreachable host is re-probed the
# next round, exactly as before.
#
# The fetch kernel is a closure, which cloudpickle ships BY VALUE together
# with a copy of every module global it names; a dict named directly in
# the closure would be a fresh empty copy in every task. The kernel
# therefore reaches the cache only through these module-level functions,
# which pickle by reference and resolve to the worker's own module.
_ROBOTS_TTL_SECS = 24 * 3600.0
_LIVE_ROBOTS_CACHE = {}  # (scheme, netloc, user_agent) -> (expiry, rules)


def _live_robots_get(key):
    """Cached robots rules for ``key``, or None when absent/expired."""
    hit = _LIVE_ROBOTS_CACHE.get(key)
    if hit is not None and hit[0] > time.monotonic():
        return hit[1]
    return None


def _live_robots_put(key, rules):
    if len(_LIVE_ROBOTS_CACHE) > 100_000:
        _LIVE_ROBOTS_CACHE.clear()
    _LIVE_ROBOTS_CACHE[key] = (time.monotonic() + _ROBOTS_TTL_SECS, rules)

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("priority", DoubleType()),
    StructField("depth", LongType()),
    StructField("discovered_round", LongType()),
    # position in a pagination chain: seeds and item outlinks are page 1;
    # a pagination outlink is parent page_no + 1 and is NOT emitted once
    # paginator.max_pages is reached (reference scraper.go:574,600 —
    # max_pages 0 = unbounded)
    StructField("page_no", LongType()),
])

FETCHED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("round", LongType()),
    StructField("fetch_seq", LongType()),
    StructField("fetch_ts", DoubleType()),
    StructField("status", StringType()),  # ok | missing | robots
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
])

# incremental per-host crawl feedback: one DELTA row per (host, round)
# touched that round. The adaptive dequeue aggregates THIS table (rows
# ~ hosts-active-per-round, compacted to one row per host) instead of
# re-aggregating the full fetched history — dequeue cost stays
# proportional to open work, not crawl length. Sums are mergeable, so
# compaction is groupBy(host).sum and rollback is the standard
# round-meta walk.
HOST_STATS_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("n_fetched", LongType()),
    StructField("n_ok", LongType()),
    StructField("n_items", LongType()),
    StructField("round", LongType()),
])

SEEN_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("round", LongType()),
])

DEBUG_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("html", BinaryType()),
    StructField("round", LongType()),
])

SLAB_SCHEMA = StructType([
    StructField("slab_id", LongType()),
    StructField("round", LongType()),
    StructField("bloom", BinaryType()),
    StructField("cuckoo", BinaryType()),
    # stats columns: let the driver make rebuild/capacity decisions from
    # a pruned (slab_id, count, capacity) read WITHOUT deserializing the
    # filter blobs — at the 10^10-URL design point the blobs never touch
    # the driver in partitioned mode
    StructField("count", LongType()),
    StructField("capacity", LongType()),
])

METRICS_SCHEMA = StructType([
    StructField("round", LongType()),
    StructField("partition", LongType()),
    StructField("n_fetched", LongType()),
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
    StructField("started", TimestampType()),
    StructField("ended", TimestampType()),
])

ROUNDS_SCHEMA = StructType([
    StructField("round", LongType()),
    StructField("n_dequeued", LongType()),
    StructField("n_fetched_ok", LongType()),
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
    StructField("n_new_urls", LongType()),
    StructField("wall_secs", DoubleType()),
])


# --- executor-side slab blob access -------------------------------------------
# Worker-local cache of deserialization inputs: one (file, slab, round)
# triple is read at most once per Python worker per slab generation. The
# parquet read prunes to the single matching row (predicate pushdown on
# slab_id/round), so a task touches only its own slabs' bytes — never the
# whole filter set.
_SLAB_BLOB_CACHE = {}


def _read_slab_blobs(path, sid, round_no):
    key = (path, int(sid), int(round_no))
    hit = _SLAB_BLOB_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["slab_id", "round", "bloom", "cuckoo"],
                      filters=[("slab_id", "==", int(sid)),
                               ("round", "==", int(round_no))])
    if t.num_rows == 0:
        return None
    val = (t.column("bloom")[0].as_py(), t.column("cuckoo")[0].as_py())
    if len(_SLAB_BLOB_CACHE) > 64:  # bound worker memory across rounds
        _SLAB_BLOB_CACHE.clear()
    _SLAB_BLOB_CACHE[key] = val
    return val


def _flag_batch(batch, n_slabs, get_filters):
    """Append maybe_seen (int64 0/1) to an Arrow batch: bloom 'absent' ⇒
    definitely new; cuckoo refines bloom positives. get_filters(sid) →
    (BloomFilter, CuckooFilter) or None."""
    hs = batch.column(batch.schema.get_field_index("url_hash"))
    arr = np.asarray(hs.to_numpy(zero_copy_only=False),
                     dtype=np.int64).view(np.uint64)
    sids = (arr % np.uint64(n_slabs)).astype(np.int64)
    maybe = np.zeros(len(arr), dtype=bool)
    for sid in np.unique(sids):
        pair = get_filters(int(sid))
        if pair is None:
            continue
        sel = sids == sid
        sub = arr[sel]
        m = pair[0].contains_many(sub)
        m &= pair[1].contains_many(sub)  # cuckoo refines bloom positives
        maybe[sel] = m
    return pa.RecordBatch.from_arrays(
        list(batch.columns) +
        [pa.array(maybe.astype(np.int64), pa.int64())],
        schema=pa.schema(list(batch.schema) +
                         [pa.field("maybe_seen", pa.int64())]))


def url_host(url: str) -> str:
    # hostname (no port, LOWERCASED) — the single host identity. Spark
    # sides use lower(parse_url(url, 'HOST')) for outlinks/robots so all
    # three agree; a mismatch would split one site into two
    # politeness/robots identities (silently unenforced robots)
    return urlsplit(url).hostname or ""


def _u64(int64_array):
    return np.asarray(int64_array, dtype=np.int64).view(np.uint64)


class CrawlEngine:
    def __init__(self, spark, workdir, pages_df, scraper_factory, seeds,
                 per_host_budget=64, round_budget=100_000, user_agent="*",
                 n_slabs=8, slab_capacity=4096, salt_threshold=512,
                 salt_factor=4, now=None, fetch_partitions=None,
                 slab_driver_threshold=100_000, seen_mode="auto",
                 seen_broadcast_max_bytes=64 << 20,
                 broadcast_join_bytes=32 << 20, debug=False,
                 live_fetcher=None, compact_every=None,
                 frontier_buckets=None, adaptive_priority=False,
                 adaptive_yield_weight=0.5, adaptive_error_weight=2.0,
                 canonicalize_outlinks=False):
        assert n_slabs & (n_slabs - 1) == 0, "n_slabs must be a power of two"
        self.spark = spark
        self.store = SnapshotStore(workdir)
        self.pages = pages_df
        # live mode: pages_df=None + a zero-arg factory returning a
        # Fetcher (e.g. lambda: StaticFetcher()). The fetch stage then
        # performs real HTTP GETs inside the Arrow kernel — same plan,
        # same politeness identities; the virtual clock stays the
        # deterministic ORDER key while real sleeps pace requests
        # (host-hash partitioning keeps a host inside one task, so
        # per-host crawl-delay is enforceable with wall-clock sleeps).
        self.live_fetcher = live_fetcher
        if pages_df is None and live_fetcher is None:
            raise ValueError("need pages_df (mock web) or live_fetcher")
        # run() calls compact() every N completed rounds (None = never):
        # long crawls keep the frontier at pending-size and slab/manifest
        # growth bounded without an external maintenance job
        self.compact_every = compact_every
        self.scraper_factory = scraper_factory
        self.seeds = sorted(set(seeds))
        self.per_host_budget = per_host_budget
        self.round_budget = round_budget
        self.user_agent = user_agent
        self.n_slabs = n_slabs
        self.slab_capacity = slab_capacity
        self.salt_threshold = salt_threshold
        self.salt_factor = salt_factor
        self.now = now or datetime.now(timezone.utc)
        # fetch_partitions is an UPPER BOUND on the fetch/extract stage's
        # width: a round runs at most one wave of task slots
        # (defaultParallelism), and fewer tasks when it is small, because
        # each Python task costs ~100 ms of worker set-up before its
        # kernel runs. It also caps the bucketed dequeue and the
        # slab-aligned seen stages.
        self.fetch_partitions = fetch_partitions or max(
            4, spark.sparkContext.defaultParallelism)
        # seen-set scale knobs: above slab_driver_threshold new urls per
        # round the slab update runs executor-side (slab-aligned shuffle);
        # seen_mode auto switches the per-round membership test from
        # broadcast-all-slabs to partition-aligned (each task reads only
        # its slab from parquet) once the estimated filter bytes exceed
        # seen_broadcast_max_bytes. Modes: auto | broadcast | partitioned.
        assert seen_mode in ("auto", "broadcast", "partitioned")
        self.slab_driver_threshold = slab_driver_threshold
        self.seen_mode = seen_mode
        self.seen_broadcast_max_bytes = seen_broadcast_max_bytes
        # size gate (on-disk parquet bytes, driver-known from the
        # manifest — no job) under which the small side of the frontier/
        # seen anti-joins gets an explicit broadcast hint: Catalyst's
        # estimates for multi-file unioned parquet reads routinely
        # overshoot the 10 MB auto threshold, leaving a shuffle join on
        # a side that is actually a few MB. Above the gate the joins
        # fall back to shuffle — scale-adaptive, never wrong.
        self.broadcast_join_bytes = broadcast_join_bytes
        # when the ENTIRE dequeue input state (live frontier + post-
        # compaction fetched + host_stats) is under this many on-disk
        # bytes, the dequeue runs driver-side with the same pyarrow/
        # pandas kernel the bucketed path executes per bucket — one
        # Spark job (and its Python-worker round trip) replaced by a
        # sub-ms local pass. ~64 MB ≈ 10^6 pending rows, the empirical
        # crossover where a single-core pandas sort still beats a Spark
        # job launch; beyond it the distributed dequeues take over.
        self.dequeue_driver_bytes = 64 << 20
        # frontier_buckets=N turns on host-hash-BUCKETED frontier/fetched
        # storage (bucket = crc32(host) mod N, Iceberg bucket-transform
        # analog): every append/compaction writes one file per bucket,
        # and the dequeue becomes a task-local per-bucket job (each task
        # reads ONLY its bucket's frontier+fetched files, anti-joins and
        # ranks in memory) — the per-round Window + anti-join SHUFFLE of
        # the full pending set disappears, which is the dominant dequeue
        # cost at the 10^10-URL design point. A host always lives in
        # exactly one bucket, so per-host top-k is bucket-local and the
        # dequeued set (and crawl digest) is IDENTICAL to window mode
        # (pytest-asserted). Size N so one bucket's pending rows fit a
        # task (e.g. 4096 at 10^10). None = classic window dequeue.
        self.frontier_buckets = frontier_buckets
        # adaptive_priority=True folds per-host crawl feedback into the
        # dequeue ranking (focused-crawl scheduling): hosts that yield
        # items get dequeued earlier, hosts that fail fetches later.
        # The feedback derives ENTIRELY from the fetched-history table
        # (status / n_items per host) — no new state, so resume,
        # rollback and compaction need no changes, and the adjustment is
        # deterministic (integer sums + one double expression). Within a
        # host the adjustment is constant, so per-host ordering — and
        # politeness — is untouched; only cross-host selection/order
        # changes. Default OFF: the classic digest is bit-identical.
        #   eff_priority = priority
        #       + error_weight * (n_fetched - n_ok) / n_fetched
        #       - yield_weight * min(1, n_items / max(n_ok, 1))
        self.adaptive_priority = adaptive_priority
        self.adaptive_yield_weight = adaptive_yield_weight
        self.adaptive_error_weight = adaptive_error_weight
        # canonicalize_outlinks=True applies RFC 3986 syntax-based
        # normalization (ops/urlnorm.py — lowercase scheme/host, default
        # ports, dot segments, fragments) to every outlink AND seed
        # before the seen-set test, merging trivially-distinct spellings
        # of the same resource — frontier hygiene at the 10^10 design
        # point. canonicalize_outlinks="full" additionally runs the
        # percent-encoding pass (§6.2.2.2, Arrow-vectorized kernel —
        # %7E and ~ spellings land on ONE frontier row). Opt-in:
        # goskyr's own URL-join output is the reference identity, so
        # normalization changes crawl digests by design.
        self.canonicalize_outlinks = canonicalize_outlinks
        if canonicalize_outlinks:
            sdf = spark.createDataFrame([(s,) for s in self.seeds],
                                        "url string")
            self.seeds = sorted({
                r["url"] for r in sdf.select(
                    self._canon_expr(F.col("url")).alias("url"))
                .collect()})
        # one schema for all hosts: factory must produce field-compatible
        # scrapers (heterogeneous configs get engine instances per config)
        self._proto = scraper_factory("proto.invalid")
        # on_subpage fields: main-page fields extract during the crawl
        # (subpage columns stay NULL in the items table); detail pages are
        # crawled as outlinks, and items_final() joins them back and runs
        # the stage-2 extraction + final filters — same semantics as the
        # batch pipeline. Filters at crawl time use the partial-item fast
        # path (absent fields skip their filters), matching the
        # reference's filter-fast ordering (scraper.go:381-389).
        self._has_subpage = any(f.on_subpage and not f.value
                                for f in self._proto.fields)

        # S8 debug dump, Spark-first: instead of one html file per fetch
        # (reference fetcher.go:80-111), debug mode appends the fetched
        # pages to a debug_pages snapshot table with round lineage
        self.debug = debug
        # live mode fetches html inside the Arrow kernel, so it is not a
        # joinable column; when the html must outlive the fetch task
        # (debug sink, or on_subpage stage-2 extraction at items_final)
        # the kernel emits it as an extra output column and run_round
        # persists it to debug_pages. on_subpage therefore implies
        # retention in live mode — without it items_final could never
        # join the detail-page html back.
        self._retain_html = pages_df is None and (debug or
                                                  self._has_subpage)
        if pages_df is None and self._has_subpage and not debug:
            logger.info("live crawl with on_subpage fields: retaining "
                        "fetched html in debug_pages for stage-2 "
                        "extraction")
        # per-round SparkContext broadcasts (slab blobs/files); released
        # at the end of run_round so a months-long crawl (the 10^10
        # design point) cannot accumulate broadcast blocks
        self._round_bcs = []
        self.t_debug = self.store.table("debug_pages")
        self.t_frontier = self.store.table("frontier")
        self.t_fetched = self.store.table("fetched")
        self.t_seen = self.store.table("seen")
        self.t_slabs = self.store.table("slabs")
        self.t_items = self.store.table("items")
        self.t_metrics = self.store.table("metrics")
        self.t_rounds = self.store.table("rounds")
        self.t_host_stats = self.store.table("host_stats")

    def _files_bytes(self, table, rel_files=None):
        """On-disk bytes of a table's (or a subset of its) files —
        driver-side stat calls, no Spark job; drives broadcast gates."""
        files = (rel_files if rel_files is not None
                 else table.manifest()["files"])
        total = 0
        for f in files:
            try:
                total += os.path.getsize(os.path.join(table.dir, f))
            except OSError:
                pass
        return total

    def _canon_expr(self, col):
        """URL-canonicalization Column for the configured mode: syntax
        passes only (True) or syntax + percent-encoding kernel
        ("full")."""
        from ..ops.urlnorm import url_normalize_expr, url_normalize_full_expr

        if self.canonicalize_outlinks == "full":
            return url_normalize_full_expr(col)
        return url_normalize_expr(col)

    def _bc(self, value):
        """Create a round-scoped SparkContext broadcast. Handles are
        kept and unpersisted once the round's jobs have all completed
        (end of run_round) — otherwise a long-running crawl accumulates
        broadcast blocks on the driver and every executor."""
        b = self.spark.sparkContext.broadcast(value)
        self._round_bcs.append(b)
        return b

    def _release_round_broadcasts(self):
        for b in self._round_bcs:
            try:
                b.unpersist(blocking=False)
            except Exception:  # already released / context gone
                pass
        self._round_bcs = []

    # ---------------------------------------------------- bucketed frontier

    def _hostpart_write(self, table, df, meta, mode="append",
                        coalesce=None):
        """Append/overwrite a host-keyed table; with frontier_buckets
        the write is bucketed by crc32(host) mod N (one file per bucket,
        file→bucket map in the manifest)."""
        if not self.frontier_buckets:
            if coalesce:
                df = df.coalesce(coalesce)
            getattr(table, mode)(df, meta)
            return
        getattr(table, mode)(self._bucketed_df(df),
                             dict(meta or {},
                                  bucket_mod=self.frontier_buckets),
                             partition_by="_bucket")

    def _bucketed_df(self, df):
        """df + _bucket column, repartitioned by bucket WITHOUT a pinned
        partition count — AQE coalesces the exchange by size, so a
        65-row tail round shuffles into one task while a fat round still
        spreads (the file set per bucket value is identical either way:
        partitionBy splits by value, not by task)."""
        return df.withColumn(
            "_bucket", F.pmod(F.crc32(F.col("host")),
                              F.lit(self.frontier_buckets))) \
            .repartition("_bucket")

    def _hostpart_append_counted(self, table, df, meta):
        """Append a host-keyed table and return (n_rows, new file paths)
        — row count from the written footers, no count() job."""
        if not self.frontier_buckets:
            return table.append_counted(df, meta)
        return table.append_counted(
            self._bucketed_df(df),
            dict(meta or {}, bucket_mod=self.frontier_buckets),
            partition_by="_bucket")

    def _append_seen_from_files(self, new_files, round_no, n_new):
        """Seen-table append derived from the frontier files the round
        just wrote. Under slab_driver_threshold the copy is a driver-side
        pyarrow read+write (no Spark job) and the url hashes are returned
        for the slab update to reuse; above it, one cheap Spark re-scan
        of the written files. Row content is identical either way."""
        import pyarrow.parquet as pq

        if n_new <= self.slab_driver_threshold:
            t = pa.concat_tables(
                [pq.read_table(p, columns=["url", "url_hash"])
                 .cast(pa.schema([pa.field("url", pa.string()),
                                  pa.field("url_hash", pa.int64())]))
                 for p in new_files])
            self.t_seen.append_arrow(
                pa.table({"url": t.column("url"),
                          "url_hash": t.column("url_hash"),
                          "round": pa.array([round_no] * t.num_rows,
                                            pa.int64())}),
                {"round": round_no})
            return t.column("url_hash").to_numpy(zero_copy_only=False)
        self.t_seen.append(
            self.spark.read.parquet(*new_files)
            .select("url", "url_hash",
                    F.lit(round_no).cast("long").alias("round")),
            {"round": round_no})
        return None

    def _commit_new_urls_driver(self, pdf, round_no):
        """Small-round new-url commit from the aggregated candidate
        frame (FRONTIER_SCHEMA columns; hash/host/canonicalization were
        computed by the SAME Spark expressions as the distributed path):
        the Bloom+cuckoo membership flag, the exact seen confirm and the
        frontier/seen/slab appends run driver-side, with no Spark job.
        Returns n_new. Gated by the caller on broadcast seen mode +
        seen-table bytes + round size."""
        import zlib

        if pdf.empty:
            for t in (self.t_frontier, self.t_seen, self.t_slabs):
                t.commit_meta({"round": round_no})
            self._mark("frontier(new_urls)")
            return 0
        n_slabs = self.n_slabs
        arr = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        sids = (arr % np.uint64(n_slabs)).astype(np.int64)
        maybe = np.zeros(len(arr), dtype=bool)
        for sid, pair in self._slabs_cached().items():
            sel = sids == sid
            if not sel.any():
                continue
            sub = arr[sel]
            m = BloomFilter.from_bytes(pair[0]).contains_many(sub)
            m &= CuckooFilter.from_bytes(pair[1]).contains_many(sub)
            maybe[sel] = m
        keep = ~maybe
        if maybe.any() and self.t_seen.exists():
            url_schema = pa.schema([pa.field("url", pa.string())])
            seen_urls = set()
            for f in self.t_seen.manifest()["files"]:
                seen_urls.update(
                    self._read_file_cached(self.t_seen.dir, f, ["url"],
                                           url_schema)
                    .column("url").to_pylist())
            # bloom/cuckoo positives that are NOT in the exact seen set
            # are false positives — keep them (never drop a real URL)
            keep = keep | ~pdf["url"].isin(seen_urls).to_numpy()
        new_pdf = pdf[keep]
        n_new = len(new_pdf)
        if n_new == 0:
            for t in (self.t_frontier, self.t_seen, self.t_slabs):
                t.commit_meta({"round": round_no})
            self._mark("frontier(new_urls)")
            return 0
        tbl = pa.table(
            {f.name: pa.array(new_pdf[f.name], type=f.type)
             for f in self._FRONTIER_ARROW}, schema=self._FRONTIER_ARROW)
        if not self.frontier_buckets:
            self.t_frontier.append_arrow(tbl, {"round": round_no})
        else:
            n_b = self.frontier_buckets
            buckets = new_pdf["host"].map(
                lambda h: zlib.crc32(h.encode()) % n_b)
            tables = {int(b): pa.table(
                {f.name: pa.array(sub[f.name], type=f.type)
                 for f in self._FRONTIER_ARROW},
                schema=self._FRONTIER_ARROW)
                for b, sub in new_pdf.groupby(buckets)}
            self.t_frontier.append_arrow_bucketed(
                tables, {"round": round_no, "bucket_mod": n_b})
        self._mark("frontier(new_urls)")
        self.t_seen.append_arrow(
            pa.table({"url": pa.array(new_pdf["url"], pa.string()),
                      "url_hash": pa.array(new_pdf["url_hash"],
                                           pa.int64()),
                      "round": pa.array([round_no] * n_new, pa.int64())}),
            {"round": round_no})
        self._mark("seen")
        self._update_slabs(None, round_no, n_new=n_new,
                           hashes=new_pdf["url_hash"]
                           .to_numpy(dtype=np.int64))
        self._mark("slabs")
        return n_new

    _FETCHED_ARROW = pa.schema([
        pa.field("url", pa.string()),
        pa.field("url_hash", pa.int64()),
        pa.field("host", pa.string()),
        pa.field("round", pa.int64()),
        pa.field("fetch_seq", pa.int64()),
        pa.field("fetch_ts", pa.float64()),
        pa.field("status", pa.string()),
        pa.field("n_items", pa.int64()),
        pa.field("n_errors", pa.int64()),
    ])

    def _commit_fetched_driver(self, pdf, round_no):
        """Small-round fetched commit from the sorted collected frame:
        assign fetch_seq positionally, write parquet driver-side (one
        file; per-bucket files under the same crc32(host) modulus in
        bucketed mode), and return the round-summary stats — all with
        zero further Spark jobs."""
        import zlib

        n = len(pdf)
        pdf = pdf.assign(fetch_seq=np.arange(1, n + 1, dtype=np.int64))

        def to_arrow(sub):
            return pa.table(
                {f.name: pa.array(sub[f.name], type=f.type)
                 for f in self._FETCHED_ARROW},
                schema=self._FETCHED_ARROW)

        if not self.frontier_buckets:
            self.t_fetched.append_arrow(to_arrow(pdf), {"round": round_no})
        else:
            n_b = self.frontier_buckets
            buckets = pdf["host"].map(
                lambda h: zlib.crc32(h.encode()) % n_b)
            tables = {int(b): to_arrow(sub)
                      for b, sub in pdf.groupby(buckets)}
            self.t_fetched.append_arrow_bucketed(
                tables, {"round": round_no, "bucket_mod": n_b})
        return [{"_pid": 0,
                 "n_fetched": n,
                 "n_ok": int((pdf["status"] == "ok").sum()),
                 "n_items": int(pdf["n_items"].sum()),
                 "n_errors": int(pdf["n_errors"].sum())}]

    def _commit_host_stats_driver(self, pdf, round_no):
        """Adaptive host-feedback delta from the already-collected
        fetched frame (small rounds): pandas groupby + pyarrow append —
        no per-round Spark write job."""
        import zlib

        g = pdf.assign(_ok=(pdf["status"] == "ok").astype("int64")) \
            .groupby("host", sort=False) \
            .agg(n_fetched=("host", "size"), n_ok=("_ok", "sum"),
                 n_items=("n_items", "sum")).reset_index()
        if not self.frontier_buckets:
            self.t_host_stats.append_rows(
                [(r.host, int(r.n_fetched), int(r.n_ok), int(r.n_items),
                  round_no) for r in g.itertuples()],
                HOST_STATS_SCHEMA, {"round": round_no})
            return
        n_b = self.frontier_buckets
        buckets = g["host"].map(lambda h: zlib.crc32(h.encode()) % n_b)
        tables = {}
        for b, sub in g.groupby(buckets):
            tables[int(b)] = pa.table({
                "host": pa.array(sub["host"], pa.string()),
                "n_fetched": pa.array(sub["n_fetched"], pa.int64()),
                "n_ok": pa.array(sub["n_ok"], pa.int64()),
                "n_items": pa.array(sub["n_items"], pa.int64()),
                "round": pa.array([round_no] * len(sub), pa.int64())})
        self.t_host_stats.append_arrow_bucketed(
            tables, {"round": round_no, "bucket_mod": n_b})

    def _commit_items_driver(self, coll, round_no, fcols):
        """Items append from the already-collected kernel output (small
        rounds): slice the Arrow table driver-side and write one parquet
        file — no separate Spark write job. Column order, names and
        logical types match the Spark path's select exactly (field
        columns are cast back to the kernel's own Arrow types, which is
        what the Spark writer serialized them from)."""
        import pyarrow.compute as pc

        it = coll.filter(pc.equal(coll["_kind"], "item"))
        kernel_fields = {f.name: f for f in self._crawl_arrow_schema()}
        cols = {"page_url": it["_page_url"].cast(pa.string()),
                "item_idx": it["_item_idx"].cast(pa.int64())}
        fields = [pa.field("page_url", pa.string()),
                  pa.field("item_idx", pa.int64())]
        for name, _ in fcols:
            t = kernel_fields[name].type
            cols[name] = it[name].cast(t)
            fields.append(pa.field(name, t))
        cols["round"] = pa.array(
            np.full(len(it), round_no, dtype=np.int64), pa.int64())
        fields.append(pa.field("round", pa.int64()))
        self.t_items.append_arrow(
            pa.table(cols, schema=pa.schema(fields)), {"round": round_no})

    def _fetch_pdf_from_arrow(self, coll, round_no):
        """Fetch-row frame for _commit_fetched_driver, from the already-
        collected kernel output: renamed, round-stamped and sorted by the
        SAME total order the Spark sort produced — (fetch_ts, host, url)
        with strings compared as UTF-8 bytes (Spark's string ordering),
        so fetch_seq — and the crawl digest — are byte-identical."""
        import pyarrow.compute as pc

        ft = (coll.filter(pc.equal(coll["_kind"], "fetch"))
              .select(["_page_url", "_url_hash", "_host", "_fetch_ts",
                       "_status", "_n_items", "_n_errors"])
              .rename_columns(["url", "url_hash", "host", "fetch_ts",
                               "status", "n_items", "n_errors"]))
        # the byte-order sort key below and every dequeue path assume
        # it; _with_outlink_keys keeps hostless urls out of the frontier
        if ft["url"].null_count or ft["host"].null_count:
            raise AssertionError(
                f"round {round_no}: fetched rows with a NULL url or host")
        pdf = ft.to_pandas()
        pdf["round"] = np.int64(round_no)

        def _key(s):
            return s.map(lambda x: x.encode()) if s.dtype == object else s

        return pdf.sort_values(["fetch_ts", "host", "url"], key=_key,
                               kind="mergesort", ignore_index=True)

    def _with_outlink_keys(self, kernel_df):
        """The ONE outlink → frontier-row key mapping, shared by the
        single-collect and distributed paths: the raw ``_outlink`` is
        replaced by the url through the configured canonicalization
        (``_o_url``), and its JVM xxhash64 (``_o_hash``) and host
        (``_o_host``: lower() matches url_host(), whose
        urlsplit().hostname is lowercased — one host identity per site
        everywhere) are added. Outlinks without a host (``http:///x``,
        or a scheme with no authority such as ``mailto:``) are dropped
        here: the pandas and Window dequeues would disagree on a NULL
        host. Rows of other kinds pass through with NULL keys."""
        url = F.col("_outlink")
        if self.canonicalize_outlinks:
            url = self._canon_expr(url)
        keyed = (kernel_df.withColumn("_o_url", url).drop("_outlink")
                 .withColumn("_o_hash", F.xxhash64("_o_url"))
                 .withColumn("_o_host",
                             F.lower(F.expr("parse_url(_o_url, 'HOST')"))))
        return keyed.filter((F.col("_kind") != "outlink")
                            | (F.col("_o_url").isNotNull()
                               & F.col("_o_host").isNotNull()))

    def _outlinks_df(self, outlink_rows, round_no):
        """Distributed new-url candidates: one frontier row per distinct
        outlink url, at its minimum depth and page_no."""
        return (self._with_outlink_keys(outlink_rows)
                .groupBy(F.col("_o_url").alias("url"),
                         F.col("_o_hash").alias("url_hash"),
                         F.col("_o_host").alias("host"))
                .agg(F.min(F.col("_depth") + 1).alias("depth"),
                     F.min("_page_no").alias("page_no"))
                .withColumn("priority", F.col("depth").cast("double"))
                .withColumn("discovered_round",
                            F.lit(round_no).cast("long"))
                .select(*[f.name for f in FRONTIER_SCHEMA.fields]))

    def _outlinks_from_arrow(self, coll, round_no):
        """The same candidates as _outlinks_df, aggregated in pyarrow
        from the collected kernel output (keys already computed by
        _with_outlink_keys in the kernel job): a pandas frame in
        FRONTIER_SCHEMA column order, no Spark job."""
        import pyarrow.compute as pc

        ot = coll.filter(pc.equal(coll["_kind"], "outlink"))
        agg = (pa.table({"url": ot["_o_url"], "url_hash": ot["_o_hash"],
                         "host": ot["_o_host"],
                         "depth": pc.add(ot["_depth"], 1),
                         "page_no": ot["_page_no"]})
               .group_by(["url", "url_hash", "host"])
               .aggregate([("depth", "min"), ("page_no", "min")]))
        depth = agg["depth_min"]
        return pa.table({
            "url": agg["url"], "url_hash": agg["url_hash"],
            "host": agg["host"], "priority": pc.cast(depth, pa.float64()),
            "depth": depth,
            "discovered_round": pa.array(
                np.full(agg.num_rows, round_no, dtype=np.int64)),
            "page_no": agg["page_no_min"]}) \
            .cast(self._FRONTIER_ARROW).to_pandas()

    def _buckets_complete(self):
        """True when EVERY live frontier/fetched file has a bucket
        assignment UNDER THIS ENGINE'S MODULUS — resuming a workdir
        written without bucketing, mid-migration, or with a different
        frontier_buckets count falls back to the window dequeue for
        correctness (a host is only guaranteed to live in one bucket
        per modulus). The next compact() rewrites everything under the
        current modulus, after which the bucketed path resumes."""
        tables = [self.t_frontier, self.t_fetched]
        # the adaptive bucketed kernel also reads its bucket's
        # host_stats files task-locally
        if self.adaptive_priority and self.t_host_stats.exists():
            tables.append(self.t_host_stats)
        for t in tables:
            files = set(t.manifest()["files"])
            if files - set(t.bucket_map(expect_mod=self.frontier_buckets)):
                return False
        return True

    def _frontier_compact_round(self):
        """Round of the frontier compaction currently IN EFFECT, or
        None. A compaction at round C rewrote the frontier to the
        pending set (frontier ANTI JOIN fetched through C), and a URL
        can never re-enter the frontier (the seen set blocks
        re-discovery) — so every live frontier row is guaranteed
        un-fetched as of C, and the dequeue anti-join only needs
        fetched rows from rounds > C.

        'In effect' is decided by the commit LINEAGE (robust even when
        the compacted pending set was empty): walking the frontier's
        snapshot chain oldest→newest, a compaction commit establishes
        its round; any LATER commit carrying a SMALLER round is a
        rollback that restored pre-compaction content and voids the
        guarantee (conservatively — even if an earlier compaction might
        still hold, fall back to reading all fetched files until the
        next compaction re-establishes the bound)."""
        c = None
        for m in self.t_frontier.snapshots():
            r = m["meta"].get("round")
            if m["meta"].get("compacted") and r is not None:
                c = r if c is None else max(c, r)
            elif c is not None and r is not None and r < c:
                c = None
        return c

    def _antijoin_fetched_files(self):
        """(relative fetched files the dequeue anti-join must read,
        compact_round) — files from commits at rounds > the effective
        frontier compaction (None round = unknown origin = keep)."""
        c = self._frontier_compact_round()
        fr = self.t_fetched.file_rounds()
        if c is None:
            return sorted(fr), None
        return sorted(f for f, r in fr.items()
                      if r is None or r > c), c

    def _dequeue_bucketed(self):
        """Shuffle-free dequeue: one task per host-hash bucket reads its
        own frontier + fetched files (pyarrow, task-local — the slab
        access pattern), anti-joins, ranks per host, and caps at the
        round budget; the only exchange is the final global
        TakeOrdered merge over ≤ n_buckets × round_budget survivors.
        Produces the identical row set as the window dequeue (a host is
        entirely inside one bucket)."""
        mod = self.frontier_buckets
        adaptive = self.adaptive_priority
        fmap = self.t_frontier.bucket_map(expect_mod=mod)
        gmap = self.t_fetched.bucket_map(expect_mod=mod)
        # anti-join only needs fetched files newer than the effective
        # frontier compaction — the kernel's task memory and read
        # volume track work since the last compaction, not history
        aj_keep, _c = self._antijoin_fetched_files()
        aj_keep = set(aj_keep)
        hmap = (self.t_host_stats.bucket_map(expect_mod=mod)
                if adaptive and self.t_host_stats.exists() else {})
        fdir, gdir = self.t_frontier.dir, self.t_fetched.dir
        hdir = self.t_host_stats.dir
        by_bucket = {}
        for rel, b in fmap.items():
            by_bucket.setdefault(b, ([], [], []))[0].append(
                os.path.join(fdir, rel))
        for rel, b in gmap.items():
            if rel in aj_keep:
                by_bucket.setdefault(b, ([], [], []))[1].append(
                    os.path.join(gdir, rel))
        for rel, b in hmap.items():
            by_bucket.setdefault(b, ([], [], []))[2].append(
                os.path.join(hdir, rel))
        buckets = sorted(b for b, (ff, _, _) in by_bucket.items() if ff)
        if not buckets:
            return self.spark.createDataFrame([], FRONTIER_SCHEMA)
        bc = self._bc(by_bucket)
        per_host, budget = self.per_host_budget, self.round_budget
        err_w = float(self.adaptive_error_weight)
        yld_w = float(self.adaptive_yield_weight)
        cols = [f.name for f in FRONTIER_SCHEMA.fields]
        arrow_schema = pa.schema([
            pa.field("url", pa.string()),
            pa.field("url_hash", pa.int64()),
            pa.field("host", pa.string()),
            pa.field("priority", pa.float64()),
            pa.field("depth", pa.int64()),
            pa.field("discovered_round", pa.int64()),
            pa.field("page_no", pa.int64()),
        ])
        out_cols = cols + ["_eff"] if adaptive else cols
        out_arrow = (arrow_schema.append(pa.field("_eff", pa.float64()))
                     if adaptive else arrow_schema)
        out_spark = (StructType(FRONTIER_SCHEMA.fields +
                                [StructField("_eff", DoubleType())])
                     if adaptive else FRONTIER_SCHEMA)

        def kernel(batches):
            import numpy as np
            import pyarrow.parquet as pq

            for batch in batches:
                for b in batch.column(0).to_pylist():
                    f_files, g_files, h_files = bc.value[b]
                    # files from different rounds disagree on nullable
                    # flags — cast to the uniform schema before concat
                    fr = pa.concat_tables(
                        [pq.read_table(p, columns=cols).cast(arrow_schema)
                         for p in f_files])
                    pdf = fr.to_pandas()
                    if g_files:
                        # membership test needs ONLY the url column of
                        # the post-compaction fetched files
                        gpdf = pa.concat_tables(
                            [pq.read_table(p, columns=["url"])
                             .cast(pa.schema([pa.field("url",
                                                       pa.string())]))
                             for p in g_files]).to_pandas()
                        if len(gpdf):
                            pdf = pdf[~pdf["url"].isin(set(gpdf["url"]))]
                    if pdf.empty:
                        continue
                    if adaptive:
                        # task-local host feedback from the bucket's
                        # host_stats DELTA files (never raw fetched
                        # history): integer sums then ONE float64
                        # expression — bit-identical to the window
                        # path's JVM arithmetic
                        eff = pdf["priority"].to_numpy(dtype="float64")
                        hpdf = None
                        if h_files:
                            hpdf = pa.concat_tables(
                                [pq.read_table(
                                    p, columns=["host", "n_fetched",
                                                "n_ok", "n_items"])
                                 .cast(pa.schema(
                                     [pa.field("host", pa.string()),
                                      pa.field("n_fetched", pa.int64()),
                                      pa.field("n_ok", pa.int64()),
                                      pa.field("n_items", pa.int64())]))
                                 for p in h_files]).to_pandas()
                        if hpdf is not None and len(hpdf):
                            g = hpdf.groupby("host", sort=False).agg(
                                _nf=("n_fetched", "sum"),
                                _nok=("n_ok", "sum"),
                                _ni=("n_items", "sum"))
                            nf = g["_nf"].to_numpy(dtype="float64")
                            nok = g["_nok"].to_numpy(dtype="float64")
                            ni = g["_ni"].to_numpy(dtype="float64")
                            adj = (err_w * ((nf - nok) / nf)
                                   - yld_w * np.minimum(
                                       1.0, ni / np.maximum(nok, 1.0)))
                            amap = dict(zip(g.index, adj))
                            eff = eff + pdf["host"].map(amap) \
                                .fillna(0.0).to_numpy(dtype="float64")
                        pdf = pdf.assign(_eff=eff)
                        pdf = pdf.sort_values(["_eff", "url"])
                    else:
                        pdf = pdf.sort_values(["priority", "url"])
                    pdf = pdf.groupby("host", sort=False).head(per_host)
                    pdf = pdf.head(budget)
                    yield pa.RecordBatch.from_pandas(
                        pdf[out_cols], schema=out_arrow,
                        preserve_index=False)

        spec = self.spark.createDataFrame([(b,) for b in buckets],
                                          "bucket long")
        # task count sized by the BYTES the kernel will actually read
        # (driver-side stat of the per-bucket file lists — no job): a
        # tail round with a few KB of pending rows runs as ONE task
        # (the kernel loops over every bucket in its batch) instead of
        # paying fetch_partitions Python-worker launches; fat frontiers
        # still fan out to one task per ~4 MB bucket group.
        total_bytes = 0
        for ff, gg, hh in by_bucket.values():
            for p in (*ff, *gg, *hh):
                try:
                    total_bytes += os.path.getsize(p)
                except OSError:
                    pass
        n_parts = max(1, min(len(buckets), self.fetch_partitions,
                             total_bytes // (4 << 20) + 1))
        work = (spec.repartition(n_parts, "bucket")
                .mapInArrow(kernel, out_spark))
        if adaptive:
            return (work.orderBy("_eff", "url").limit(self.round_budget)
                    .drop("_eff"))
        return work.orderBy("priority", "url").limit(self.round_budget)

    # ------------------------------------------------------------------ state

    def last_complete_round(self) -> int:
        df = self.t_rounds.read(self.spark, schema=ROUNDS_SCHEMA)
        row = df.agg(F.max("round").alias("r")).collect()[0]
        return int(row["r"]) if row["r"] is not None else -1

    def _rollback_table(self, table, round_no):
        """Point the table back at its last snapshot with meta.round <=
        round_no (free under snapshot isolation)."""
        snaps = table.snapshots()
        target = None
        for m in snaps:
            r = m["meta"].get("round", -1)
            if r <= round_no:
                target = m
        if target is None:
            if table.head() != 0:
                table._commit([], {"round": round_no}, "overwrite")
        elif target["snapshot"] != table.head():
            table._commit(target["files"], {"round": round_no}, "overwrite",
                          parent=table.head())

    def recover(self):
        """Roll every table back to the last COMPLETE round; makes resume
        after a mid-round crash replay identically."""
        last = self.last_complete_round()
        tables = [self.t_frontier, self.t_fetched, self.t_seen,
                  self.t_slabs, self.t_items, self.t_metrics,
                  self.t_host_stats]
        if self.debug or self._retain_html:
            tables.append(self.t_debug)
        for t in tables:
            self._rollback_table(t, last)
        # legacy/non-adaptive workdir resumed WITH adaptive priority:
        # backfill the feedback table from fetched ONCE; every later
        # round stays incremental. Non-adaptive resumes skip this (the
        # table is only consumed by the adaptive dequeue).
        if (self.adaptive_priority and not self.t_host_stats.exists()
                and self.t_fetched.exists() and last >= 0):
            fetched = self.t_fetched.read(self.spark,
                                          schema=FETCHED_SCHEMA)
            self._hostpart_write(
                self.t_host_stats,
                self._host_stats_delta(fetched)
                .withColumn("round", F.lit(last).cast("long")),
                {"round": last, "backfilled": True}, coalesce=1)
        return last

    def bootstrap(self):
        """Round -1: seed the frontier + seen set. ONE Spark job (the
        frontier write, which computes the JVM xxhash64); the seen copy
        and slab build derive from the written files driver-side."""
        rows = [(u, None, url_host(u), 0.0, 0, -1, 1) for u in self.seeds]
        df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA) \
            .withColumn("url_hash", F.xxhash64("url"))
        n, files = self._hostpart_append_counted(self.t_frontier, df,
                                                 {"round": -1})
        if n:
            hashes = self._append_seen_from_files(files, -1, n)
            self._update_slabs(None, -1, n_new=n, hashes=hashes,
                               files=files)
        self.t_rounds.append_rows(
            [(-1, 0, 0, 0, 0, len(self.seeds), 0.0)], ROUNDS_SCHEMA,
            {"round": -1})
        self._release_round_broadcasts()

    # ------------------------------------------------------------------ seen

    def _load_slabs(self):
        df = self.t_slabs.read(self.spark, schema=SLAB_SCHEMA)
        w = Window.partitionBy("slab_id").orderBy(F.desc("round"))
        latest = (df.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").drop("_rn"))
        return {int(r["slab_id"]): (r["bloom"], r["cuckoo"])
                for r in latest.select("slab_id", "bloom", "cuckoo")
                .collect()}

    def _slabs_cached(self):
        """Current slab BLOBS, via the driver cache when it matches the
        table HEAD; falls back to disk after restart/rollback. Only used
        on the broadcast seen-test path and the driver update path —
        partitioned mode never materializes blobs on the driver."""
        mem = getattr(self, "_slabs_mem", None)
        head = self.t_slabs.head()
        if mem is not None and mem[0] == head:
            return mem[1]
        slabs = self._load_slabs()
        self._slabs_mem = (head, slabs)
        return slabs

    def _slab_stats(self):
        """{sid: (count, capacity)} of each slab's LATEST row — a pruned
        (slab_id, round, count, capacity) columnar read; the filter blobs
        are never touched. Drives rebuild/capacity decisions at any
        scale."""
        head = self.t_slabs.head()
        mem = getattr(self, "_stats_mem", None)
        if mem is not None and mem[0] == head:
            return mem[1]
        stats = {}
        if self.t_slabs.exists():
            df = self.t_slabs.read(self.spark, schema=SLAB_SCHEMA)
            latest = (df.groupBy("slab_id")
                      .agg(F.max(F.struct("round", "count", "capacity"))
                           .alias("m")))
            stats = {int(r["slab_id"]):
                     (int(r["m"]["count"]), int(r["m"]["capacity"]))
                     for r in latest.collect()}
        self._stats_mem = (head, stats)
        return stats

    def _slab_latest_files(self):
        """{sid: (parquet_path, round)} locating each slab's latest row,
        so an executor task can read exactly its slab's bytes (predicate
        pushdown on slab_id/round). One tiny pruned job per commit."""
        head = self.t_slabs.head()
        mem = getattr(self, "_files_mem", None)
        if mem is not None and mem[0] == head:
            return mem[1]
        out = {}
        if self.t_slabs.exists():
            df = (self.t_slabs.read(self.spark, schema=SLAB_SCHEMA)
                  .select("slab_id", "round",
                          F.input_file_name().alias("f")))
            latest = (df.groupBy("slab_id")
                      .agg(F.max(F.struct("round", "f")).alias("m")))
            for r in latest.collect():
                p = r["m"]["f"]
                if p.startswith("file:"):
                    from urllib.parse import unquote, urlparse

                    p = unquote(urlparse(p).path)
                out[int(r["slab_id"])] = (p, int(r["m"]["round"]))
        self._files_mem = (head, out)
        return out

    def _est_slab_bytes(self):
        # bloom ≈ 1.5 B/slot (12 bits/item) + cuckoo 2 B/slot at capacity
        return sum(int(3.5 * cap)
                   for _, cap in self._slab_stats().values())

    def _seen_partitioned(self) -> bool:
        if self.seen_mode == "partitioned":
            return True
        if self.seen_mode == "broadcast":
            return False
        return self._est_slab_bytes() > self.seen_broadcast_max_bytes

    # --- slab update ---------------------------------------------------------

    def _update_slabs(self, new_urls_df, round_no, n_new=None, hashes=None,
                      files=None):
        """Insert new url hashes into their slab's bloom+cuckoo filters.

        Filters must never have FALSE NEGATIVES (a seen url missing from
        its slab would re-enter the frontier), so persistence is strictly
        per-round. Capacity adapts: a slab nearing its bound is rebuilt
        at double size from the authoritative seen table (amortized
        doubling, like a hash table).

        Small rounds in broadcast mode update driver-side (from
        ``hashes`` when the caller already holds them — e.g. read from
        the round's written frontier files — else one collect); big
        discovery rounds — and ALL rounds once the seen test is
        partition-aligned — go through the distributed slab-aligned
        path, where blobs are built and written entirely executor-side
        (``files`` supplies the input as a cheap parquet re-scan so the
        flag/anti-join lineage is never recomputed).
        """
        if n_new is None:
            n_new = (len(hashes) if hashes is not None
                     else new_urls_df.count())
        if n_new > self.slab_driver_threshold or \
                (self._seen_partitioned() and self.t_slabs.exists()):
            if new_urls_df is None:
                if files:
                    new_urls_df = self.spark.read.parquet(*files) \
                        .select("url", "url_hash")
                else:
                    # hashes held driver-side (the distributed build
                    # only consumes url_hash)
                    new_urls_df = self.spark.createDataFrame(
                        [(int(h),) for h in hashes], "url_hash long")
            self._update_slabs_distributed(new_urls_df, round_no,
                                           hashes=hashes)
        else:
            if hashes is None:
                if new_urls_df is not None:
                    hashes = [r["url_hash"] for r in
                              new_urls_df.select("url_hash").collect()]
                else:
                    import pyarrow.parquet as pq

                    hashes = pa.concat_tables(
                        [pq.read_table(p, columns=["url_hash"])
                         for p in files]).column("url_hash") \
                        .to_numpy(zero_copy_only=False)
            self._update_slabs_driver(hashes, round_no)

    def _update_slabs_driver(self, hashes, round_no):
        n_slabs = self.n_slabs
        slabs = dict(self._slabs_cached())
        stats = dict(self._slab_stats())

        # driver-side update: new-url hash volume per round is bounded by
        # slab_driver_threshold (8 bytes/url — 100k new urls = 800 KB)
        by_slab = {}
        for h in hashes:
            by_slab.setdefault(int(h) % n_slabs, []).append(h)

        out_rows = []
        for sid, hs in sorted(by_slab.items()):
            prev = slabs.get(sid)
            if prev is None:
                cap = max(self.slab_capacity, 2 * len(hs))
                bloom = BloomFilter.sized_for(cap)
                cuckoo = CuckooFilter.sized_for(cap)
            else:
                bloom = BloomFilter.from_bytes(prev[0])
                cuckoo = CuckooFilter.from_bytes(prev[1])
                cap = cuckoo.nbuckets * CuckooFilter.SLOTS

            def _rebuild(min_cap):
                # rebuild from the seen table slice — the exact source,
                # which at this point ALREADY includes this round's new
                # urls (seen is committed before slabs), so no re-add
                seen = self.t_seen.read(self.spark, schema=SEEN_SCHEMA)
                old = [r["url_hash"] for r in seen.filter(
                    F.pmod(F.col("url_hash"), F.lit(n_slabs)) == sid)
                    .select("url_hash").collect()]
                while True:
                    nb = BloomFilter.sized_for(min_cap)
                    nc = CuckooFilter.sized_for(min_cap)
                    if not old or nc.insert_many(_u64(old)) == len(old):
                        if old:
                            nb.add_many(_u64(old))
                        return nb, nc
                    min_cap *= 2  # eviction overflow: double and retry

            if prev is not None and cuckoo.count + len(hs) > 0.8 * cap:
                bloom, cuckoo = _rebuild(
                    max(2 * cap, 2 * (cuckoo.count + len(hs))))
            else:
                arr = _u64(hs)
                bloom.add_many(arr)
                if cuckoo.insert_many(arr) != len(arr):
                    # eviction-loop overflow can silently drop a VICTIM
                    # fingerprint (a false negative — forbidden): rebuild
                    # exactly from seen
                    bloom, cuckoo = _rebuild(
                        2 * cuckoo.nbuckets * CuckooFilter.SLOTS)
            cap_now = cuckoo.nbuckets * CuckooFilter.SLOTS
            out_rows.append((sid, round_no, bloom.to_bytes(),
                             cuckoo.to_bytes(), cuckoo.count, cap_now))
            slabs[sid] = (out_rows[-1][2], out_rows[-1][3])
            stats[sid] = (cuckoo.count, cap_now)

        if out_rows:
            # driver-known rows (the blobs were just built here): pyarrow
            # append, no Spark job
            self.t_slabs.append_rows(out_rows, SLAB_SCHEMA,
                                     {"round": round_no})
        head = self.t_slabs.head()
        self._slabs_mem = (head, slabs)
        self._stats_mem = (head, stats)
        self._files_mem = None

    def _update_slabs_distributed(self, new_urls_df, round_no,
                                  hashes=None):
        """Slab-aligned executor-side update (the 10^10-URL path): new
        url hashes shuffle by slab id; each task builds its slabs' new
        Bloom+cuckoo bytes and writes them straight to slab parquet —
        blobs never touch the driver. Slabs that would exceed 80% load
        are rebuilt exactly from the seen-table slice, shipped through
        the same shuffle, at a capacity fixed driver-side from the
        pruned stats read. When the caller already holds the hashes
        (small partitioned-mode rounds) the per-sid count job is a
        numpy bincount instead of a Spark aggregation."""
        stats = self._slab_stats()
        sid_col = F.pmod(F.col("url_hash"), F.lit(self.n_slabs)).alias("sid")
        if hashes is not None:
            sids = np.asarray(hashes, dtype=np.int64) \
                % np.int64(self.n_slabs)
            vals, cnts = np.unique(sids, return_counts=True)
            new_counts = {int(v): int(c) for v, c in zip(vals, cnts)}
        else:
            new_counts = {int(r["sid"]): int(r["c"])
                          for r in new_urls_df.select(sid_col).groupBy("sid")
                          .agg(F.count("*").alias("c")).collect()}
        if not new_counts:
            return
        build_caps, incr_sids = {}, []
        for sid, n in sorted(new_counts.items()):
            st = stats.get(sid)
            if st is None:
                build_caps[sid] = max(self.slab_capacity, 2 * n)
            elif st[0] + n > 0.8 * st[1]:
                build_caps[sid] = max(2 * st[1], 2 * (st[0] + n))
            else:
                incr_sids.append(sid)
        out = self._run_slab_build(new_urls_df, round_no, build_caps,
                                   incr_sids).cache()
        # incremental tasks that overflow their cuckoo emit a NULL blob
        # (they don't hold the seen slice needed for an exact rebuild):
        # retry those through the rebuild path. Rare — the 80% driver
        # pre-check bounds the load.
        failed = [int(r["slab_id"]) for r in
                  out.filter("cuckoo IS NULL").select("slab_id").collect()]
        ok = out.filter("cuckoo IS NOT NULL")
        if failed:
            retry_caps = {}
            for sid in failed:
                st = stats.get(sid, (0, self.slab_capacity))
                n = new_counts.get(sid, 0)
                retry_caps[sid] = max(2 * st[1], 2 * (st[0] + n))
            ok = ok.unionByName(
                self._run_slab_build(new_urls_df, round_no, retry_caps, []))
        self.t_slabs.append(ok, {"round": round_no})
        out.unpersist()
        # blobs stayed on executors: drop driver caches (stats/files
        # reload lazily via their tiny pruned jobs; blobs only if the
        # broadcast path asks for them)
        self._slabs_mem = None
        self._stats_mem = None
        self._files_mem = None

    def _run_slab_build(self, new_urls_df, round_no, build_caps, incr_sids):
        """One slab-aligned shuffle + mapInArrow producing SLAB_SCHEMA
        rows for build_caps slabs (fresh build from the seen slice at the
        given capacity) and incr_sids slabs (insert new hashes into the
        previous blobs, read task-side from slab parquet or taken from
        the warm driver broadcast)."""
        spark = self.spark
        n_slabs = self.n_slabs
        slab_capacity = self.slab_capacity
        sid_expr = F.pmod(F.col("url_hash"), F.lit(n_slabs)).alias("sid")
        inputs = []
        if incr_sids:
            inputs.append(new_urls_df.select(sid_expr, "url_hash")
                          .filter(F.col("sid").isin(incr_sids)))
        if build_caps:
            # seen ALREADY includes this round's new urls (committed
            # first), so the slice alone is the slab's exact content
            seen = self.t_seen.read(spark, schema=SEEN_SCHEMA)
            inputs.append(seen.select(sid_expr, "url_hash")
                          .filter(F.col("sid").isin(sorted(build_caps))))
        inp = inputs[0]
        for other in inputs[1:]:
            inp = inp.unionByName(other)

        bc_prev = None
        mem = getattr(self, "_slabs_mem", None)
        if incr_sids and mem is not None and mem[0] == self.t_slabs.head():
            bc_prev = self._bc(
                {sid: mem[1][sid] for sid in incr_sids if sid in mem[1]})
        files = self._slab_latest_files()
        bc_files = self._bc(
            {sid: files[sid] for sid in incr_sids if sid in files})
        caps = dict(build_caps)

        def build(batches):
            by_sid = {}
            for batch in batches:
                sids = np.asarray(batch.column(0).to_numpy(
                    zero_copy_only=False), dtype=np.int64)
                hs = np.asarray(batch.column(1).to_numpy(
                    zero_copy_only=False), dtype=np.int64)
                for sid in np.unique(sids):
                    by_sid.setdefault(int(sid), []).append(hs[sids == sid])

            def fresh(arr, cap):
                while True:
                    nb = BloomFilter.sized_for(cap)
                    nc = CuckooFilter.sized_for(cap)
                    if len(arr) == 0 or nc.insert_many(arr) == len(arr):
                        if len(arr):
                            nb.add_many(arr)
                        return nb, nc
                    cap *= 2  # eviction overflow: double and retry

            rows = []
            for sid, chunks in sorted(by_sid.items()):
                arr = np.concatenate(chunks).view(np.uint64)
                if sid in caps:
                    nb, nc = fresh(arr, caps[sid])
                    rows.append((sid, round_no, nb.to_bytes(),
                                 nc.to_bytes(), nc.count,
                                 nc.nbuckets * CuckooFilter.SLOTS))
                    continue
                prev = bc_prev.value.get(sid) if bc_prev is not None \
                    else None
                if prev is None:
                    info = bc_files.value.get(sid)
                    if info is not None:
                        prev = _read_slab_blobs(info[0], sid, info[1])
                if prev is None:
                    # no prior slab row (shouldn't happen for incr sids;
                    # exactness first): fresh build from the new hashes
                    nb, nc = fresh(arr, max(slab_capacity, 2 * len(arr)))
                    rows.append((sid, round_no, nb.to_bytes(),
                                 nc.to_bytes(), nc.count,
                                 nc.nbuckets * CuckooFilter.SLOTS))
                    continue
                bloom = BloomFilter.from_bytes(prev[0])
                cuckoo = CuckooFilter.from_bytes(prev[1])
                bloom.add_many(arr)
                if cuckoo.insert_many(arr) == len(arr):
                    rows.append((sid, round_no, bloom.to_bytes(),
                                 cuckoo.to_bytes(), cuckoo.count,
                                 cuckoo.nbuckets * CuckooFilter.SLOTS))
                else:
                    # overflow marker: driver retries via rebuild path
                    rows.append((sid, round_no, None, None, 0, 0))
            if rows:
                cols = list(zip(*rows))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[0], pa.int64()),
                     pa.array(cols[1], pa.int64()),
                     pa.array(cols[2], pa.binary()),
                     pa.array(cols[3], pa.binary()),
                     pa.array(cols[4], pa.int64()),
                     pa.array(cols[5], pa.int64())],
                    names=[f.name for f in SLAB_SCHEMA.fields])

        n_parts = max(1, min(n_slabs, self.fetch_partitions))
        return inp.repartition(n_parts, "sid").mapInArrow(build, SLAB_SCHEMA)

    # --- seen-set membership test ---------------------------------------------

    def _filter_new_urls(self, candidates, round_no):
        """candidates(url, url_hash, ...) → truly-new rows.

        Bloom/cuckoo 'absent' ⇒ definitely new (no join); 'maybe seen' ⇒
        exact LEFT ANTI JOIN against the seen table. False positives can
        never drop a real URL; false negatives are structurally
        impossible (per-round slab persistence)."""
        if self._seen_partitioned() and self.t_slabs.exists():
            flagged = self._flag_partitioned(candidates)
        else:
            flagged = self._flag_broadcast(candidates)
        definitely_new = flagged.filter("maybe_seen = 0").drop("maybe_seen")
        maybe_seen = flagged.filter("maybe_seen = 1").drop("maybe_seen")
        seen = self.t_seen.read(self.spark, schema=SEEN_SCHEMA) \
            .select("url_hash", "url")
        if self._files_bytes(self.t_seen) <= self.broadcast_join_bytes:
            seen = F.broadcast(seen)
        # exact join on BOTH hash and url: a 64-bit hash collision must not
        # drop a distinct url (exactness of the seen set)
        confirmed_new = maybe_seen.join(seen, on=["url_hash", "url"],
                                        how="left_anti")
        return definitely_new.unionByName(confirmed_new)

    def _flag_broadcast(self, candidates):
        """Broadcast-all-slabs test — no shuffle of the candidates; right
        up to tens of MB of filter bytes."""
        n_slabs = self.n_slabs
        # broadcast, not closure capture: slab blobs would otherwise be
        # pickled into every task
        bc_slabs = self._bc(self._slabs_cached())

        flag_schema = StructType(candidates.schema.fields +
                                 [StructField("maybe_seen", LongType())])

        def flag(batches):
            filters = {sid: (BloomFilter.from_bytes(b),
                             CuckooFilter.from_bytes(c))
                       for sid, (b, c) in bc_slabs.value.items()}
            for batch in batches:
                yield _flag_batch(batch, n_slabs,
                                  lambda sid: filters.get(sid))

        return candidates.mapInArrow(flag, flag_schema)

    def _flag_partitioned(self, candidates):
        """Partition-aligned test (the 10^10-URL path): candidates are
        shuffled by slab id and each task loads ONLY its slabs' blobs
        from slab parquet (worker-cached, predicate-pushdown read) — no
        broadcast of the full filter set."""
        n_slabs = self.n_slabs
        bc_files = self._bc(self._slab_latest_files())

        flag_schema = StructType(candidates.schema.fields +
                                 [StructField("maybe_seen", LongType())])

        def flag(batches):
            loaded = {}

            def get(sid):
                if sid not in loaded:
                    info = bc_files.value.get(sid)
                    blobs = (_read_slab_blobs(info[0], sid, info[1])
                             if info is not None else None)
                    loaded[sid] = None if blobs is None else (
                        BloomFilter.from_bytes(blobs[0]),
                        CuckooFilter.from_bytes(blobs[1]))
                return loaded[sid]

            for batch in batches:
                yield _flag_batch(batch, n_slabs, get)

        n_parts = max(1, min(n_slabs, self.fetch_partitions))
        return (candidates
                .withColumn("_sid",
                            F.pmod(F.col("url_hash"), F.lit(n_slabs)))
                .repartition(n_parts, "_sid").drop("_sid")
                .mapInArrow(flag, flag_schema))

    def _host_stats_df(self):
        """The incremental per-host feedback table (delta rows; sum per
        host = cumulative history). Always safe to read: legacy
        workdirs are backfilled once in recover()."""
        return self.t_host_stats.read(self.spark,
                                      schema=HOST_STATS_SCHEMA)

    def _host_stats_delta(self, fetch_df):
        """One round's per-host delta rows from that round's fetch
        results (tiny: ≤ hosts touched this round)."""
        return (fetch_df.groupBy("host")
                .agg(F.count("*").alias("n_fetched"),
                     F.sum(F.when(F.col("status") == "ok", 1)
                           .otherwise(0)).alias("n_ok"),
                     F.sum("n_items").alias("n_items")))

    def _adaptive_adj_expr(self):
        """Per-host priority adjustment from cumulative fetch history
        (columns _nf, _nok, _ni): positive for failing hosts (later),
        negative for item-yielding hosts (earlier). Bounded in
        [-yield_weight, +error_weight]; integer sums + one double
        expression keep it bit-deterministic across dequeue paths."""
        fail_rate = (F.col("_nf") - F.col("_nok")) / F.col("_nf")
        yield_norm = F.least(
            F.lit(1.0),
            F.col("_ni") / F.greatest(F.col("_nok"), F.lit(1)))
        return (F.lit(float(self.adaptive_error_weight)) * fail_rate
                - F.lit(float(self.adaptive_yield_weight)) * yield_norm) \
            .alias("_adj")

    def _robots_df(self):
        """Per-host robots.txt bodies — computed once per engine and
        cached (it is a tiny per-host table; rescanning pages per round
        would be a full-table scan)."""
        if getattr(self, "_robots_cache_df", None) is None:
            self._robots_cache_df = (
                self.pages
                # StringEndsWith pushes down to the parquet scan; the
                # exact concat equality (not pushdown-able) then only
                # refines the ~one-row-per-host remainder
                .filter(F.col("url").endswith("/robots.txt"))
                .withColumn("_h", F.expr("parse_url(url, 'HOST')"))
                .filter(F.col("url") == F.concat(F.lit("https://"),
                                                 F.col("_h"),
                                                 F.lit("/robots.txt")))
                # join key is the LOWERCASED host — must agree with
                # url_host() (seeds) and the outlink host column, else a
                # mixed-case host splits into two robots/politeness
                # identities
                .select(F.lower(F.col("_h")).alias("host"),
                        F.col("html").alias("_robots"))).cache()
        return self._robots_cache_df

    # ------------------------------------------------------------------ round

    def _read_file_cached(self, dirpath, rel, columns, schema):
        """Driver-side pyarrow read of ONE table file, memoized by path:
        table files are immutable (uuid names) and the small-state
        driver paths re-read the same live files every round. Memory is
        bounded by the dequeue_driver_bytes gate that admits those
        paths at all."""
        import pyarrow.parquet as pq

        cache = getattr(self, "_deq_read_cache", None)
        if cache is None:
            cache = self._deq_read_cache = {}
        p = os.path.join(dirpath, rel)
        key = (p, tuple(columns))
        t = cache.get(key)
        if t is None:
            t = cache[key] = pq.read_table(p, columns=columns).cast(schema)
        return t

    _FRONTIER_ARROW = pa.schema([
        pa.field("url", pa.string()),
        pa.field("url_hash", pa.int64()),
        pa.field("host", pa.string()),
        pa.field("priority", pa.float64()),
        pa.field("depth", pa.int64()),
        pa.field("discovered_round", pa.int64()),
        pa.field("page_no", pa.int64()),
    ])

    def _dequeue_driver(self):
        """Driver-side dequeue fast path: when the ENTIRE dequeue input
        (live frontier files + post-compaction fetched files + host
        stats) fits ``dequeue_driver_bytes``, run the anti-join, the
        optional adaptive adjustment, the per-host top-k and the global
        budget as one local pyarrow/pandas pass — the same arithmetic
        the bucketed mapInArrow kernel executes per bucket (whose
        digest-parity with the JVM window path is pytest-asserted) —
        and return the dequeued rows as a pandas frame. Returns None
        above the gate (callers fall through to the distributed
        dequeues). Replaces a multi-stage Spark job + count + hot-host
        detection job with zero jobs for small open frontiers."""
        import pyarrow.parquet as pq

        fr_rel = self.t_frontier.manifest()["files"]
        if not fr_rel:
            import pandas as pd

            return pd.DataFrame(
                columns=[f.name for f in FRONTIER_SCHEMA.fields])
        aj_rel, _c = self._antijoin_fetched_files()
        adaptive = self.adaptive_priority
        hs_rel = (self.t_host_stats.manifest()["files"]
                  if adaptive and self.t_host_stats.exists() else [])
        total = (self._files_bytes(self.t_frontier, fr_rel)
                 + self._files_bytes(self.t_fetched, aj_rel)
                 + self._files_bytes(self.t_host_stats, hs_rel))
        if total > self.dequeue_driver_bytes:
            return None
        read = self._read_file_cached
        cols = [f.name for f in FRONTIER_SCHEMA.fields]
        fr = pa.concat_tables(
            [read(self.t_frontier.dir, f, cols, self._FRONTIER_ARROW)
             for f in fr_rel])
        pdf = fr.to_pandas()
        if aj_rel:
            url_schema = pa.schema([pa.field("url", pa.string())])
            fetched_urls = pa.concat_tables(
                [read(self.t_fetched.dir, f, ["url"], url_schema)
                 for f in aj_rel])
            if fetched_urls.num_rows:
                pdf = pdf[~pdf["url"].isin(
                    set(fetched_urls.column("url").to_pylist()))]
        if pdf.empty:
            return pdf
        if adaptive:
            # identical float64 arithmetic to the bucketed kernel /
            # the window path's JVM expression (integer sums then one
            # double expression)
            eff = pdf["priority"].to_numpy(dtype="float64")
            if hs_rel:
                hpdf = pa.concat_tables(
                    [pq.read_table(
                        os.path.join(self.t_host_stats.dir, f),
                        columns=["host", "n_fetched", "n_ok", "n_items"])
                     .cast(pa.schema(
                         [pa.field("host", pa.string()),
                          pa.field("n_fetched", pa.int64()),
                          pa.field("n_ok", pa.int64()),
                          pa.field("n_items", pa.int64())]))
                     for f in hs_rel]).to_pandas()
                if len(hpdf):
                    g = hpdf.groupby("host", sort=False).agg(
                        _nf=("n_fetched", "sum"), _nok=("n_ok", "sum"),
                        _ni=("n_items", "sum"))
                    nf = g["_nf"].to_numpy(dtype="float64")
                    nok = g["_nok"].to_numpy(dtype="float64")
                    ni = g["_ni"].to_numpy(dtype="float64")
                    adj = (float(self.adaptive_error_weight)
                           * ((nf - nok) / nf)
                           - float(self.adaptive_yield_weight)
                           * np.minimum(1.0, ni / np.maximum(nok, 1.0)))
                    amap = dict(zip(g.index, adj))
                    eff = eff + pdf["host"].map(amap) \
                        .fillna(0.0).to_numpy(dtype="float64")
            pdf = pdf.assign(_eff=eff).sort_values(["_eff", "url"])
        else:
            pdf = pdf.sort_values(["priority", "url"])
        pdf = pdf.groupby("host", sort=False).head(self.per_host_budget)
        pdf = pdf.head(self.round_budget)
        return pdf[cols].reset_index(drop=True)

    def _dequeue_window(self):
        """Shuffle-based dequeue (the non-bucketed path): compaction-
        pruned anti-join, optional adaptive host feedback, per-host
        top-k window, global budget."""
        spark = self.spark
        frontier = self.t_frontier.read(spark, schema=FRONTIER_SCHEMA)
        # anti-join right side: only fetched files from rounds
        # AFTER the effective frontier compaction — a compacted
        # frontier already excludes everything fetched up to that
        # round, so the anti-join cost tracks work since the last
        # compaction, not total crawl history
        aj_files, _c = self._antijoin_fetched_files()
        if aj_files:
            fetched_aj = spark.read.parquet(
                *[os.path.join(self.t_fetched.dir, f)
                  for f in aj_files])
        else:
            fetched_aj = spark.createDataFrame([], FETCHED_SCHEMA)
        fa = fetched_aj.select("url_hash", "url")
        if self._files_bytes(self.t_fetched,
                             aj_files) <= self.broadcast_join_bytes:
            # small anti-join side → broadcast: the frontier scan is
            # never shuffled just to drop already-fetched rows
            fa = F.broadcast(fa)
        pending = frontier.join(fa, on=["url_hash", "url"],
                                how="left_anti")

        if self.adaptive_priority:
            # per-host feedback from the INCREMENTAL host_stats
            # table (delta rows per round, compacted to one row per
            # host) — never a re-aggregation of the full fetched
            # history. Integer delta sums then one double
            # expression: bit-identical to aggregating fetched
            # directly, at a cost proportional to active hosts.
            adj = (self._host_stats_df()
                   .groupBy("host")
                   .agg(F.sum("n_fetched").alias("_nf"),
                        F.sum("n_ok").alias("_nok"),
                        F.sum("n_items").alias("_ni"))
                   .select("host", self._adaptive_adj_expr()))
            if self._files_bytes(self.t_host_stats) \
                    <= self.broadcast_join_bytes:
                adj = F.broadcast(adj)
            pending = (pending.join(adj, "host", "left")
                       .withColumn(
                           "_eff",
                           F.col("priority")
                           + F.coalesce(F.col("_adj"), F.lit(0.0)))
                       .drop("_adj"))
        else:
            pending = pending.withColumn("_eff", F.col("priority"))

        # per-host top-k dequeue, then global budget — explicit sorts
        w = Window.partitionBy("host").orderBy("_eff", "url")
        return (pending
                .withColumn("_rank", F.row_number().over(w))
                .filter(F.col("_rank") <= self.per_host_budget)
                .drop("_rank")
                .orderBy("_eff", "url")
                .limit(self.round_budget)
                .drop("_eff"))

    def _mark(self, name):
        """Phase checkpoint for profiling: records (name, secs since the
        previous mark) into self.last_phases. Cost is one time.time()
        call per phase per round — always on, read by bench_extra.py."""
        now = time.time()
        self.last_phases.append((name, now - self._mark_t))
        self._mark_t = now

    def run_round(self, round_no: int):
        t0 = time.time()
        self.last_phases = []
        self._mark_t = t0
        spark = self.spark
        deq_pdf = self._dequeue_driver()
        deq_cached = False
        if deq_pdf is not None:
            n_dequeued = len(deq_pdf)
            dequeued = (spark.createDataFrame(deq_pdf, FRONTIER_SCHEMA)
                        if n_dequeued else None)
        else:
            if self.frontier_buckets and self._buckets_complete():
                dequeued = self._dequeue_bucketed()
            else:
                dequeued = self._dequeue_window()
            dequeued = dequeued.cache()
            deq_cached = True
            n_dequeued = dequeued.count()
        self._mark("dequeue")
        if n_dequeued == 0:
            if deq_cached:
                dequeued.unpersist()
            self._release_round_broadcasts()  # bucketed dequeue's file map
            self.t_rounds.append_rows(
                [(round_no, 0, 0, 0, 0, 0, time.time() - t0)],
                ROUNDS_SCHEMA, {"round": round_no})
            return {"round": round_no, "n_dequeued": 0}

        # skew: hot hosts get salted sub-partitions AFTER the politeness
        # schedule is fixed (salting only parallelizes fetch/parse). The
        # detection groupBy only pays for itself when a host COULD exceed
        # the threshold.
        hot_hosts = set()
        # live mode NEVER salts: politeness is enforced with wall-clock
        # sleeps that only work while a host lives in exactly one task
        # (mock mode's virtual clock is partition-independent, so salting
        # stays on there). per_host_budget still bounds hot hosts.
        if self.live_fetcher is None and n_dequeued > self.salt_threshold:
            if deq_pdf is not None:
                vc = deq_pdf["host"].value_counts()
                hot_hosts = set(vc[vc > self.salt_threshold].index)
            else:
                host_counts = dequeued.groupBy("host").count()
                hot_hosts = {r["host"] for r in host_counts
                             .filter(F.col("count") > self.salt_threshold)
                             .collect()}
            self._mark("salt_detect")

        if self.debug and self.pages is not None:
            dbg = (dequeued
                   .join(self.pages.select("url", "html"), "url", "left")
                   .select("url", "host", "html",
                           F.lit(round_no).cast("long").alias("round")))
            self.t_debug.append(
                dbg.coalesce(max(1, n_dequeued // 50_000 + 1)),
                {"round": round_no})

        # fetch/extract width: at most one wave of task slots (see
        # fetch_partitions in __init__), fewer for a small round
        n_fetch_parts = max(1, min(self.fetch_partitions,
                                   spark.sparkContext.defaultParallelism,
                                   (n_dequeued + 15) // 16))
        # politeness schedule: deterministic virtual clock per host —
        # computed with window functions (rank within host by priority,url)
        # so it is independent of physical partitioning. Computed on the
        # DEQUEUED rows BEFORE html is attached: the round's host
        # exchange moves only (url, host, priority, ...) — not page
        # payloads — and, without hot hosts, it is also the fetch
        # stage's partitioning: one exchange per round.
        wseq = Window.partitionBy("host").orderBy("priority", "url")
        work = (dequeued.repartition(n_fetch_parts, "host")
                .withColumn("_host_seq",
                            F.row_number().over(wseq).cast("long")))

        if self.pages is not None:
            robots_df = self._robots_df()
            work = (work
                    .join(self.pages.select(F.col("url"),
                                            F.col("html").alias("_html")),
                          on="url", how="left")
                    .join(robots_df, on="host", how="left"))
        else:  # live mode: html + robots arrive inside the kernel
            work = (work
                    .withColumn("_html", F.lit(None).cast("binary"))
                    .withColumn("_robots", F.lit(None).cast("binary")))

        # the fetch stage's host-locality (politeness needs nothing
        # more), stated after the joins so it holds whatever join the
        # planner picks; without hot hosts the planner drops it as a
        # repeat of the first exchange. Hot hosts spread over salt
        # sub-partitions AFTER their politeness sequence is fixed.
        keys = [F.col("host")]
        if hot_hosts:
            keys.append(F.when(F.col("host").isin(list(hot_hosts)),
                               F.pmod(F.xxhash64("url"),
                                      F.lit(self.salt_factor)))
                        .otherwise(F.lit(0)))
        work = work.repartition(n_fetch_parts, *keys)

        scraper_factory = self.scraper_factory
        user_agent = self.user_agent
        live_factory = self.live_fetcher
        now = self.now
        proto = self._proto
        out_schema = self._crawl_schema()
        arrow_out = self._crawl_arrow_schema()
        fcols = _field_columns(proto)
        retain_html = self._retain_html
        round_base = float(round_no) * 1e6

        def fetch_extract(batches):
            scrapers = {}
            robots_cache = {}
            fetcher = live_factory() if live_factory is not None else None
            # wall-clock politeness: the host lives in THIS partition
            # (host-hash partitioning), so local sleeps enforce the
            # crawl-delay budget exactly
            last_at = {}  # host -> monotonic time its last response returned

            for batch in batches:
                d = batch.to_pydict()
                rows = []
                for r in range(batch.num_rows):
                    url = d["url"][r]
                    host = d["host"][r]
                    prio = d["priority"][r]
                    depth = d["depth"][r]
                    page_no = d["page_no"][r] or 1
                    host_seq = d["_host_seq"][r]
                    rb = d["_robots"][r]
                    if host not in robots_cache:
                        if rb is None and fetcher is not None:
                            # robots URL keeps the original NETLOC (the
                            # host key strips ports; the request must not)
                            sp = urlsplit(url)
                            ck = (sp.scheme or "https", sp.netloc,
                                  user_agent)
                            hit = _live_robots_get(ck)
                            if hit is not None:
                                robots_cache[host] = hit
                            else:
                                cacheable = True
                                try:
                                    rb = polite_fetch(
                                        fetcher, last_at, host,
                                        f"{sp.scheme or 'https'}://"
                                        f"{sp.netloc}/robots.txt",
                                        0.0).encode()
                                except FetchError as e:
                                    # RFC 9309: 4xx (unavailable) ⇒
                                    # allow-all (cacheable); 5xx
                                    # (unreachable) ⇒ complete disallow,
                                    # NOT cached — the host is re-probed
                                    # next round, as before
                                    if e.status is not None \
                                            and 400 <= e.status < 500:
                                        rb = b""
                                    else:
                                        rb = ROBOTS_DISALLOW_ALL
                                        cacheable = False
                                except Exception:
                                    # network-level failure = unreachable
                                    rb = ROBOTS_DISALLOW_ALL
                                    cacheable = False
                                rules = parse_robots(rb, user_agent)
                                robots_cache[host] = rules
                                if cacheable:
                                    _live_robots_put(ck, rules)
                        else:
                            robots_cache[host] = parse_robots(
                                rb if rb is not None else b"",
                                user_agent)
                    rules = robots_cache[host]
                    delay = rules.crawl_delay or 0.0
                    fetch_ts = round_base + (host_seq - 1) * delay
                    path = urlsplit(url).path or "/"
                    if not rules.allowed(path):
                        rows.append(_fetch_row(url, host, fetch_ts,
                                               "robots", 0, 0, fcols))
                        continue
                    html = d["_html"][r]
                    if html is None and fetcher is not None:
                        try:
                            html = polite_fetch(fetcher, last_at, host,
                                                url, delay)
                        except Exception:
                            html = None
                    if html is None:
                        rows.append(_fetch_row(url, host, fetch_ts,
                                               "missing", 0, 0, fcols))
                        continue
                    if isinstance(html, bytes):
                        html = html.decode("utf-8", errors="replace")
                    if host not in scrapers:
                        sc = scraper_factory(host)
                        scrapers[host] = (sc, initialize_filters(sc, now=now))
                    scraper, filters = scrapers[host]
                    pr = scrape_page(scraper, url, html, filters=filters,
                                     now=now)
                    n_items = 0
                    for item in pr.items:
                        clean = {k: v for k, v in item.items()
                                 if not k.startswith("_")}
                        if not filter_item(filters, clean):
                            continue
                        n_items += 1
                        rows.append(_item_row(url, host, item["_item_idx"],
                                              item, fcols))
                        # item url fields are outlinks (detail pages)
                        for f in scraper.fields:
                            if f.type == "url":
                                v = item.get(f.name)
                                if v:
                                    rows.append(_outlink_row(
                                        url, host, v, depth, 1, fcols))
                    # pagination outlink: page page_no+1, capped by
                    # paginator.max_pages (0 = unbounded; reference
                    # scraper.go:574,600)
                    mp = scraper.paginator.max_pages
                    if pr.next_page_url and (mp == 0 or page_no < mp):
                        rows.append(_outlink_row(url, host, pr.next_page_url,
                                                 depth, page_no + 1, fcols))
                    rows.append(_fetch_row(url, host, fetch_ts, "ok",
                                           n_items, pr.nr_errors, fcols,
                                           html=html if retain_html
                                           else None))
                if rows:
                    yield _crawl_batch(rows, arrow_out)

        kernel = (work.sortWithinPartitions("host", "priority", "url")
                  .mapInArrow(fetch_extract, out_schema))
        small_round = n_dequeued <= self.slab_driver_threshold
        # SMALL-ROUND SINGLE-COLLECT: below the same driver-
        # materialization bound the seen set uses, ONE job runs the
        # fetch/extract kernel and collects its (html-free) output as
        # Arrow — the JVM xxhash64 of each page and the outlink columns
        # (canonical url, its xxhash64, its host) ride along, so no hash
        # or url rule is ever re-implemented off-JVM. Items, fetched
        # (+ fetch_seq), host stats, the round metrics and the
        # aggregated new-url candidates all derive driver-side from that
        # table: no result cache, no further Spark job. retain_html
        # rounds keep the distributed path (page payloads must not be
        # collected).
        driver_commit = small_round and not self._retain_html
        out_pdf = None  # aggregated outlink frontier rows (driver path)
        if driver_commit:
            started = datetime.now(timezone.utc)
            coll = self._with_outlink_keys(
                kernel.withColumn("_url_hash", F.xxhash64("_page_url"))
            ).toArrow()
            if deq_cached:
                dequeued.unpersist()
            self._commit_items_driver(coll, round_no, fcols)
            self._mark("fetch_extract+items")
            fpdf = self._fetch_pdf_from_arrow(coll, round_no)
            stats = self._commit_fetched_driver(fpdf, round_no)
            ended = datetime.now(timezone.utc)
            self._mark("fetched_write")
            if self.adaptive_priority or self.t_host_stats.exists():
                self._commit_host_stats_driver(fpdf, round_no)
                self._mark("host_stats")
            result = None
            out_pdf = self._outlinks_from_arrow(coll, round_no)
        else:
            out_coalesce = max(1, min(n_fetch_parts,
                                      n_dequeued // 50_000 + 1))
            result = kernel.cache()
            # first consumer (items append) fills the result cache; only
            # THEN is the dequeue cache safe to drop (result's lineage
            # includes it)

            # --- commit: items
            items = (result.filter("_kind = 'item'")
                     .select(F.col("_page_url").alias("page_url"),
                             F.col("_item_idx").alias("item_idx"),
                             *[n for n, _ in fcols],
                             F.lit(round_no).cast("long").alias("round")))
            self.t_items.append(items.coalesce(out_coalesce),
                                {"round": round_no})
            self._mark("fetch_extract+items")

            # --- commit: live-mode html retention (debug sink /
            # on_subpage stage-2 source): kernel-fetched html is only
            # reachable through the result rows, so persist it to
            # debug_pages from there
            if self._retain_html:
                dbg = (result.filter("_kind = 'fetch'")
                       .filter(F.col("_status") == "ok")
                       .select(F.col("_page_url").alias("url"),
                               F.col("_host").alias("host"),
                               F.encode(F.col("_html_out"), "UTF-8")
                               .alias("html"),
                               F.lit(round_no).cast("long").alias("round")))
                self.t_debug.append(dbg.coalesce(out_coalesce),
                                    {"round": round_no})

            # --- commit: fetched (+ deterministic global fetch_seq).
            # The global sequence over (fetch_ts, host, url) is computed
            # WITHOUT a single-partition Window (the scale-killer flagged
            # in round 1): range-partition on the sort key, take the
            # partition-LOCAL position from monotonically_increasing_id
            # (pid<<33 + local row number — no shuffle, no Python), then
            # add an exclusive prefix-sum of per-partition counts (one
            # tiny n_parts-row collect). The sort key is unique per round
            # (one fetch row per dequeued url), so the ranking — and the
            # crawl digest — is identical at any parallelism.
            fetch_base = (result.filter("_kind = 'fetch'")
                          .select(F.col("_page_url").alias("url"),
                                  F.col("_host").alias("host"),
                                  F.col("_fetch_ts").alias("fetch_ts"),
                                  F.col("_status").alias("status"),
                                  F.col("_n_items").alias("n_items"),
                                  F.col("_n_errors").alias("n_errors"))
                          .withColumn("url_hash", F.xxhash64("url"))
                          .withColumn("round",
                                      F.lit(round_no).cast("long")))
            started = datetime.now(timezone.utc)
            if small_round:
                # SMALL-ROUND FAST PATH (retain_html rounds — the
                # html-free ones take the single-collect branch above):
                # the fetch set has exactly n_dequeued rows (one per
                # dequeued url), bounded by slab_driver_threshold — the
                # same driver-materialization bound the seen set uses.
                # ONE job collects it sorted (Arrow path); fetch_seq is
                # then a plain position in the sorted frame, the parquet
                # append is a driver-side pyarrow write (per-bucket
                # files in bucketed mode, same crc32 modulus as the JVM
                # writer), and the round summary / lineage metrics /
                # adaptive host_stats delta all come from the frame
                # already in hand — no range sampling, no offset-collect
                # job, no committer temp-dir dance, no re-read.
                # Identical fetch_seq values: the sort key is unique per
                # round, so position-in-sorted-order is the same ranking
                # the range-partitioned path computes.
                pdf = (fetch_base
                       .coalesce(1)
                       .sortWithinPartitions("fetch_ts", "host", "url")
                       .toPandas())
                stats = self._commit_fetched_driver(pdf, round_no)
                ended = datetime.now(timezone.utc)
                self._mark("fetched_write")
                if self.adaptive_priority or self.t_host_stats.exists():
                    self._commit_host_stats_driver(pdf, round_no)
                    self._mark("host_stats")
            else:
                n_seq_parts = max(1, min(n_fetch_parts,
                                         (n_dequeued + 4095) // 4096))
                seq_sorted = (fetch_base
                              .repartitionByRange(n_seq_parts,
                                                  "fetch_ts", "host",
                                                  "url")
                              .sortWithinPartitions("fetch_ts", "host",
                                                    "url")
                              .withColumn("_pid", F.spark_partition_id())
                              .withColumn("_local",
                                          F.monotonically_increasing_id()
                                          .bitwiseAND(
                                              F.lit((1 << 33) - 1)))
                              ).cache()
                # ONE tiny aggregation serves both the fetch_seq offsets
                # AND the per-partition lineage metrics/round summary
                stats = (seq_sorted.groupBy("_pid")
                         .agg(F.count("*").alias("n_fetched"),
                              F.sum(F.when(F.col("status") == "ok", 1)
                                    .otherwise(0)).alias("n_ok"),
                              F.sum("n_items").alias("n_items"),
                              F.sum("n_errors").alias("n_errors"))
                         ).collect()
                ended = datetime.now(timezone.utc)
                self._mark("seq_stats")
                pid_counts = {int(r["_pid"]): int(r["n_fetched"])
                              for r in stats}
                offs, acc = {}, 0
                for pid in sorted(pid_counts):  # range parts key-ordered
                    offs[pid] = acc
                    acc += pid_counts[pid]
                off_map = F.create_map(*[F.lit(v) for pid in sorted(offs)
                                         for v in (pid, offs[pid])])
                fetch_rows = (seq_sorted
                              .withColumn(
                                  "fetch_seq",
                                  (F.col("_local") + 1 +
                                   F.element_at(off_map, F.col("_pid")))
                                  .cast("long"))
                              .select(*[f.name
                                        for f in FETCHED_SCHEMA.fields]))
                # single consumer (the append) — reads seq_sorted cache
                self._hostpart_write(self.t_fetched, fetch_rows,
                                     {"round": round_no},
                                     coalesce=out_coalesce)
                self._mark("fetched_write")
                # incremental host feedback: THIS round's per-host delta
                # (from the same seq_sorted cache — no rescan), so the
                # adaptive dequeue never re-aggregates fetched history.
                if self.adaptive_priority or self.t_host_stats.exists():
                    self._hostpart_write(
                        self.t_host_stats,
                        self._host_stats_delta(seq_sorted)
                        .withColumn("round",
                                    F.lit(round_no).cast("long")),
                        {"round": round_no}, coalesce=1)
                    self._mark("host_stats")
                seq_sorted.unpersist()
            if deq_cached:
                dequeued.unpersist()
            outlinks = self._outlinks_df(
                result.filter("_kind = 'outlink'"), round_no)

        # --- outlinks → seen-set → new frontier rows
        if (small_round
                and not (self._seen_partitioned()
                         and self.t_slabs.exists())
                and self._files_bytes(self.t_seen)
                <= self.dequeue_driver_bytes):
            # SMALL-ROUND DRIVER COMMIT: the aggregated outlinks are
            # already in hand (single-collect rounds) or collected by
            # one job (retain_html rounds); the Bloom+cuckoo flag (the
            # same numpy code the executor kernel runs), the exact seen
            # confirm (url membership over a bytes-gated pyarrow read —
            # stricter-equivalent to the [url_hash, url] anti-join) and
            # the frontier/seen/slab commits all run driver-side.
            if out_pdf is None:
                out_pdf = outlinks.toPandas()
            n_new = self._commit_new_urls_driver(out_pdf, round_no)
        else:
            if out_pdf is not None:
                # a small round the seen gate refuses: the aggregated
                # rows go to the distributed seen test as a LOCAL
                # relation (no kernel lineage to recompute)
                outlinks = spark.createDataFrame(out_pdf, FRONTIER_SCHEMA)
            # WRITE-FIRST commit: the new-url set is appended straight
            # to the frontier (ONE job — no count() pass, no cache);
            # n_new comes from the written parquet footers, and the seen
            # append + slab update are derived FROM THE WRITTEN FILES
            # (driver-side pyarrow under slab_driver_threshold, a cheap
            # file re-scan above it) instead of recomputing the
            # flag/anti-join lineage per consumer.
            new_urls = self._filter_new_urls(outlinks, round_no)
            n_new, new_files = self._hostpart_append_counted(
                self.t_frontier, new_urls, {"round": round_no})
            self._mark("frontier(new_urls)")
            if n_new:
                hashes = self._append_seen_from_files(new_files, round_no,
                                                      n_new)
                self._mark("seen")
                self._update_slabs(None, round_no, n_new=n_new,
                                   hashes=hashes, files=new_files)
                self._mark("slabs")
            else:
                # still mark the round on the tables for rollback
                # bookkeeping (append_counted already meta-committed
                # the frontier)
                for t in (self.t_seen, self.t_slabs):
                    t.commit_meta({"round": round_no})

        # --- per-partition lineage metrics: from the SAME aggregation
        # that produced the fetch_seq offsets (no extra job)
        metrics_rows = [(round_no, int(r["_pid"]), int(r["n_fetched"]),
                         int(r["n_items"] or 0), int(r["n_errors"] or 0),
                         started, ended) for r in stats]
        # driver-known tiny row sets: pyarrow write, no Spark job
        self.t_metrics.append_rows(metrics_rows, METRICS_SCHEMA,
                                   {"round": round_no})

        summary = {
            "round": round_no,
            "n_dequeued": n_dequeued,
            "n_fetched_ok": sum(int(r["n_ok"] or 0) for r in stats),
            "n_items": sum(int(r["n_items"] or 0) for r in stats),
            "n_errors": sum(int(r["n_errors"] or 0) for r in stats),
            "n_new_urls": n_new,
            "wall_secs": time.time() - t0,
        }
        self.t_rounds.append_rows([tuple(summary.values())],
                                  ROUNDS_SCHEMA, {"round": round_no})
        if result is not None:
            result.unpersist()
        self._release_round_broadcasts()
        self._mark("commit_tail")
        return summary

    def run(self, max_rounds=100):
        """Bootstrap-or-resume, then crawl until the frontier drains."""
        last = self.recover()
        # bootstrap keys on the frontier table: a rounds row without a
        # frontier (half-written state) must still bootstrap
        if last < 0 and not self.t_frontier.exists():
            self.bootstrap()
            last = -1
        summaries = []
        r = last + 1
        while r < max_rounds:
            s = self.run_round(r)
            summaries.append(s)
            if s["n_dequeued"] == 0:
                break
            if self.compact_every and (r + 1) % self.compact_every == 0:
                self.compact()
            r += 1
        return summaries

    def compact(self):
        """Bound manifest/file growth on long crawls: rewrite each
        table's CURRENT snapshot into few files, and drop superseded
        slab generations (only the latest row per slab survives). Old
        snapshots stay readable — files are never deleted — so
        rollback/time-travel and crash-resume are unaffected; the
        compacted snapshot carries the last complete round's meta and is
        itself a valid resume point. At the 10^10 design point this is
        the maintenance job a real Iceberg deployment schedules as
        rewrite_data_files."""
        last = self.last_complete_round()
        slabs = self.t_slabs.read(self.spark, schema=SLAB_SCHEMA)
        w = Window.partitionBy("slab_id").orderBy(F.desc("round"))
        latest = (slabs.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").drop("_rn"))
        self.t_slabs.overwrite(
            latest.coalesce(max(1, self.n_slabs // 64 + 1)),
            {"round": last, "compacted": True})
        # frontier: drop rows already fetched — `pending = frontier ANTI
        # JOIN fetched` is computed every round, so shrinking the
        # frontier to the actual pending set makes that the dominant
        # dequeue cost scale with the OPEN work, not crawl history
        frontier = self.t_frontier.read(self.spark, schema=FRONTIER_SCHEMA)
        fetched = self.t_fetched.read(self.spark, schema=FETCHED_SCHEMA)
        pending = frontier.join(fetched.select("url_hash", "url"),
                                on=["url_hash", "url"], how="left_anti")
        # coalesce sizing comes from parquet FOOTER row counts
        # (Table.row_count — driver-side metadata, no Spark job), so
        # each table pays exactly ONE job here: its rewrite. The
        # pending count isn't knowable from footers (it's an anti-join
        # result), so its file target uses the frontier row count as an
        # upper bound — never fewer files than optimal, a few more at
        # worst, and sizing is heuristic anyway.
        n_p = self.t_frontier.row_count()
        self._hostpart_write(self.t_frontier, pending,
                             {"round": last, "compacted": True},
                             mode="overwrite",
                             coalesce=max(1, n_p // 500_000 + 1))
        n_f = self.t_fetched.row_count()
        self._hostpart_write(self.t_fetched, fetched,
                             {"round": last, "compacted": True},
                             mode="overwrite",
                             coalesce=max(1, n_f // 500_000 + 1))
        for t, schema in ((self.t_seen, SEEN_SCHEMA),
                          (self.t_items, self.items_table_schema())):
            n = t.row_count()
            df = t.read(self.spark, schema=schema)
            t.overwrite(df.coalesce(max(1, n // 500_000 + 1)),
                        {"round": last, "compacted": True})
        # host_stats deltas are mergeable sums: collapse to ONE row per
        # host, so the adaptive dequeue's read stays O(hosts) however
        # long the crawl runs
        if self.t_host_stats.exists():
            hs = self.t_host_stats.read(self.spark,
                                        schema=HOST_STATS_SCHEMA)
            merged = (hs.groupBy("host")
                      .agg(F.sum("n_fetched").alias("n_fetched"),
                           F.sum("n_ok").alias("n_ok"),
                           F.sum("n_items").alias("n_items"))
                      .withColumn("round", F.lit(last).cast("long"))
                      .select(*[f.name for f in HOST_STATS_SCHEMA.fields]))
            self._hostpart_write(self.t_host_stats, merged,
                                 {"round": last, "compacted": True},
                                 mode="overwrite", coalesce=1)
        # driver caches key on table HEAD, which just changed
        self._slabs_mem = None
        self._stats_mem = None
        self._files_mem = None

    def items_table_schema(self):
        fields = [StructField("page_url", StringType()),
                  StructField("item_idx", LongType())]
        for f in item_spark_schema(self._proto).fields:
            if f.name not in ("page_url", "item_idx", "nr_errors"):
                fields.append(f)
        fields.append(StructField("round", LongType()))
        return StructType(fields)

    def items_final(self):
        """The user-facing item set: for configs WITHOUT on_subpage
        fields this is just the committed items table; with them, the
        detail pages were crawled as outlinks, so join their html back
        and run the batch pipeline's stage-2 extraction + FINAL filters
        (reference semantics: filters see the complete item). The join
        on the url field is also the subpage fetch-dedup (A1).

        Assumes subpage field definitions are host-independent (the
        engine already requires field-compatible scrapers across hosts).
        """
        from .pipeline import extract_stage2_subpages, finalize_items_df

        items = self.t_items.read(self.spark,
                                  schema=self.items_table_schema())
        if not self._has_subpage:
            return finalize_items_df(items.withColumn("nr_errors",
                                                      F.lit(0)), self._proto,
                                     now=self.now)
        raw = items.withColumn("nr_errors", F.lit(0).cast("long"))
        pages = self.pages
        if pages is None:
            # live mode: the crawled detail-page html was retained in
            # debug_pages (_retain_html is forced on for on_subpage
            # configs); re-fetched pages keep the LATEST round's bytes
            w = Window.partitionBy("url").orderBy(F.desc("round"))
            pages = (self.t_debug.read(self.spark, schema=DEBUG_SCHEMA)
                     .withColumn("_rn", F.row_number().over(w))
                     .filter("_rn = 1").select("url", "html"))
        raw = extract_stage2_subpages(raw, pages, self._proto,
                                      now=self.now)
        return finalize_items_df(raw, self._proto, now=self.now)

    # ------------------------------------------------------------------ schema

    def _crawl_schema(self):
        # plumbing columns are underscore-prefixed so they can never
        # collide with user-config field names
        fields = [
            StructField("_kind", StringType()),
            StructField("_page_url", StringType()),
            StructField("_host", StringType()),
            StructField("_fetch_ts", DoubleType()),
            StructField("_status", StringType()),
            StructField("_n_items", LongType()),
            StructField("_n_errors", LongType()),
            StructField("_item_idx", LongType()),
            StructField("_outlink", StringType()),
            StructField("_depth", LongType()),
            StructField("_page_no", LongType()),
        ]
        if self._retain_html:
            fields.append(StructField("_html_out", StringType()))
        for f in item_spark_schema(self._proto).fields:
            if f.name not in ("page_url", "item_idx", "nr_errors"):
                fields.append(f)
        return StructType(fields)

    def _crawl_arrow_schema(self):
        import pyarrow as pa

        base = [
            pa.field("_kind", pa.string()),
            pa.field("_page_url", pa.string()),
            pa.field("_host", pa.string()),
            pa.field("_fetch_ts", pa.float64()),
            pa.field("_status", pa.string()),
            pa.field("_n_items", pa.int64()),
            pa.field("_n_errors", pa.int64()),
            pa.field("_item_idx", pa.int64()),
            pa.field("_outlink", pa.string()),
            pa.field("_depth", pa.int64()),
            pa.field("_page_no", pa.int64()),
        ]
        if self._retain_html:
            base.append(pa.field("_html_out", pa.string()))
        for f in _arrow_schema(self._proto):
            if f.name not in ("page_url", "item_idx", "nr_errors"):
                base.append(f)
        return pa.schema(base)


def _blank_fields(fcols):
    return {name: None for name, _ in fcols}


def _fetch_row(url, host, ts, status, n_items, n_errors, fcols, html=None):
    # _html_out only exists in the output schema when the engine retains
    # html (live debug / on_subpage); _crawl_batch drops unknown keys
    return {"_kind": "fetch", "_page_url": url, "_host": host,
            "_fetch_ts": ts, "_status": status, "_n_items": n_items,
            "_n_errors": n_errors, "_item_idx": None, "_outlink": None,
            "_depth": None, "_page_no": None, "_html_out": html,
            **_blank_fields(fcols)}


def _outlink_row(url, host, outlink, depth, page_no, fcols):
    return {"_kind": "outlink", "_page_url": url, "_host": host,
            "_fetch_ts": None, "_status": None, "_n_items": None,
            "_n_errors": None, "_item_idx": None, "_outlink": outlink,
            "_depth": depth, "_page_no": page_no, **_blank_fields(fcols)}


def _item_row(url, host, idx, item, fcols):
    row = {"_kind": "item", "_page_url": url, "_host": host,
           "_fetch_ts": None, "_status": None, "_n_items": None,
           "_n_errors": None, "_item_idx": idx, "_outlink": None,
           "_depth": None, "_page_no": None}
    from datetime import timezone as _tz

    for name, kind in fcols:
        v = item.get(name)
        if kind == "ts" and v is not None:
            v = v.astimezone(_tz.utc) if v.tzinfo else v.replace(tzinfo=_tz.utc)
        row[name] = v
    return row


def _crawl_batch(rows, arrow_schema):
    cols = {f.name: [] for f in arrow_schema}
    for r in rows:
        for k in cols:
            cols[k].append(r.get(k))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in arrow_schema],
        schema=arrow_schema)
