"""Round-7 optimization pins: the small-round DRIVER fast paths
(dequeue, new-url commit, fetched commit) must be bit-identical to the
distributed paths they bypass, and the de-duplicated query lineages must
match their reference formulations exactly."""

import hashlib
import shutil
import tempfile
import uuid
from datetime import datetime, timezone

import pytest

from goskyr_spark.spark.crawl import CrawlEngine
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, \
    synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="r7-fastpath-tests", master="local[4]",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def spec():
    return SynthSpec(n_hosts=6, pages_per_host=3, items_per_page=3,
                     hot_hosts=1, hot_factor=2)


@pytest.fixture(scope="module")
def pages(spark, spec):
    df = synth_pages_df(spark, spec, include_fixtures=False).cache()
    df.count()
    return df


def _digest(eng, spark):
    h = hashlib.sha256()
    for r in eng.t_fetched.read(spark).orderBy("round", "fetch_seq") \
            .select("round", "fetch_seq", "url", "status").collect():
        h.update(f"{r['round']}|{r['fetch_seq']}|{r['url']}|{r['status']}"
                 .encode())
    for r in eng.t_seen.read(spark).orderBy("url").select("url").collect():
        h.update(r["url"].encode())
    return h.hexdigest()


def _seeds(spec):
    return [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]


def _run(spark, pages, seeds, scraper=event_scraper, driver_dequeue=True,
         **kw):
    wd = tempfile.mkdtemp(prefix="r7fp-")
    try:
        eng = CrawlEngine(spark, wd, pages, scraper, seeds,
                          now=NOW, fetch_partitions=4,
                          round_budget=10_000, **kw)
        if not driver_dequeue:
            eng.dequeue_driver_bytes = 0
        summaries = eng.run(max_rounds=30)
        # ALL item columns (incl. timestamp fields): the driver-side
        # items write must be value-identical to the Spark write path
        items = sorted(tuple(r) for r in eng.items_final().collect())
        frontier = [tuple(r) for r in eng.t_frontier.read(spark)
                    .select("url", "host").collect()]
        return _digest(eng, spark), summaries, items, frontier
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def _force_distributed(eng_kw):
    """Gates that push EVERY round onto the distributed code paths the
    fast paths bypass (dequeue job, flag/anti-join lineage, range-
    partitioned fetch_seq, executor-side slab build)."""
    return dict(eng_kw, slab_driver_threshold=0)


def _assert_paths_agree(spark, pages, seeds, scraper=event_scraper,
                        **mode_kw):
    """Driver fast paths ≡ distributed paths ≡ distributed dequeue."""
    fast_digest, fast_sum, fast_items, fast_fr = _run(
        spark, pages, seeds, scraper, **mode_kw)
    slow_digest, slow_sum, slow_items, _ = _run(
        spark, pages, seeds, scraper, **_force_distributed(mode_kw))
    nodeq_digest, _, _, _ = _run(spark, pages, seeds, scraper,
                                 driver_dequeue=False, **mode_kw)
    assert fast_digest == slow_digest == nodeq_digest
    assert fast_items == slow_items
    assert [s.get("n_dequeued") for s in fast_sum] == \
        [s.get("n_dequeued") for s in slow_sum]
    assert [s.get("n_items") for s in fast_sum] == \
        [s.get("n_items") for s in slow_sum]
    return fast_fr


@pytest.mark.parametrize("mode_kw", [
    {},                            # window dequeue
    {"frontier_buckets": 8},       # bucketed dequeue
    {"adaptive_priority": True},   # adaptive window dequeue
    # outlink canonicalization runs inside the single-collect kernel job
    # on the fast path and after the outlink aggregation's input on the
    # distributed one
    {"canonicalize_outlinks": True},
    {"canonicalize_outlinks": "full"},
])
def test_driver_fast_paths_match_distributed(spark, pages, spec, mode_kw):
    _assert_paths_agree(spark, pages, _seeds(spec), **mode_kw)


HOSTLESS_CFG = """
scrapers:
  - name: hostless
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
      - name: link
        type: url
        can_be_empty: true
        location: {selector: a.more, attr: href}
"""

# hrefs the URL join keeps absolute but whose parse_url HOST is NULL
HOSTLESS_HREFS = ["http:///x", "https:///y/z"]


def test_hostless_outlinks_fast_matches_distributed(spark):
    """Outlinks without a host never reach the frontier, so every dequeue
    path schedules the same rows (the pandas dequeue would drop a NULL
    host that the Spark Window dequeues)."""
    from goskyr_spark.config import loads_config

    def item(t, href):
        return (f'<div class="e"><span class="t">{t}</span>'
                f'<a class="more" href="{href}">m</a></div>')

    hrefs = ["/detail/1", "mailto:m@a.test"] + HOSTLESS_HREFS
    rows = [("https://a.test/robots.txt", b"User-agent: *\nAllow: /\n"),
            ("https://a.test/list/1",
             "".join(item(f"i{i}", h) for i, h in enumerate(hrefs))
             .encode()),
            ("https://a.test/detail/1", item("d1", "http:///x").encode())]
    pages = spark.createDataFrame(rows, "url string, html binary")
    frontier = _assert_paths_agree(
        spark, pages, ["https://a.test/list/1"],
        lambda host: loads_config(HOSTLESS_CFG).scrapers[0])
    assert all(url and host for url, host in frontier), frontier
    assert {u for u, _ in frontier} == {
        "https://a.test/list/1", "https://a.test/detail/1",
        "https://a.test/list/mailto:m@a.test"}


def test_small_round_job_budget(spark):
    """A small mock round runs its fetch stage in at most one wave of
    task slots, whatever fetch_partitions says, and commits its new urls
    without a Spark job."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    spec = SynthSpec(n_hosts=40, pages_per_host=2, items_per_page=3,
                     hot_hosts=0, hot_factor=1)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    pages.count()
    wd = tempfile.mkdtemp(prefix="r7fp-")
    tag = f"jobbudget-{uuid.uuid4().hex[:8]}"
    try:
        eng = CrawlEngine(spark, wd, pages, event_scraper, _seeds(spec),
                          now=NOW, fetch_partitions=64, round_budget=10_000)
        eng.bootstrap()
        eng.run_round(0)
        commit = eng._commit_new_urls_driver
        calls = []

        def commit_in_own_group(pdf, round_no):
            calls.append(len(pdf))
            sc.setJobGroup(f"{tag}-new-urls", "new-url commit")
            try:
                return commit(pdf, round_no)
            finally:
                sc.setJobGroup(f"{tag}-round", "round")

        eng._commit_new_urls_driver = commit_in_own_group
        sc.setJobGroup(f"{tag}-round", "round")
        try:
            summary = eng.run_round(1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
        pages.unpersist()
    n = summary["n_dequeued"]
    assert calls and calls[0] > 0  # the driver commit ran, on real rows
    st = sc.statusTracker()
    assert list(st.getJobIdsForGroup(f"{tag}-new-urls")) == []
    # the round's last job is the single-collect kernel job; its result
    # stage is the fetch/extract stage
    last = st.getJobInfo(max(st.getJobIdsForGroup(f"{tag}-round")))
    fetch_tasks = st.getStageInfo(max(last.stageIds)).numTasks
    assert fetch_tasks <= slots
    assert fetch_tasks == min(slots, (n + 15) // 16)


def test_append_counted_empty_append_is_meta_only(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    from goskyr_spark.spark.store import SnapshotTable

    schema = StructType([StructField("a", StringType()),
                         StructField("b", LongType())])
    t = SnapshotTable(str(tmp_path), "t")
    n, files = t.append_counted(
        spark.createDataFrame([("x", 1)], schema).coalesce(1), {"round": 0})
    assert n == 1 and len(files) == 1
    head_before = t.head()
    n2, files2 = t.append_counted(spark.createDataFrame([], schema),
                                  {"round": 1})
    assert n2 == 0 and files2 == []
    # a meta commit happened, but no new files joined the manifest
    assert t.head() == head_before + 1
    assert len(t.manifest()["files"]) == 1
    assert t.row_count() == 1


def test_append_arrow_bucketed_records_bucket_map(tmp_path):
    import pyarrow as pa

    from goskyr_spark.spark.store import SnapshotTable

    t = SnapshotTable(str(tmp_path), "t")
    tables = {3: pa.table({"host": ["a"], "n": [1]}),
              7: pa.table({"host": ["b"], "n": [2]})}
    t.append_arrow_bucketed(tables, {"round": 0, "bucket_mod": 8})
    bm = t.bucket_map(expect_mod=8)
    assert sorted(bm.values()) == [3, 7]
    assert t.row_count() == 2
    # a reader expecting a different modulus must not trust these files
    assert t.bucket_map(expect_mod=16) == {}


def test_pq_train_joint_matches_per_subspace_reference(spark):
    """The joint-iteration pq_train must equal the definitional
    per-subspace training loop (slice, then ivf_train each subspace
    independently) — books and final stats bit-identical."""
    from pyspark.sql import functions as F

    from goskyr_spark.ops.similarity import ivf_train, pq_train
    from goskyr_spark.queries import embeddings

    emb = embeddings(spark, "/root/testdata/sf0.001")
    m, k, n_iter = 2, 4, 2
    books, stats = pq_train(emb, m=m, n_centroids=k, n_iter=n_iter)

    dim = len(emb.orderBy("vec_id").select("embedding").first()[0])
    d_sub = dim // m
    ref_books = []
    ref_stats = []
    for s in range(m):
        sub = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), s * d_sub + 1, d_sub)
            .alias("embedding"))
        cents, st = ivf_train(sub, n_centroids=k, n_iter=n_iter)
        ref_books.append(cents)
        ref_stats.extend(
            (s, int(r["centroid"]), int(r["i"]), int(r["sum_v"]),
             int(r["n_members"]))
            for r in st.collect())
    assert books == ref_books
    got = [(int(r["subspace"]), int(r["centroid"]), int(r["i"]),
            int(r["sum_v"]), int(r["n_members"]))
           for r in stats.collect()]
    assert got == sorted(ref_stats)


def test_minhash_capped_single_signature_pass(spark):
    """The capped LSH bucket query computes the shingle+signature
    aggregation exactly ONCE (the pre-round-7 three-branch form ran it
    three times — one full corpus pass per branch)."""
    import contextlib
    import io

    from goskyr_spark.queries import q_dedup_minhash_lsh_capped

    df = q_dedup_minhash_lsh_capped(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Scan parquet") // 2 <= 1, plan
