"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/tests -q

They check that the printed metric names are the ones BENCHMARK.json
lists, that the correctness gates reject corrupted output, and that the
traced run's spans nest and report the tracing overhead. Each tiny run
starts its own Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")
sys.path.insert(0, ROOT)

from perfbench import oracle, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
LISTED = [w["name"] for w in BENCH["workloads"]]
ALL = sorted(workloads.WORKLOADS)


def _lines(stdout):
    return [json.loads(ln) for ln in stdout.strip().splitlines()
            if ln.startswith("{")]


@pytest.fixture(scope="module")
def tiny_runs():
    """Every workload at tiny size, traced and untraced, in its own
    process: {(workload, trace): [json lines]}."""
    out = {}
    for w in ALL:
        for trace in (0, 1):
            if trace == 0 and w not in LISTED:
                continue
            p = subprocess.run(
                [sys.executable, RUN, "--workload", w, "--seed", "5",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, p.stderr[-3000:]
            out[(w, trace)] = _lines(p.stdout)
    return out


def test_metric_names_match_benchmark_json(tiny_runs):
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    for (w, trace), lines in tiny_runs.items():
        result = lines[-1]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        want = layer if trace else e2e
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (w, trace)
        assert result["attempted"] >= 1


def test_tiny_runs_pass_their_gates(tiny_runs):
    for (w, trace), lines in tiny_runs.items():
        if w == "crawl_live":
            # the engine breaks Crawl-delay (README, "crawl_live"): the
            # politeness gate may fail there, every other gate must pass
            errs = next(ln["check_errors"] for ln in lines
                        if "check_errors" in ln)
            assert all("after the previous request" in e for e in errs), \
                errs
            continue
        assert lines[-1]["correct"], (w, trace, lines[-2])
        assert lines[-1]["failed"] == 0


def test_traced_spans_nest_and_overhead_is_reported(tiny_runs):
    for w in ALL:
        lines = tiny_runs[(w, 1)]
        trace = next(ln["trace"] for ln in lines if "trace" in ln)
        assert trace["spans"] > 0
        assert trace["nesting_errors"] == [], w
        names = set(trace["by_name"])
        assert "trace.overhead_frac" in lines[-1]["metrics"]
        assert any(n.startswith("kernels.") for n in names), w
        if w.startswith("crawl"):
            for prefix in ("crawl.run_round", "crawl.phase.", "store.",
                           "seen.", "spark.job"):
                assert any(n.startswith(prefix) for n in names), (w, prefix)
        else:
            assert "pipeline.stage1" in names


def test_tracer_nesting_detects_escaped_child():
    tr = Tracer()
    with tr.span("parent") as p:
        with tr.span("child"):
            pass
    assert tr.nesting_errors() == []
    count, total, self_s = tr.totals()["parent"]
    assert count == 1 and 0 <= self_s <= total
    late = tr.add_span("late", p["end"] + 1, p["end"] + 2, None)
    late["parent"] = p["id"]
    assert tr.nesting_errors() == [("late", "outside parent")]


# --- the gates are not vacuous ------------------------------------------------------


def _spec():
    return workloads.make_spec("crawl_wide", 7, "tiny")


def _good_rows(spec, prefix, subpage=False):
    exp = oracle.expected_items(spec, prefix, subpage=subpage)
    return [k + v for k, v in sorted(exp.items())], exp


@pytest.mark.parametrize("subpage", [False, True])
def test_item_oracle_rejects_corruption(subpage):
    spec = _spec()
    rows, exp = _good_rows(spec, lambda h: f"https://h{h}", subpage)
    assert oracle.check_items(exp, rows, subpage=subpage) == []
    for col in range(2, len(rows[0])):
        bad = [list(r) for r in rows]
        bad[3][col] = bad[3][col] + (1 if isinstance(bad[3][col], int)
                                     else "x")
        assert oracle.check_items(exp, [tuple(r) for r in bad],
                                  subpage=subpage)
    assert oracle.check_items(exp, rows[1:], subpage=subpage)
    assert oracle.check_items(exp, rows + rows[:1], subpage=subpage)


def test_item_oracle_follows_the_seed():
    spec = _spec()
    other = workloads.make_spec("crawl_wide", 8, "tiny")
    rows, _ = _good_rows(spec, lambda h: f"https://h{h}")
    _, exp_other = _good_rows(other, lambda h: f"https://h{h}")
    assert oracle.check_items(exp_other, rows)


def test_digest_and_status_checks_reject_corruption():
    fetched = [(0, 1, "https://a.test/list/1", "ok"),
               (0, 2, "https://b.test/event/1/1", "robots")]
    seen = ["https://a.test/list/1", "https://b.test/event/1/1"]
    d = oracle.crawl_digest(fetched, seen)
    assert oracle.crawl_digest(list(reversed(fetched)), seen) == d
    assert oracle.crawl_digest(fetched[:1] + [(0, 2, fetched[1][2], "ok")],
                               seen) != d
    assert oracle.crawl_digest(fetched, seen[:1]) != d
    blocked = {"b.test": ["/event/"]}
    assert oracle.status_failures(fetched, blocked) == []
    assert len(oracle.status_failures(
        [(0, 1, "https://a.test/list/1", "missing")], blocked)) == 1


def test_politeness_check_rejects_fast_or_robots_less_hosts():
    good = [(0.00, "h", "/robots.txt"), (0.03, "h", "/list/1"),
            (0.06, "h", "/list/2")]
    assert oracle.check_politeness(good, 0.02) == []
    assert oracle.check_politeness(good[1:], 0.02)
    fast = good[:2] + [(0.035, "h", "/list/2")]
    assert oracle.check_politeness(fast, 0.02)


def test_corrupted_crawl_output_fails_the_run(monkeypatch):
    """End to end: flip one fetched status and one item title that a
    tiny crawl read back; the run must report every page as failed."""
    from perfbench import run

    orig = workloads.CrawlWorkload._read_outputs

    def corrupt(self, eng):
        fetched, seen, items = orig(self, eng)
        r = fetched[0]
        fetched[0] = (r[0], r[1], r[2], "missing")
        i = items[0]
        items[0] = (i[0], i[1], i[2] + "!") + i[3:]
        return fetched, seen, items

    monkeypatch.setattr(workloads.CrawlWorkload, "_read_outputs", corrupt)
    # run.main points TMPDIR at its own scratch directory
    monkeypatch.setenv("TMPDIR", os.environ.get("TMPDIR", "/tmp"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main(["--workload", "crawl_deep", "--seed", "3", "--seconds",
                  "1", "--trace", "0", "--size", "tiny"])
    lines = _lines(buf.getvalue())
    result = lines[-1]
    errors = next(ln["check_errors"] for ln in lines
                  if "check_errors" in ln)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] > 0
    assert any("digest" in e for e in errors)
    assert any("item" in e for e in errors)
