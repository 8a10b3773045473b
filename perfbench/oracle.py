"""Correctness gates: what the synthetic web says the engine must output.

Every check is a pure function of rows the benchmark read back from the
engine and of the `SynthSpec` that generated the input, and returns a
list of error strings (empty = pass), so the self-tests can feed it a
deliberately corrupted row and see it fail.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urlsplit

_DESC_RE = re.compile(r'<div class="desc">([^<]*)</div>')


def crawl_digest(fetched_rows, seen_urls):
    """Order-sensitive digest of a crawl's observable state, computed the
    way the repository's bench.py does: every fetched row as
    ``round|fetch_seq|url|status`` in (round, fetch_seq) order, then the
    seen set in url order; sha256, first 16 hex digits."""
    h = hashlib.sha256()
    for r in sorted(fetched_rows, key=lambda r: (r[0], r[1])):
        h.update(f"{r[0]}|{r[1]}|{r[2]}|{r[3]}".encode())
    for u in sorted(seen_urls):
        h.update(u.encode())
    return h.hexdigest()[:16]


def expected_items(spec, host_of_index, subpage=False):
    """{(page_url, item_idx): (title, genre, date_micros[, desc])} for
    every list page of the spec, as `SynthSpec.event_fields` renders it.
    ``host_of_index(h)`` gives the page-url prefix of host h."""
    out = {}
    for h in range(spec.n_hosts):
        for p in range(1, spec.list_pages[h] + 1):
            page_url = f"{host_of_index(h)}/list/{p}"
            for i in range(1, spec.items_per_page + 1):
                title, genre, _when, dt = spec.event_fields(h, p, i)
                val = (title, genre, int(dt.timestamp()) * 1_000_000)
                if subpage:
                    val += (detail_desc(spec, h, p, i),)
                out[(page_url, i - 1)] = val
    return out


def detail_desc(spec, h, p, i):
    html, _text, _lang = spec.render(h, "detail", p, i)
    return _DESC_RE.search(html).group(1)


def check_items(expected, rows, subpage=False):
    """``rows``: (page_url, item_idx, title, genre, date_micros[, desc]).
    Every expected item must appear exactly once with the rendered
    values, and nothing else may appear."""
    errors = []
    seen = set()
    width = 4 if subpage else 3
    for r in rows:
        key = (r[0], r[1])
        if key in seen:
            errors.append(f"duplicate item {key}")
            continue
        seen.add(key)
        want = expected.get(key)
        if want is None:
            errors.append(f"unexpected item {key}")
        elif tuple(r[2:2 + width]) != want:
            errors.append(f"item {key}: got {tuple(r[2:2 + width])!r}, "
                          f"want {want!r}")
        if len(errors) > 20:
            break
    missing = len(expected) - len(seen & expected.keys())
    if missing:
        errors.append(f"{missing} expected items missing")
    return errors


def predicted_status(url, robots_blocked):
    """Status the synthetic web predicts for a fetched url: ``robots``
    when the host's robots.txt disallows the path, else ``ok``."""
    sp = urlsplit(url)
    for prefix in robots_blocked.get(sp.hostname, ()):
        if sp.path.startswith(prefix):
            return "robots"
    return "ok"


def mock_robots_blocked(spec, host_name):
    """Disallowed path prefixes per host, as `SynthSpec.render` writes
    them into each host's robots.txt."""
    out = {}
    for h in range(spec.n_hosts):
        body, _t, _l = spec.render(h, "robots", 0, 0)
        out[host_name(h)] = [ln.split(":", 1)[1].strip()
                             for ln in body.splitlines()
                             if ln.startswith("Disallow:")]
    return out


def status_failures(fetched_rows, robots_blocked):
    """Fetched rows (round, fetch_seq, url, status) whose status is not
    the one the generator predicts (missing pages, fetch errors)."""
    return [r for r in fetched_rows
            if r[3] != predicted_status(r[2], robots_blocked)]


def check_politeness(log, crawl_delay, slack=0.001):
    """``log``: (arrival_time, host, path) per request, in arrival
    order. Per host, robots.txt must be requested before any page, and
    consecutive requests must arrive at least ``crawl_delay`` apart.
    ``slack`` absorbs loopback delivery jitter between two requests
    (well under a millisecond on one keep-alive connection)."""
    errors = []
    by_host = {}
    for t, host, path in log:
        by_host.setdefault(host, []).append((t, path))
    for host, reqs in by_host.items():
        if reqs[0][1] != "/robots.txt":
            errors.append(f"{host}: {reqs[0][1]} before robots.txt")
        for (t0, _p0), (t1, p1) in zip(reqs, reqs[1:]):
            if t1 - t0 < crawl_delay - slack:
                errors.append(f"{host}: {p1} {1000 * (t1 - t0):.1f} ms "
                              f"after the previous request "
                              f"(crawl-delay {1000 * crawl_delay:.0f} ms)")
    return errors
