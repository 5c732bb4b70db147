"""Expected crawl outputs, computed once per seed outside the timed window,
and the comparison that turns one crawl's rows into a failure count.

One operation is one canonical URL the workload expects a terminal row
for. It fails if its row is missing or wrong, carries an unexpected
``error`` status, has sampled extracts that differ from
``extract_page``, or (recrawl) is reused when it changed or re-extracted
when it did not. Rows for URLs nobody expected and URL-seen entries that
differ from the reference each add one failure.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

import pandas as pd

from reffy_spark.extractors.base import extract_page
from reffy_spark.testing.simulator import simulate_crawl

from perfbench.world import Corpus

SAMPLE = 8  # extract-checked rows per crawl


@dataclass
class Expected:
    # url_canon -> (round, host_fetch_rank, status, depth)
    rows: dict[str, tuple]
    url_seen: dict[str, int] | None  # discovery only
    # url_canon -> {module: json string} for the sampled ok rows
    extracts: dict[str, dict[str, str]]
    reused: set[str] | None  # recrawl only


def _json(v) -> str:
    return json.dumps(v, ensure_ascii=False, sort_keys=False)


def expected_outputs(
    corpus: Corpus, modules: list[str], round_ms: int, max_rounds: int, seed: int
) -> Expected:
    multi_round = max_rounds > 1
    # a single round never parses a page for links, so the reference
    # simulator only needs to know which canonical URLs exist
    pages = [
        {"url": p["url"], "warc_ts": p["warc_ts"], "html": p["html"] if multi_round else b""}
        for p in corpus.pages
    ]
    sim = simulate_crawl(corpus.seeds, pages, corpus.robots, round_ms=round_ms, max_rounds=max_rounds)
    rows = {c: (rnd, rank, status, depth) for c, rnd, _g, rank, status, depth in sim.fetches}
    ok = sorted(c for c, r in rows.items() if r[2] == "ok")
    sample = random.Random(seed).sample(ok, min(SAMPLE, len(ok)))
    reused = None
    if corpus.unchanged is not None:
        reused = corpus.unchanged & set(rows)
        fb = {r["url_canon"]: r for r in corpus.fallback}
    extracts = {}
    for c in sample:
        if reused is not None and c in reused:
            extracts[c] = {m: fb[c].get(m) for m in modules}
            continue
        page = corpus.freshest[c]
        res = extract_page(
            page["html"],
            c,
            modules,
            # the Arrow stage hands extractors a naive UTC timestamp
            last_modified=pd.Timestamp(page["warc_ts"]).tz_convert("UTC").tz_localize(None),
            with_error=True,
        )
        extracts[c] = {m: _json(res[m]) for m in modules}
    return Expected(rows, sim.url_seen if multi_round else None, extracts, reused)


def count_failures(exp: Expected, got: list, seen: dict | None) -> int:
    """``got``: collected rows with url_canon, round, host_fetch_rank,
    status, depth, from_fallback and (sampled rows only) module JSON."""
    failed = 0
    by_url = {}
    for r in got:
        if r["url_canon"] in by_url:
            failed += 1  # a URL fetched twice
        by_url[r["url_canon"]] = r
    for c, want in exp.rows.items():
        r = by_url.get(c)
        if r is None or (r["round"], r["host_fetch_rank"], r["status"], r["depth"]) != want:
            failed += 1
            continue
        if exp.reused is not None and bool(r["from_fallback"]) != (c in exp.reused):
            failed += 1
            continue
        sample = exp.extracts.get(c)
        if sample is not None and any(r[m] != v for m, v in sample.items()):
            failed += 1
    failed += len(set(by_url) - set(exp.rows))
    if exp.url_seen is not None:
        seen = seen or {}
        failed += sum(1 for c in set(seen) | set(exp.url_seen) if seen.get(c) != exp.url_seen.get(c))
    return failed
