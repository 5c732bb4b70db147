"""End-to-end seed-replay parity: distributed engine vs reference simulator.

Mirrors the reference's e2e crawl test (test/crawl.js:51-68 asserting
against crawl-test.json): same seed list + politeness budget must yield
the same per-host fetch sequence, round-by-round frontier, and final
URL-seen set (SURVEY.md §7.3 invariant 3; FIXTURES.md §7 tier 2/3).
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators.crawler import CrawlEngine
from reffy_spark.sources import synthetic as syn
from reffy_spark.testing.simulator import simulate_crawl

N_PAGES = 60
N_SEEDS = 6
MAX_ROUNDS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    pages = syn.gen_pages(spark, N_PAGES, partitions=8).cache()
    seeds = syn.gen_seeds(spark, N_PAGES, N_SEEDS).cache()
    robots = syn.gen_robots(spark).cache()
    return pages, seeds, robots


@pytest.fixture(scope="module")
def sim(corpus):
    pages, seeds, robots = corpus
    pages_rows = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"])}
        for r in pages.collect()
    ]
    seed_urls = [r["url"] for r in seeds.orderBy("seed_idx").collect()]
    robots_rows = [r.asDict() for r in robots.collect()]
    return simulate_crawl(seed_urls, pages_rows, robots_rows, max_rounds=MAX_ROUNDS)


@pytest.fixture(scope="module")
def engine_result(spark, corpus, tmp_path_factory):
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    res = eng.crawl(seeds, max_rounds=MAX_ROUNDS)
    return res


def _engine_fetches(res):
    rows = res.results.select(
        "url_canon", "round", "host_group", "host_fetch_rank", "status", "depth"
    ).collect()
    return sorted((r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows)


def test_fetch_sequence_parity(engine_result, sim):
    got = _engine_fetches(engine_result)
    expected = sorted(sim.fetches)
    assert got == expected


def test_url_seen_parity(engine_result, sim):
    got = {
        r["url_canon"]: r["first_round"] for r in engine_result.url_seen.collect()
    }
    assert got == sim.url_seen


def test_crawl_order_is_seed_order(engine_result, corpus):
    _, seeds, _ = corpus
    seed_rows = engine_result.results.filter(F.col("seed_idx").isNotNull())
    ordered = seed_rows.orderBy("seed_idx").select("url_canon").collect()
    # seed output order == seed input order (W3)
    from reffy_spark.functions.urls import url_canon_py

    expected = [url_canon_py(r["url"]) for r in seeds.orderBy("seed_idx").collect()]
    got = [r["url_canon"] for r in ordered]
    assert got == [u for u in expected if u in set(got)]
    assert len(got) == len(set(got))


def test_links_table_matches_generator(engine_result, spark):
    # outgoing links of every fetched page == deterministic link_targets()
    links = engine_result.links.select("url_canon", "page_url").distinct().collect()
    by_src = {}
    for r in links:
        by_src.setdefault(r["url_canon"], set()).add(r["page_url"])
    import re

    checked = 0
    for src, targets in by_src.items():
        m = re.search(r"spec-(\d+)/$", src)
        if not m:
            continue  # collapsed canonical (whatwg root): content id ambiguous
        i = int(m.group(1))
        expect = {syn.url_of_page(t) for t in syn.link_targets(i, N_PAGES)}
        # the .head repo link must have been EXCLUDED by the extractor
        assert f"https://github.example/repo-{i}" not in targets
        assert targets == expect, src
        checked += 1
    assert checked > 5


def test_bloom_cuckoo_and_exact_paths_agree(spark, corpus, monkeypatch):
    # all three URL-seen membership structures (exact anti-join, bloom
    # split, cuckoo-filter split) must produce identical crawls; the
    # bloom is forced on at this small seen set (threshold 0)
    from reffy_spark.operators import frontier as FR

    monkeypatch.setattr(FR, "BLOOM_MIN_ITEMS", 0)
    pages, seeds, robots = corpus
    res_b = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=True, collect_metrics=False
    ).crawl(seeds, max_rounds=2)
    res_e = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False, collect_metrics=False
    ).crawl(seeds, max_rounds=2)
    res_c = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom="cuckoo",
        collect_metrics=False,
    ).crawl(seeds, max_rounds=2)
    assert _engine_fetches(res_b) == _engine_fetches(res_e)
    assert _engine_fetches(res_c) == _engine_fetches(res_e)
    seen_e = sorted(r["url_canon"] for r in res_e.url_seen.collect())
    assert sorted(r["url_canon"] for r in res_b.url_seen.collect()) == seen_e
    assert sorted(r["url_canon"] for r in res_c.url_seen.collect()) == seen_e


def test_resume_equals_uninterrupted(
    spark, corpus, tmp_path_factory, engine_result, monkeypatch
):
    # bloom forced on at this small seen set (threshold 0): resume must
    # rebuild it from the loaded seen set and keep folding into it
    from reffy_spark.operators import frontier as FR

    monkeypatch.setattr(FR, "BLOOM_MIN_ITEMS", 0)
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_resume"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    eng.crawl(seeds, max_rounds=2)
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    assert _engine_fetches(resumed) == _engine_fetches(engine_result)
    got = {r["url_canon"]: r["first_round"] for r in resumed.url_seen.collect()}
    want = {
        r["url_canon"]: r["first_round"] for r in engine_result.url_seen.collect()
    }
    assert got == want


def test_round_metrics_lineage(engine_result):
    ms = engine_result.metrics
    assert len(ms) >= 2
    for m in ms:
        assert m.selected == m.fetched + m.errors
        assert sum(m.per_host_group.values()) == m.selected


def test_css_hiccup_page_yields_error_result(spark):
    # util.js:597-602 / test/crawl.js:178: a drafts-server directory
    # listing ("Index of …" h1) must produce an error result, not a
    # bogus extract
    hiccup_html = (
        b"<html><body><h1>Index of /css-sizing/</h1>"
        b"<pre>../  Overview.html</pre></body></html>"
    )
    ok_html = (
        b'<html><head><title>Good Spec</title></head>'
        b'<body><h1>Good Spec</h1><p><a href="https://w.test/x/">x</a></p>'
        b"</body></html>"
    )
    pages = spark.createDataFrame(
        [
            ("https://drafts.test/hiccup/", hiccup_html),
            ("https://drafts.test/good/", ok_html),
        ],
        "url string, html binary",
    )
    robots = spark.createDataFrame(
        [("drafts.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    eng = CrawlEngine(
        spark, pages, robots, modules=["links", "title"],
        use_bloom=False, collect_metrics=True, discover=False,
    )
    res = eng.crawl(pages.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in res.results.collect()}
    bad = rows["https://drafts.test/hiccup/"]
    good = rows["https://drafts.test/good/"]
    assert bad["status"] == "error"
    assert bad["crawl_error"] == "CSS server issue detected"
    assert bad["title"] is None and bad["links"] is None
    assert good["status"] == "ok"
    assert good["crawl_error"] is None
    assert "Good Spec" in good["title"]
    # hiccups count as errors in the round metrics
    assert res.metrics[0].errors == 1 and res.metrics[0].fetched == 1


def test_results_carry_crawl_cache_info(engine_result, corpus):
    # crawlCacheInfo analog (specs-crawler.js:87-98): every ok result
    # carries etag (content digest) + last_modified (capture timestamp)
    import hashlib

    pages, _, _ = corpus
    by_canon = {}
    from reffy_spark.functions.urls import url_canon_py

    for r in pages.collect():
        c = url_canon_py(r["url"])
        prev = by_canon.get(c)
        if prev is None or (r["warc_ts"], r["url"]) > (prev[0], prev[2]):
            by_canon[c] = (r["warc_ts"], bytes(r["html"]), r["url"])
    ok = engine_result.results.filter(F.col("status") == "ok").select(
        "url_canon", "etag", "last_modified"
    )
    n = 0
    for r in ok.collect():
        ts, html, _u = by_canon[r["url_canon"]]
        assert r["etag"] == hashlib.md5(html).hexdigest()
        assert r["last_modified"] == ts
        n += 1
    assert n > 5


def test_resume_keeps_prior_cache_info(spark, corpus, tmp_path_factory):
    # a resumed crawl re-reads prior rounds' results from checkpoints:
    # pages fetched before the interruption keep their original cache
    # info (the reference reuses fallback.crawlCacheInfo when the
    # crawler version matches, specs-crawler.js:87-98)
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_cache"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    first = eng.crawl(seeds, max_rounds=2)
    prior = {
        r["url_canon"]: (r["etag"], r["last_modified"])
        for r in first.results.filter(F.col("status") == "ok")
        .select("url_canon", "etag", "last_modified")
        .collect()
    }
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    after = {
        r["url_canon"]: (r["etag"], r["last_modified"])
        for r in resumed.results.filter(F.col("status") == "ok")
        .select("url_canon", "etag", "last_modified")
        .collect()
    }
    assert prior  # sanity: the interrupted crawl fetched something
    for canon, info in prior.items():
        assert after[canon] == info


def test_fallback_reuse_skips_unchanged_pages(spark):
    # test/crawl.js:114 "skips processing and reuse fallback data when
    # spec cache info indicates it has not changed" + :146 "reports
    # errors and returns fallback data when possible"
    def page(i, v=1):
        return (
            f"https://fb.test/s{i}/",
            f"<html><head><title>S{i} v{v}</title></head>"
            f"<body><h1>S{i}</h1></body></html>".encode(),
        )

    robots = spark.createDataFrame(
        [("fb.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    pages_v1 = spark.createDataFrame(
        [page(i) for i in range(6)], "url string, html binary"
    )
    first = CrawlEngine(
        spark, pages_v1, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages_v1.select("url"), max_rounds=1)
    fallback = first.results
    # tamper one unchanged page's stored title: the recrawl must carry
    # the SENTINEL through (proof extraction was skipped, not re-run)
    fallback = fallback.withColumn(
        "title",
        F.when(
            F.col("url_canon") == "https://fb.test/s1/", F.lit('"SENTINEL"')
        ).otherwise(F.col("title")),
    )

    # v2: page 0 changed, page 5 gone, others identical
    pages_v2 = spark.createDataFrame(
        [page(0, v=2)] + [page(i) for i in range(1, 5)],
        "url string, html binary",
    )
    second = CrawlEngine(
        spark, pages_v2, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, fallback=fallback,
    ).crawl(pages_v1.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in second.results.collect()}

    changed = rows["https://fb.test/s0/"]
    assert changed["status"] == "ok" and not changed["from_fallback"]
    assert "v2" in changed["title"]
    sentinel = rows["https://fb.test/s1/"]
    assert sentinel["from_fallback"] and sentinel["title"] == '"SENTINEL"'
    for i in (2, 3, 4):
        r = rows[f"https://fb.test/s{i}/"]
        assert r["from_fallback"] and r["status"] == "ok"
        assert f"S{i} v1" in r["title"]
    gone = rows["https://fb.test/s5/"]
    assert gone["status"] == "notfound" and gone["from_fallback"]
    assert f"S5 v1" in gone["title"]  # fallback data returned with the error


def test_redirect_drops_cache_info_and_records_final_url(spark):
    # test/crawl.js:128-135 "does not return cache info when a
    # redirection took place" + specs-crawler.js:140-152: the result's
    # `crawled` is the post-redirect URL, cache info is dropped (it
    # belongs to the initial URL), and the page content IS extracted.
    def page(i, final=None, title=None):
        return (
            f"https://rd.test/s{i}/",
            f"<html><head><title>{title or f'S{i}'}</title></head>"
            f"<body><h1>x</h1></body></html>".encode(),
            final,
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    pages = spark.createDataFrame(
        [
            page(0),  # plain page: final_url NULL
            page(1, final="https://moved.test/new-home/",
                 title="Recently updated"),  # redirected
            page(2, final="https://rd.test/s2/"),  # final == request: no redirect
        ],
        "url string, html binary, final_url string",
    )
    res = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in res.results.collect()}

    plain = rows["https://rd.test/s0/"]
    assert plain["crawled"] == "https://rd.test/s0/"
    assert plain["etag"] is not None and plain["status"] == "ok"

    moved = rows["https://rd.test/s1/"]
    assert moved["crawled"] == "https://moved.test/new-home/"
    assert moved["status"] == "ok"
    assert "Recently updated" in moved["title"]  # content still extracted
    assert moved["etag"] is None and moved["last_modified"] is None

    same = rows["https://rd.test/s2/"]  # explicit final equal to request
    assert same["crawled"] == "https://rd.test/s2/"
    assert same["etag"] is not None


def test_redirect_disables_fallback_reuse(spark):
    # A redirected page must be re-extracted even when its content digest
    # matches the fallback crawl's etag — the cache info is untrusted.
    def mk_pages(final):
        return spark.createDataFrame(
            [("https://rd.test/s0/",
              b"<html><head><title>Same bytes</title></head></html>",
              final)],
            "url string, html binary, final_url string",
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    first = CrawlEngine(
        spark, mk_pages(None), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(mk_pages(None).select("url"), max_rounds=1)
    fallback = first.results.withColumn("title", F.lit('"SENTINEL"'))

    second = CrawlEngine(
        spark, mk_pages("https://moved.test/"), robots, modules=["title"],
        use_bloom=False, collect_metrics=False, discover=False,
        fallback=fallback,
    ).crawl(mk_pages(None).select("url"), max_rounds=1)
    row = second.results.collect()[0]
    # same bytes, but redirected → no reuse: fresh extraction, no sentinel
    assert not row["from_fallback"]
    assert "Same bytes" in row["title"]
    assert row["crawled"] == "https://moved.test/"
    assert row["etag"] is None


def test_redirect_not_confused_by_canonicalization(spark):
    # specs-crawler.js:144-146 compares result.crawled against the RAW
    # request URL, not its canonicalization: a page whose URL changes
    # only under canonicalization (http→https, index.html strip) but
    # lands exactly where requested is NOT a redirect — cache info must
    # be kept (the r5 comparison against url_canon misclassified these,
    # permanently disabling etag reuse for them).
    raw = "http://rd.test/s3/index.html"  # canon → https://rd.test/s3/
    pages = spark.createDataFrame(
        [(raw, b"<html><head><title>Stable</title></head></html>", raw)],
        "url string, html binary, final_url string",
    )
    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    res = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages.select("url"), max_rounds=1)
    row = res.results.collect()[0]
    assert row["url_canon"] == "https://rd.test/s3/"
    assert row["crawled"] == raw          # the landed (raw) URL
    assert row["etag"] is not None        # NOT misclassified as redirect
    assert row["status"] == "ok"


def test_redirect_preserves_fallback_reuse_for_canon_rewrites(spark):
    # follow-on: an unchanged page behind a canonicalizing URL must still
    # hit the etag-reuse short-circuit on recrawl
    raw = "http://rd.test/s4/index.html"

    def mk():
        return spark.createDataFrame(
            [(raw, b"<html><head><title>Same</title></head></html>", raw)],
            "url string, html binary, final_url string",
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    first = CrawlEngine(
        spark, mk(), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(mk().select("url"), max_rounds=1)
    fallback = first.results.withColumn("title", F.lit('"SENTINEL"'))
    second = CrawlEngine(
        spark, mk(), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, fallback=fallback,
    ).crawl(mk().select("url"), max_rounds=1)
    row = second.results.collect()[0]
    assert row["from_fallback"] and row["title"] == '"SENTINEL"'


def test_commit_pool_retired_after_crawl(spark, corpus):
    # ADVICE r5: the async-commit pool must not leak its two non-daemon
    # threads once the round loop exits (normal path)
    import threading

    pages, seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=True,
    )
    res = eng.crawl(seeds, max_rounds=3)
    res.results.count()  # consume
    assert eng._commit_pool is None
    assert eng._deferred == []
    live = [
        t.name for t in threading.enumerate()
        if t.name.startswith("reffy-state-commit") and t.is_alive()
    ]
    assert live == []


def test_async_commit_failure_surfaces_and_engine_recovers(spark, corpus):
    # Crash between an async commit's submit and the next round's join:
    # the error must surface (not be abandoned in an unobserved future),
    # the pool must be shut down, and the engine must stay reusable —
    # a rerun equals the uninterrupted crawl (ephemeral crawls have no
    # checkpoint, so "resume" == rerun-from-seeds).
    import threading

    pages, seeds, robots = corpus
    baseline = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    want = _engine_fetches(baseline)

    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )
    orig = eng._materialize

    def boom(df, name, rnd, durable=True):
        if threading.current_thread().name.startswith("reffy-state-commit"):
            raise RuntimeError("injected mid-commit crash")
        return orig(df, name, rnd, durable)

    eng._materialize = boom
    with pytest.raises(RuntimeError, match="injected mid-commit crash"):
        eng.crawl(seeds, max_rounds=3)
    assert eng._commit_pool is None and eng._deferred == []

    eng._materialize = orig
    rerun = eng.crawl(seeds, max_rounds=3)
    assert _engine_fetches(rerun) == want


def test_resume_after_torn_round_commit(
    spark, corpus, tmp_path_factory, engine_result, monkeypatch
):
    # Crash INSIDE a round's commit sequence: round=2's results were
    # written but the crash hit before its seen/frontier state landed.
    # resume() must treat round 2 as never-happened (its seen marker is
    # the commit point), redo it, and end up equal to the uninterrupted
    # crawl — no lost and no duplicated round.
    # The bloom is forced on (threshold 0) so the rebuild from the loaded
    # seen set after a torn round is covered too.
    import os
    import shutil

    from reffy_spark.operators import frontier as FR

    monkeypatch.setattr(FR, "BLOOM_MIN_ITEMS", 0)
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_torn"))
    CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).crawl(seeds, max_rounds=MAX_ROUNDS)
    # tear round 2's commit: state tables gone, results (written earlier
    # in the round) remain; later rounds never happened
    for r in range(2, MAX_ROUNDS + 1):
        for name in ("seen", "frontier") + (("results",) if r > 2 else ()):
            p = os.path.join(chk, f"round={r}", name)
            if os.path.exists(p):
                shutil.rmtree(p)
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    assert _engine_fetches(resumed) == _engine_fetches(engine_result)
    got = {r["url_canon"]: r["first_round"] for r in resumed.url_seen.collect()}
    want = {
        r["url_canon"]: r["first_round"]
        for r in engine_result.url_seen.collect()
    }
    assert got == want


def test_seen_filter_built_once_not_per_round(spark, corpus, monkeypatch):
    """Incremental URL-seen lifecycle: across a multi-round discovery
    crawl whose seen set stays under the epoch-rebuild threshold, the
    full-scan builds (static cuckoo table / bloom fold over seen) run
    exactly ONCE — round N+1 inserts only new_urls, never re-scanning
    the seen set. (Growth past 2x triggers an explicit doubling rebuild,
    covered in test_cuckoo.test_epoch_rebuild_doubles_m.)"""
    pages, _seeds, robots = corpus
    # seed most of the graph so seen grows < 2x (no doubling epoch)
    big_seeds = syn.gen_seeds(spark, N_PAGES, 40)

    from reffy_spark.operators import cuckoo as CK
    from reffy_spark.operators import frontier as FR

    calls = {"cuckoo_table": 0, "build_bloom": 0, "fold_bloom": 0}
    real_ct, real_bb, real_fb = CK.cuckoo_table, FR.build_bloom, FR.fold_bloom

    def ct(*a, **k):
        calls["cuckoo_table"] += 1
        return real_ct(*a, **k)

    def bb(*a, **k):
        calls["build_bloom"] += 1
        return real_bb(*a, **k)

    def fb(*a, **k):
        calls["fold_bloom"] += 1
        return real_fb(*a, **k)

    monkeypatch.setattr(CK, "cuckoo_table", ct)
    monkeypatch.setattr(FR, "build_bloom", bb)
    monkeypatch.setattr(FR, "fold_bloom", fb)
    # force the bloom on at this small seen set
    monkeypatch.setattr(FR, "BLOOM_MIN_ITEMS", 0)

    res_c = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom="cuckoo",
        collect_metrics=False,
    ).crawl(big_seeds, max_rounds=3)
    n_c = res_c.url_seen.count()
    assert calls["cuckoo_table"] == 1, calls

    res_b = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=True,
        collect_metrics=False,
    ).crawl(big_seeds, max_rounds=3)
    # build_bloom itself calls fold_bloom once; every later fold is an
    # incremental new_urls fold, never a rebuild
    assert calls["build_bloom"] == 1, calls
    assert calls["fold_bloom"] >= 1
    assert res_b.url_seen.count() == n_c

    res_e = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    ).crawl(big_seeds, max_rounds=3)
    assert res_e.url_seen.count() == n_c
    assert _engine_fetches(res_c) == _engine_fetches(res_e)
    assert _engine_fetches(res_b) == _engine_fetches(res_e)


def test_small_seen_set_skips_bloom(spark, corpus, monkeypatch):
    """Below ``BLOOM_MIN_ITEMS`` the default engine (use_bloom=True) never
    builds or folds a bloom, and crawls exactly like the exact path."""
    pages, seeds, robots = corpus
    from reffy_spark.operators import frontier as FR

    calls = []
    monkeypatch.setattr(FR, "build_bloom", lambda *a, **k: calls.append("build"))
    monkeypatch.setattr(FR, "fold_bloom", lambda *a, **k: calls.append("fold"))

    res_b = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=True,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    res_e = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    assert res_b.url_seen.count() < FR.BLOOM_MIN_ITEMS
    assert calls == []
    assert _engine_fetches(res_b) == _engine_fetches(res_e)
    seen_e = sorted(r["url_canon"] for r in res_e.url_seen.collect())
    assert sorted(r["url_canon"] for r in res_b.url_seen.collect()) == seen_e
