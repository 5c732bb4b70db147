"""Per-layer metrics of the traced run.

Each layer is named after the module it lives in and measured from
outside: spans around the calls into its public functions, Spark jobs
attributed to those spans through the job group this file sets on its
own thread, and isolated calls on the workload's own state shapes, each
forced through Spark's ``noop`` sink.

``PER_LAYER`` lists every metric with the end-to-end metric and workload
it should move; ``run.py --trace 1`` prints them all, and prints the
mapping as comment lines.
"""

from __future__ import annotations

import json
import random
import re
import statistics
import time

from perfbench.probes import covered, spark_metrics

# (name, unit, better, what it should move)
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("crawler.init_s", "s", "lower", "crawl_s on recrawl_reuse"),
    ("crawler.drive_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("crawler.collect_s", "s", "lower", "crawl_s on replay_extract/spec_extract"),
    ("crawler.init_self_s", "s", "lower", "crawl_s on recrawl_reuse (init time outside Spark jobs)"),
    ("crawler.drive_self_s", "s", "lower", "crawl_s on discovery_crawl (plan building outside Spark jobs)"),
    ("crawler.collect_self_s", "s", "lower", "crawl_s on replay_extract (action time outside Spark jobs)"),
    ("crawler.rounds", "count", "lower", "exact count; crawl_s on discovery_crawl"),
    ("crawler.urls_ok", "count", "higher", "exact count"),
    ("crawler.urls_notfound", "count", "lower", "exact count"),
    ("crawler.urls_reused", "count", "higher", "exact count; crawl_s on recrawl_reuse"),
    ("crawler.reuse_frac", "ratio", "higher", "crawl_s on recrawl_reuse"),
    ("crawler.ckpt_mb", "MB", "lower", "crawl_s on recrawl_reuse"),
    ("crawler.ckpt_files", "count", "lower", "crawl_s on recrawl_reuse"),
    ("spark.jobs", "count", "lower", "crawl_s on discovery_crawl; flat on replay_extract"),
    ("spark.jobs_per_round", "count", "lower", "crawl_s on discovery_crawl"),
    ("spark.stages", "count", "lower", "crawl_s on discovery_crawl; flat on replay_extract"),
    ("spark.tasks", "count", "lower", "crawl_s on discovery_crawl"),
    ("spark.task_failures", "count", "lower", "failed operations, all workloads"),
    ("spark.shuffle_read_mb", "MB", "lower", "crawl_s on discovery_crawl/recrawl_reuse"),
    ("spark.shuffle_write_mb", "MB", "lower", "crawl_s on discovery_crawl/recrawl_reuse"),
    ("spark.spill_mb", "MB", "lower", "crawl_s, all workloads"),
    ("spark.executor_run_s", "s", "lower", "crawl_s, all workloads"),
    ("spark.executor_cpu_s", "s", "lower", "cpu_s_per_kurl on replay_extract/spec_extract"),
    ("spark.gc_s", "s", "lower", "cpu_s_per_kurl on replay_extract/spec_extract"),
    ("spark.slot_busy_share", "ratio", "higher", "crawl_s on discovery_crawl"),
    ("spark.cached_mb_after", "MB", "lower", "cache_peak_mb, all workloads"),
    ("frontier.to_frontier_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("frontier.apply_robots_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("frontier.politeness_rank_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("frontier.filter_unseen_bloom_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("frontier.filter_unseen_exact_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("frontier.build_bloom_s", "s", "lower", "crawl_s on discovery_crawl"),
    ("urls.canon_krows_per_s", "krows/s", "higher", "crawl_s on discovery_crawl; crawler.init_s elsewhere"),
    ("extract.pages_per_s", "pages/s", "higher", "urls_per_s on replay_extract/spec_extract"),
    ("dom.parse_ms.p50", "ms", "lower", "cpu_s_per_kurl, urls_per_s on spec_extract/replay_extract"),
    ("dom.parse_ms.p99", "ms", "lower", "cpu_s_per_kurl, urls_per_s on spec_extract/replay_extract"),
    ("dom.parse_us_per_kb", "us/KB", "lower", "cpu_s_per_kurl on spec_extract/replay_extract"),
    ("trace.crawl_s", "s", "lower", "none: crawl_s with the event log and spans on"),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced crawl_s"),
]
MODULE_NAMES = [
    "title", "generator", "date", "revision", "headings", "ids", "links", "dfns",
    "refs", "idl", "cddl", "elements", "events", "algorithms", "css",
]
for _m in MODULE_NAMES:
    PER_LAYER += [
        (f"modules.{_m}.ms.p50", "ms", "lower", "urls_per_s on spec_extract (all 15) and replay_extract (5)"),
        (f"modules.{_m}.ms.p99", "ms", "lower", "urls_per_s on spec_extract (all 15) and replay_extract (5)"),
    ]

HREF_RE = re.compile(rb'href="(http[^"#]*)')
LOCAL_SAMPLE_S = 6.0  # time cap for the in-process parse/module sample


def _pct(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0] if values else float("nan")
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def isolated_calls(b, tracer) -> dict:
    """Time each layer's public functions on the workload's own inputs."""
    from pyspark.sql import functions as F

    from reffy_spark.extractors.base import extract_all
    from reffy_spark.functions.urls import with_url_canon
    from reffy_spark.operators import frontier as FR

    out: dict[str, float] = {}
    pages, robots = b.dfs["pages"], b.dfs["robots"]
    n_pages = len(b.corpus.pages)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, fn):
        with tracer.span(name) as sp:
            res = fn()
        out[name] = sp.dur
        return res

    timed("urls.canon", lambda: noop(with_url_canon(pages.select("url"))))
    out["urls.canon_krows_per_s"] = n_pages / 1000.0 / out["urls.canon"]

    seeds = b.dfs["seeds"].select("url", F.col("seed_idx").cast("long"))
    timed("frontier.to_frontier_s", lambda: noop(FR.to_frontier(seeds, round_no=0)))
    fr = FR.to_frontier(seeds, round_no=0).localCheckpoint()
    timed("frontier.apply_robots_s", lambda: noop(FR.apply_robots(fr, robots)))
    allowed = FR.apply_robots(fr, robots).localCheckpoint()
    max_delay = max(r["crawl_delay_ms"] for r in b.corpus.robots)
    timed(
        "frontier.politeness_rank_s",
        lambda: noop(FR.politeness_rank(allowed, robots, b.w.round_ms, max_crawl_delay_ms=max_delay)),
    )
    # the discovery step's shapes: seen = the seed frontier, candidates =
    # every link target in the workload's pages
    targets = sorted({h.decode() for p in b.corpus.pages for h in HREF_RE.findall(p["html"])})
    cand_urls = b.spark.createDataFrame([(u,) for u in targets] or [("https://none.test/",)], "url string")
    cand = FR.apply_robots(
        FR.to_frontier(cand_urls.withColumn("seed_idx", F.lit(None).cast("long")), depth_col=F.lit(1), round_no=1),
        robots,
    ).localCheckpoint()
    seen = allowed.select("url_canon", F.lit(0).alias("first_round")).localCheckpoint()
    n_seen = max(seen.count(), 1)
    bloom = timed("frontier.build_bloom_s", lambda: FR.build_bloom(seen, n_items=2 * n_seen))
    timed(
        "frontier.filter_unseen_bloom_s",
        lambda: noop(FR.filter_unseen(cand, seen, bloom=bloom, candidates_unique=True)),
    )
    timed(
        "frontier.filter_unseen_exact_s",
        lambda: noop(FR.filter_unseen(cand, seen, candidates_unique=True)),
    )
    for df in (fr, allowed, cand, seen):
        df.unpersist()

    timed(
        "extract.extract_all",
        lambda: noop(
            extract_all(
                pages, b.w.modules, url_col="url", html_col="html",
                last_modified_col="warc_ts", error_col="crawl_error",
            )
        ),
    )
    out["extract.pages_per_s"] = n_pages / out["extract.extract_all"]
    with tracer.span("local.parse_and_modules"):
        out.update(_local_sample(b))
    return out


def _local_sample(b) -> dict:
    """``parse_html`` and each module on a deterministic page sample, in
    this process, until ``LOCAL_SAMPLE_S`` has passed."""
    import pandas as pd

    from reffy_spark.extractors.base import MODULES, ExtractContext
    from reffy_spark.html.dom import parse_html

    canon = sorted(b.corpus.freshest)
    sample = random.Random(b.seed).sample(canon, min(200, len(canon)))
    parse_ms: list[float] = []
    kb = 0.0
    mod_ms: dict[str, list[float]] = {m: [] for m in MODULES}
    t_end = time.perf_counter() + LOCAL_SAMPLE_S
    for c in sample:
        if parse_ms and time.perf_counter() > t_end:
            break
        page = b.corpus.freshest[c]
        t0 = time.perf_counter()
        root = parse_html(page["html"])
        parse_ms.append((time.perf_counter() - t0) * 1000)
        kb += len(page["html"]) / 1024
        lm = pd.Timestamp(page["warc_ts"]).tz_convert("UTC").tz_localize(None)
        for name, (_needs, fn) in MODULES.items():
            # a fresh context per module: shared sub-stages (idToHeading)
            # are charged to every module that uses them
            ctx = ExtractContext(root, c, last_modified=lm)
            t0 = time.perf_counter()
            fn(ctx)
            mod_ms[name].append((time.perf_counter() - t0) * 1000)
    out = {
        "dom.parse_ms.p50": _pct(parse_ms, 50),
        "dom.parse_ms.p99": _pct(parse_ms, 99),
        "dom.parse_us_per_kb": sum(parse_ms) * 1000 / kb,
        "local_sample_pages": len(parse_ms),
    }
    for name, vals in mod_ms.items():
        out[f"modules.{name}.ms.p50"] = _pct(vals, 50)
        out[f"modules.{name}.ms.p99"] = _pct(vals, 99)
    return out


def _crawl_jobs(log, span) -> list:
    """Jobs started inside a crawl's span: its own, plus the engine's
    async ``reffy-state-*`` commit jobs, which run on other threads."""
    return [j for j in log.jobs.values() if span.start <= j.start <= span.end]


def per_layer(b, session_s: float, untraced: list, traced: list, tracer, log, lv: dict) -> dict:
    med = statistics.median
    rows = []
    for r in traced:
        if r.get("error"):
            continue
        span = r["span"]
        kids = tracer.children(span)
        jobs = _crawl_jobs(log, span)
        iv = [(j.start, j.end) for j in jobs]
        sm = spark_metrics(log, {j.job_id for j in jobs})
        row = {
            "crawler.init_s": kids["crawler.init"].dur,
            "crawler.drive_s": kids["crawler.drive"].dur,
            "crawler.collect_s": kids["crawler.collect"].dur,
            "crawler.rounds": r["rounds"],
            "crawler.urls_ok": r["urls_ok"],
            "crawler.urls_notfound": r["urls_notfound"],
            "crawler.urls_reused": r["urls_reused"],
            "crawler.reuse_frac": r["urls_reused"] / max(r["urls_ok"], 1),
            "crawler.ckpt_mb": r.get("ckpt_mb", 0.0),
            "crawler.ckpt_files": r.get("ckpt_files", 0),
            "spark.jobs_per_round": sm["jobs"] / max(r["rounds"], 1),
            "spark.slot_busy_share": sm["executor_run_s"] / (r["crawl_s"] * b.sc.defaultParallelism),
            "spark.cached_mb_after": r["cached_mb_after"],
            "trace.crawl_s": r["crawl_s"],
        }
        for k in ("init", "drive", "collect"):
            s = kids[f"crawler.{k}"]
            row[f"crawler.{k}_self_s"] = s.dur - covered(iv, s.start, s.end)
        row.update({f"spark.{k}": v for k, v in sm.items()})
        rows.append(row)
    vals: dict[str, float] = {"session.start_s": session_s}
    for k in rows[0] if rows else []:
        vals[k] = med([row[k] for row in rows])
    untraced_s = [r["crawl_s"] for r in untraced if not r.get("error")]
    if rows and untraced_s:
        vals["trace.overhead_s"] = vals["trace.crawl_s"] - med(untraced_s)
    vals.update(lv)
    b.say(f"traced crawls {len(rows)}, untraced crawls {len(untraced_s)}, in-process sample pages {lv.get('local_sample_pages')}")
    metrics = {}
    for name, unit, _better, moves in PER_LAYER:
        v = vals.get(name, float("nan"))
        metrics[name] = {"value": v, "unit": unit}
        b.say(f"{name} {v:.6g} {unit}  [moves: {moves}]")
    return metrics


def dump_spans(tracer, log, path: str) -> None:
    """Benchmark spans, then Spark jobs as spans under the benchmark span
    whose job group they ran in (async commit jobs: the crawl whose span
    they started in)."""
    crawls = [s for s in tracer.spans if s.parent is None]
    with open(path, "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({"kind": "bench", **s.__dict__}) + "\n")
        for j in sorted(log.jobs.values(), key=lambda j: j.job_id):
            parent = tracer.span_of_group(j.group)
            if parent is None:
                parent = next((s.id for s in crawls if s.start <= j.start <= s.end), None)
            f.write(
                json.dumps(
                    {
                        "kind": "spark_job", "id": f"job{j.job_id}", "name": j.group,
                        "start": j.start, "end": j.end, "parent": parent,
                        "stages": sorted(j.stages),
                    }
                )
                + "\n"
            )
