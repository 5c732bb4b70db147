"""Crawl-engine benchmark: seeded crawl workloads through ``CrawlEngine``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One Spark driver process, ``local[4]``, closed
loop: one crawl at a time, back to back. Each run generates its inputs
from ``--seed`` (``perfbench/world.py``), computes the expected outputs
once (``perfbench/checks.py``), warms up, then times whole crawls for
``--seconds`` seconds, checking every crawl's output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts Spark
with its event log on, times crawls with spans and job groups set by
this file around every call into the engine, times isolated calls into
each layer, then detaches the event log and times untraced crawls for
the tracing overhead, and prints the per-layer metrics (``layers.py``).
Comment lines (``#``) give medians with quartiles and sample counts,
``failed_frac`` and set-up details; the last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
RUN_BUDGET_S = 130  # no crawl starts that would end after this much of a run
WARMUP_BUDGET_S = 80  # no warm-up crawl starts after this much of a run
CRAWL_TIMEOUT_S = 100  # a crawl still running is cancelled and fails
SPEC_PAGES = 40


@dataclass
class Workload:
    make: Callable[[int], object]  # seed -> world.Corpus
    modules: list[str]
    max_rounds: int
    round_ms: int
    engine: dict = field(default_factory=dict)
    warmups: int = 2
    checkpoint: bool = False


def workloads() -> dict[str, Workload]:
    """The workloads ``BENCHMARK.json`` lists, then two more that run the
    same way but do not fit the benchmark's time budget (every run pays
    ~10 s of session start and ~20-35 s of JIT warm-up)."""
    from reffy_spark.extractors.base import CORE_MODULES

    from perfbench import world

    replay = dict(discover=False, collect_metrics=False, use_bloom=False)
    return {
        # engine defaults: bloom URL-seen, collect_metrics=True
        "discovery_crawl": Workload(
            lambda s: world.crawl_corpus(s, 4000, 40),
            ["links", "title"], max_rounds=2, round_ms=60_000,
        ),
        "spec_extract": Workload(
            lambda s: world.spec_corpus(s, SPEC_PAGES),
            CORE_MODULES, max_rounds=1, round_ms=10**9, engine=replay,
        ),
        "replay_extract": Workload(
            lambda s: world.crawl_corpus(s, 8000, None),
            world.REPLAY_MODULES, max_rounds=1, round_ms=10**9, engine=replay, warmups=3,
        ),
        "recrawl_reuse": Workload(
            lambda s: world.crawl_corpus(s, 3000, None, changed_frac=0.1),
            world.REPLAY_MODULES, max_rounds=1, round_ms=10**9, engine=replay, warmups=3,
            checkpoint=True,
        ),
    }


# --------------------------------------------------------------------------
# session and process lifetime
# --------------------------------------------------------------------------


def start_session(work: str, traced: bool):
    from reffy_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


# --------------------------------------------------------------------------
# one benchmark process
# --------------------------------------------------------------------------


class Bench:
    def __init__(self, name: str, seed: int, seconds: int, work: str):
        self.name, self.seed, self.seconds, self.work = name, seed, seconds, work
        self.w = workloads()[name]
        self.t_start = time.monotonic()
        self.spark = None
        self.log: list[str] = []

    def say(self, msg: str) -> None:
        self.log.append(msg)

    # ---- set-up ----------------------------------------------------------
    def open_session(self, traced: bool) -> float:
        t0 = time.perf_counter()
        self.spark = start_session(self.work, traced)
        self.spark.range(1).count()  # first job: executor and task set-up
        self.sc = self.spark.sparkContext
        self._load_tables()
        return time.perf_counter() - t0

    def generate(self, reps: int = 3) -> float:
        """Generate and write the inputs ``reps`` times; median seconds."""
        from perfbench import world

        times = []
        for i in range(reps):
            t0 = time.perf_counter()
            self.corpus = self.w.make(self.seed)
            self.paths = world.write_tables(self.corpus, os.path.join(self.work, f"input-{i}"))
            times.append(time.perf_counter() - t0)
        return sorted(times)[reps // 2]

    def _load_tables(self) -> None:
        if not hasattr(self, "paths"):
            return
        rd = self.spark.read.parquet
        self.dfs = {k: rd(v) for k, v in self.paths.items()}

    def compute_expected(self) -> None:
        from perfbench.checks import expected_outputs

        t0 = time.perf_counter()
        self.exp = expected_outputs(
            self.corpus, self.w.modules, self.w.round_ms, self.w.max_rounds, self.seed
        )
        self.say(f"oracle_s {time.perf_counter() - t0:.3f} (outside setup_s)")

    # ---- crawling --------------------------------------------------------
    def crawl(self, tracer, label: str) -> dict:
        """One crawl in a fresh engine and a fresh checkpoint_dir."""
        from reffy_spark.operators.crawler import CrawlEngine

        from perfbench.checks import count_failures
        from perfbench.probes import MB, StorageSampler, storage_bytes, tree_cpu_s

        w, sc = self.w, self.sc
        release_storage(sc)
        ckpt = os.path.join(self.work, f"ckpt-{label}") if w.checkpoint else None
        out = {"label": label, "attempted": len(self.exp.rows)}
        timer = threading.Timer(CRAWL_TIMEOUT_S, sc.cancelAllJobs)
        cpu0 = tree_cpu_s()
        base = storage_bytes(sc)
        try:
            with StorageSampler(sc) as smp:
                timer.start()
                t0 = time.perf_counter()
                with tracer.span(label) as span:
                    with tracer.span("crawler.init"):
                        eng = CrawlEngine(
                            self.spark, self.dfs["pages"], self.dfs["robots"],
                            checkpoint_dir=ckpt, round_ms=w.round_ms, modules=w.modules,
                            fallback=self.dfs.get("fallback"), **w.engine,
                        )
                    with eng:
                        with tracer.span("crawler.drive"):
                            res = eng.crawl(self.dfs["seeds"], max_rounds=w.max_rounds)
                        with tracer.span("crawler.collect"):
                            rows = collect_rows(res.results, list(self.exp.extracts), w.modules)
                            seen = (
                                {r[0]: r[1] for r in res.url_seen.collect()}
                                if self.exp.url_seen is not None
                                else None
                            )
                out["crawl_s"] = time.perf_counter() - t0
            timer.cancel()
            out["cpu_s"] = tree_cpu_s() - cpu0
            out["cache_peak_mb"] = max(smp.peak - base, 0) / MB
            out["rounds"] = len(res.metrics) or max((r["round"] for r in rows), default=0)
            # what the context still holds once the crawl's objects are
            # garbage: a cache leak shows here
            del eng, res
            release_storage(sc)
            out["cached_mb_after"] = storage_bytes(sc) / MB
            out["span"] = span
            status = [r["status"] for r in rows]
            out["urls_ok"] = status.count("ok")
            out["urls_notfound"] = status.count("notfound")
            out["urls_error"] = status.count("error")
            out["urls_reused"] = sum(1 for r in rows if r["from_fallback"] and r["status"] == "ok")
            out["terminal"] = out["urls_ok"] + out["urls_notfound"] + out["urls_error"]
            out["failed"] = min(count_failures(self.exp, rows, seen), out["attempted"])
            if ckpt:
                files = [p for p in glob.glob(os.path.join(ckpt, "**"), recursive=True) if os.path.isfile(p)]
                out["ckpt_files"] = len(files)
                out["ckpt_mb"] = sum(os.path.getsize(p) for p in files) / MB
        except Exception:
            # a crawl that raises or times out fails all of its URLs
            timer.cancel()
            traceback.print_exc(file=sys.stderr)
            out["failed"] = out["attempted"]
            out["error"] = True
        finally:
            if ckpt:
                shutil.rmtree(ckpt, ignore_errors=True)
        return out

    def crawl_for(self, tracer, prefix: str, seconds: float) -> list[dict]:
        """Back-to-back crawls until ``seconds`` have passed (at least one)."""
        runs: list[dict] = []
        t0 = time.monotonic()
        while not runs or time.monotonic() - t0 < seconds:
            last = runs[-1].get("crawl_s", 0) if runs else 0
            if runs and time.monotonic() - self.t_start + last > RUN_BUDGET_S:
                break
            runs.append(self.crawl(tracer, f"{prefix}{len(runs)}"))
            if runs[-1].get("error"):
                break
        return runs

    def warm_up(self, tracer) -> float:
        """Untimed crawls on the same inputs; returns their seconds. JIT,
        Python worker start and first-use caches are paid here."""
        t0 = time.perf_counter()
        runs = []
        for i in range(self.w.warmups):
            if time.monotonic() - self.t_start > WARMUP_BUDGET_S:
                break  # a slow machine: keep the run within its time limit
            runs.append(self.crawl(tracer, f"warmup{i}"))
        self.say("warm-up crawl_s " + " ".join(f"{r.get('crawl_s', float('nan')):.3f}" for r in runs))
        return time.perf_counter() - t0


def collect_rows(results, sample: list[str], modules: list[str]) -> list[dict]:
    """The final action: every result column is hashed (so all of them
    are produced), and one slim row per URL comes back, with module JSON
    for the sampled URLs only."""
    from pyspark.sql import functions as F

    is_sample = F.col("url_canon").isin(sample)
    sel = results.select(
        "url_canon", "round", "host_fetch_rank", "status", "depth", "from_fallback",
        *[F.when(is_sample, F.col(m)).alias(m) for m in modules],
        F.xxhash64(*[F.col(c) for c in results.columns]).alias("_digest"),
    )
    return [r.asDict() for r in sel.collect()]


def release_storage(sc, wait_s: float = 2.0) -> None:
    """Let the context cleaner drop blocks nothing references any more,
    so one crawl cannot inherit the previous one's persisted tables.
    Waits until storage is empty or stops shrinking."""
    from perfbench.probes import storage_bytes

    gc.collect()
    sc._jvm.System.gc()
    deadline = time.monotonic() + wait_s
    last = storage_bytes(sc)
    while last and time.monotonic() < deadline:
        time.sleep(0.2)
        now = storage_bytes(sc)
        if now == last:
            break
        last = now


# --------------------------------------------------------------------------
# untraced and traced runs
# --------------------------------------------------------------------------

E2E = [("crawl_s", "s"), ("urls_per_s", "URL/s"), ("cpu_s_per_kurl", "s/kURL"),
       ("cache_peak_mb", "MB"), ("setup_s", "s")]


def e2e_samples(runs: list[dict]) -> dict[str, list[float]]:
    ok = [r for r in runs if not r.get("error")]
    return {
        "crawl_s": [r["crawl_s"] for r in ok],
        "urls_per_s": [r["terminal"] / r["crawl_s"] for r in ok],
        "cpu_s_per_kurl": [r["cpu_s"] / (r["terminal"] / 1000.0) for r in ok],
        "cache_peak_mb": [r["cache_peak_mb"] for r in ok],
    }


def run_untraced(b: Bench) -> tuple[dict, list[dict]]:
    from perfbench.probes import Tracer, canary_s, quartiles

    off = Tracer(None)
    gen_s = b.generate()
    session_s = b.open_session(traced=False)
    b.compute_expected()
    warm_s = b.warm_up(off)
    setup_s = session_s + gen_s + warm_s
    b.say(f"setup_s {setup_s:.3f} = session {session_s:.3f} + generate (median of 3) {gen_s:.3f} + warm-up {warm_s:.3f}")
    canary0 = canary_s()
    runs = b.crawl_for(off, "timed", b.seconds)
    b.say("timed crawl_s " + " ".join(f"{r.get('crawl_s', float('nan')):.3f}" for r in runs))
    b.say(f"machine canary_s {canary0:.3f} before, {canary_s():.3f} after the timed crawls")
    samples = e2e_samples(runs)
    samples["setup_s"] = [setup_s]
    units = dict(E2E)
    metrics = {}
    for name, _u in E2E:
        vals = samples[name] or [float("nan")]
        q = quartiles(vals)
        metrics[name] = {"value": q["p50"], "unit": units[name]}
        b.say(f"{name} {q['p50']:.4f} {units[name]} (q1 {q['q1']:.4f} q3 {q['q3']:.4f} n {q['n']})")
    return metrics, runs


def run_traced(b: Bench) -> tuple[dict, list[dict]]:
    """Traced crawls and isolated layer calls with the event log on, then
    the event-log listener is detached and untraced crawls run in the same
    warm session: their difference is the tracing overhead."""
    from perfbench import layers
    from perfbench.probes import Tracer, read_event_log

    tracer = Tracer(None)
    with tracer.span("generate"):
        b.generate(reps=1)
    with tracer.span("session"):
        session_s = b.open_session(traced=True)
    tracer.sc = b.sc  # from here on, spans also label Spark jobs
    with tracer.span("oracle"):
        b.compute_expected()
    with tracer.span("warm-up"):
        b.warm_up(tracer)
    traced = b.crawl_for(tracer, "traced", b.seconds / 2)
    layer_vals = layers.isolated_calls(b, tracer)
    detach_event_log(b.sc)
    untraced = b.crawl_for(Tracer(None), "untraced", b.seconds / 2)
    log = read_event_log(glob.glob(os.path.join(b.work, "eventlog", "*"))[0])
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    layers.dump_spans(tracer, log, os.path.join(ROOT, ".perfbench_out", f"{b.name}-{b.seed}-spans.jsonl"))
    metrics = layers.per_layer(b, session_s, untraced, traced, tracer, log, layer_vals)
    return metrics, traced + untraced


def detach_event_log(sc) -> None:
    """Remove the event-log listener from the live context, so later jobs
    run untraced. Job and stage events flush the log, so it is complete
    up to the last job; the context closes the file when it stops."""
    jsc = sc._jsc.sc()
    el = jsc.eventLogger()
    if el.isDefined():
        jsc.listenerBus().waitUntilEmpty()
        jsc.listenerBus().removeListener(el.get())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "reffy_spark", "operators", "crawler.py")):
        print(f"perfbench: no reffy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of this process, the JVM and workers in the run
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM of the run (launcher and driver): temp files in the run's
    # directory, no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    b = Bench(args.workload, args.seed, args.seconds, work)
    try:
        metrics, runs = (run_traced if args.trace else run_untraced)(b)
    finally:
        shutdown(b.spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    b.say(f"failed_frac {failed / attempted:.6f} ratio ({failed} of {attempted} URL checks failed)")
    for line in b.log:
        print(f"# {args.workload} seed={args.seed}: {line}")
    for name, m in metrics.items():
        if not math.isfinite(m["value"]):
            # a metric no crawl produced: the run is reported as failed
            print(f"perfbench: no value for {name}", file=sys.stderr)
            m["value"] = 0.0
            failed = max(failed, 1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
