"""BSP crawl engine: round-based frontier loop with checkpointed lineage.

The Spark re-expression of the reference crawl lifecycle
(/root/reference/src/lib/specs-crawler.js:409-506): instead of a mutable
in-process ThrottledQueue, the crawl proceeds in synchronous rounds —
each round selects ≤budget URLs per host group (politeness), "fetches"
them (join against the pages table; at production scale an Iceberg scan
with data-skipping on url_canon), runs the extraction UDF, appends
results, merges newly-discovered links into the frontier, and commits a
checkpoint. State lives in tables between rounds, never in memory
(SURVEY.md §2.9).

Checkpoints are parquet snapshot directories plus a JSON manifest with
per-partition lineage and fetch/extract metrics — the open-format stand-in
for Iceberg snapshot metadata (this sandbox has no Iceberg runtime jar;
the write path is isolated in ``_materialize`` so swapping in
``writeTo(...).createOrReplace()`` is a one-function change).

Determinism contract (tests assert these — SURVEY.md §7.3 invariant 3):
* per-host fetch sequence: (round, host_fetch_rank) ordering
* round-by-round frontier contents
* final URL-seen set
* output order = seed order for seed rows (W3: carry seed_idx, orderBy it)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reffy_spark.extractors.base import extract_all
from reffy_spark.functions.urls import host_col, host_group_col, with_url_canon
from reffy_spark.operators import frontier as FR


@dataclass
class RoundMetrics:
    round: int
    selected: int
    fetched: int
    errors: int
    discovered: int
    new_urls: int
    per_host_group: dict[str, int]
    wall_sec: float


@dataclass
class CrawlResult:
    results: DataFrame  # url_canon, seed_idx, depth, round, host_fetch_rank, host, host_group, status, + extract cols (original url stays on the frontier/batch checkpoints)
    url_seen: DataFrame  # url_canon, first_round
    links: DataFrame | None  # url_canon, page_url, fragment, is_autolink
    metrics: list[RoundMetrics] = field(default_factory=list)


def freshest_capture(pages_canon: DataFrame) -> DataFrame:
    """J3 cache-info join: collapse multiple captures of one canonical URL
    to the freshest (max warc_ts, tie-break max page_url) — the
    crawl-cache semantics of the reference's conditional refetch
    (src/lib/util.js:461-488).

    max_by keeps the aggregation partial (map-side combine) — a
    row_number window would force a full sort of the pages table. A
    production crawl writes this once as an Iceberg table bucketed by
    url_canon; recomputing the expression chain per round is cheap
    (measured: persist() cost 4× the recompute locally).
    """
    order_cols = [
        c for c in ("warc_ts", "page_url") if c in pages_canon.columns
    ]
    keep = ["page_url", "html"] + [
        c for c in ("warc_ts", "final_url") if c in pages_canon.columns
    ]
    return (
        pages_canon.groupBy("url_canon")
        .agg(F.max_by(F.struct(*keep), F.struct(*order_cols)).alias("_best"))
        .select("url_canon", *[F.col(f"_best.{c}").alias(c) for c in keep])
    )


def fetch_with_fallback(
    pages: DataFrame, batch_slim: DataFrame, broadcast_batch: bool = True
) -> tuple[DataFrame, DataFrame]:
    """J2 fetch + fallback: inner-join the round's batch to the pages
    table, and a keys-only anti-join for the misses (the reference's
    fallback/--use-crawl path records an error result instead of
    dropping the spec, specs-crawler.js:54-65).

    Returns (fetched_ok, notfound): callers run extraction over
    ``fetched_ok`` and union ``notfound`` after.

    Misses, fused into the fetch join's pass (no second pages-sized
    shuffle): when the batch is broadcast, the matched key set is
    ``pages ⨝ batch`` keys — AT MOST ``|batch|`` rows, so it is
    broadcastable by the exact argument that made the batch
    broadcastable — and the misses are ``batch ⟕̸ broadcast(matched)``.
    The matched-keys probe broadcasts a keys-only pruning of the batch
    (a strictly cheaper build than the fetch join's own broadcast) and
    reads ONE pruned column of pages; the 10^10-row pages key set is
    never shuffled. The pre-round-5 shape
    (keys-only shuffle_hash anti-join against all of pages) is kept for
    the beyond-broadcast bucketed path, where the bucketed layout makes
    the pages-side exchange free anyway.
    """
    batch_b = F.broadcast(batch_slim) if broadcast_batch else batch_slim
    fetch_cols = ["url_canon", "html"] + [
        c for c in ("warc_ts", "final_url") if c in pages.columns
    ]
    if "final_url" in pages.columns and "page_url" in pages.columns:
        # redirect detection compares the landed URL against the RAW
        # request URL (specs-crawler.js:144-146) — page_url rides the
        # fetch join only when the crawl opted into final_url
        fetch_cols.append("page_url")
    fetched_ok = pages.select(*fetch_cols).join(
        batch_b, on="url_canon", how="inner"
    )
    if broadcast_batch:
        # the matched key set IS the fetch join's own key output — at
        # most |batch| rows by the broadcast argument; deriving it from
        # fetched_ok (instead of a second pages⨝batch) keeps one plan for
        # both branches and holds even when pages.url_canon is not unique
        matched = fetched_ok.select("url_canon")
        miss = batch_slim.join(
            F.broadcast(matched), on="url_canon", how="left_anti"
        )
    else:
        miss = batch_slim.join(
            pages.select("url_canon").hint("shuffle_hash"),
            on="url_canon",
            how="left_anti",
        )
    notfound = (
        miss.withColumn("host", host_col(F.col("url_canon")))
        .withColumn("host_group", host_group_col(F.col("url_canon")))
        .withColumn("status", F.lit("notfound"))
    )
    return fetched_ok, notfound


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        checkpoint_dir: str | None = None,
        round_ms: int = 2000,
        modules: list[str] | None = None,
        # True = bloom prefilter once seen reaches FR.BLOOM_MIN_ITEMS
        # (exact anti-join below it), "cuckoo", False = always exact
        use_bloom: "bool | str" = True,
        collect_metrics: bool = True,
        discover: bool = True,
        assume_canonical_unique: bool = False,
        assume_seeds_unique: bool = False,
        broadcast_batch: bool = True,
        reliable_state: bool | str = "auto",
        fallback: DataFrame | None = None,
        seen_capacity_hint: int | None = None,
    ):
        # discover=False is pure seed-list replay — the reference's own
        # semantics (crawlList maps over the fixed list exactly once and
        # never enqueues, specs-crawler.js:473-479). discover=True is the
        # general-frontier extension.
        #
        # assume_canonical_unique=True skips the freshest-capture dedup
        # when the input pages table is already keyed by url_canon (the
        # production shape: an Iceberg table MERGEd on url_canon) — the
        # fetch join then needs no shuffle of the pages side at all.
        #
        # broadcast_batch=True broadcasts the round's batch into the fetch
        # join (the batch is bounded by sum-of-politeness-budgets, so it is
        # small relative to the pages table); set False on huge-budget
        # crawls to let Catalyst/AQE pick the strategy.
        self.spark = spark
        self.robots = robots
        self.checkpoint_dir = checkpoint_dir
        self.round_ms = round_ms
        self.modules = list(modules or ["links"])
        if discover and "links" not in self.modules:
            # discovery is driven by extracted links; without the module
            # the round loop would have no outgoing edges to enqueue
            self.modules.append("links")
        self.use_bloom = use_bloom
        self.collect_metrics = collect_metrics
        self.discover = discover
        # seed list guaranteed one row per canonical URL → frontier
        # construction skips its dedup aggregation (zero-shuffle seed
        # frontier; the replay corpus derives seeds 1:1 from a pages
        # table already unique on url_canon)
        self.assume_seeds_unique = assume_seeds_unique
        # Expected total seen-set size for the whole crawl (the crawl
        # budget). Sizes the URL-seen membership structures' epoch
        # builds so a discovery crawl is absorbed by ONE epoch; without
        # it, epochs are sized 2x the current count and explosive
        # discovery growth triggers doubling rebuilds. The cuckoo table
        # stores only occupied slots, so over-sizing m is free.
        self.seen_capacity_hint = seen_capacity_hint
        # Canonicalize the pages table once. Canonical keys must be unique
        # for the fetch join: distinct raw URLs can collapse to one
        # canonical URL (e.g. whatwg multipage → root); keep the freshest
        # capture (max warc_ts, tie-break max url) — the crawl-cache
        # semantic of the reference's conditional refetch
        # (src/lib/util.js:461-488). At 10^10 scale this is the Iceberg
        # pages table bucketed by url_canon so the per-round fetch join is
        # shuffle-free on the pages side.
        # A pages table that already carries url_canon is trusted as-is
        # (the production shape: an Iceberg table MERGEd on url_canon and
        # BUCKETED by it — recomputing the column would discard the
        # bucketed-scan output partitioning and reintroduce a shuffle
        # into every fetch join).
        if "url_canon" in pages.columns:
            pc = pages.withColumnRenamed("url", "page_url")
        else:
            pc = with_url_canon(pages).withColumnRenamed("url", "page_url")
        page_cols = ["url_canon", "page_url", "html"] + [
            c for c in ("warc_ts", "final_url") if c in pc.columns
        ]
        if assume_canonical_unique:
            self.pages = pc.select(*page_cols)
            self._pages_cached = None
        else:
            # Persist the canonicalized+deduped pages table ONCE per
            # engine (r8): every round's fetch evaluates it twice (the
            # fetch join and the matched-keys broadcast build), so an
            # unmaterialized freshest_capture re-ran its full-corpus
            # groupBy shuffle 2×rounds times per crawl. MEMORY_AND_DISK
            # is the sandbox stand-in for the production shape (an
            # Iceberg pages table MERGEd on url_canon, written once);
            # released in close().
            from pyspark.storagelevel import StorageLevel

            self.pages = freshest_capture(pc).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            self._pages_cached = self.pages
            self._pages_persistable = True
        self.broadcast_batch = broadcast_batch
        # Round-state durability: ``localCheckpoint`` blocks are NOT
        # fault-tolerant — on a multi-executor cluster one lost executor
        # destroys its blocks and the round state cannot be recomputed
        # (lineage was truncated), failing or wildly re-running the job
        # (the round-1 variance band of 66-193 s had exactly this cause).
        # "auto" = reliable parquet round commits whenever the master runs
        # more than one executor JVM; single-JVM local[...] keeps the
        # cheaper in-memory checkpoint.
        if reliable_state == "auto":
            master = spark.sparkContext.master or ""
            self.reliable_state = not (
                master.startswith("local[") or master == "local"
            )
        else:
            self.reliable_state = bool(reliable_state)
        self._state_dir: str | None = None
        # persisted within-round working sets awaiting release (ephemeral
        # multi-executor mode; see _materialize durable=False)
        self._working_sets: list[DataFrame] = []
        # background executor for async ephemeral round-state commits
        # (created lazily; 2 workers = frontier + seen commit in parallel)
        self._commit_pool = None
        # in-flight async round-state commits, resolved at the top of the
        # next round — instance-held so the _run_rounds finally block can
        # drain them if a round raises between submit and join
        self._deferred: list[tuple[str, object]] = []
        # Conditional-recrawl reuse (specs-crawler.js:87-98,128-133 +
        # test/crawl.js "skips processing and reuse fallback data when
        # spec cache info indicates it has not changed"): a prior crawl's
        # results table (url_canon, etag, last_modified, module columns).
        # Fetched pages whose content digest matches the fallback etag
        # SKIP the extraction stage and reuse the prior extracts — a
        # recrawl's Python compute is then proportional to CHANGED pages
        # only. Misses (notfound) also pull fallback extracts when
        # available, keeping the error status ("reports errors and
        # returns fallback data when possible", test/crawl.js:146).
        # Error'd fallback rows are never reused (the reference skips
        # them: "we don't really know whether these results come from
        # that previous crawl").
        if fallback is not None and "crawl_error" in fallback.columns:
            fallback = fallback.filter(F.col("crawl_error").isNull())
        if fallback is not None and "status" in fallback.columns:
            fallback = fallback.filter(F.col("status") == "ok")
        self.fallback = fallback
        # Derive the robots table's max crawl delay ONCE (tiny config
        # aggregate) so politeness_rank never runs a per-round driver
        # action to decide its prune-vs-two-phase-rank gate.
        row = robots.agg(F.max("crawl_delay_ms")).first()
        self._max_crawl_delay_ms = row[0] if row is not None else None

    def _seed_index(self, seeds: DataFrame) -> DataFrame:
        """``seed_idx`` = url-ordered row number for a seed list that
        arrives without one — WITHOUT a global unpartitioned window (a
        1M-URL webtext seed list must not funnel into one sorting task).

        Same two-phase pattern as ``frontier._exact_group_rank`` /
        ``corpus_quality.pack_sequences``, degenerate single-group case:
        range-repartition on url (every partition holds a contiguous
        url-order slice), rank locally per slice, add a broadcast
        running-count offset per slice. The only unpartitioned window
        runs over the ≤ num_parts-row offset table — bounded by config,
        not by data. Assignment matches
        ``row_number().over(Window.orderBy("url")) - 1`` (duplicate urls,
        if any, get arbitrary-but-distinct indices in both forms; the
        frontier dedups them immediately after).

        Size routing (r8, same precedent as ``frontier.anti_join_scan``):
        a seed list Catalyst can ESTIMATE as small takes the direct
        global window — bit-identical, one exchange instead of the
        two-phase machinery's four stages; unknown or large estimates
        keep the scale shape (an unknown seed list may be the 1M-URL
        case)."""
        from pyspark.storagelevel import StorageLevel

        from reffy_spark.plan_stats import estimated_bytes

        est = estimated_bytes(seeds)
        if est is not None and est < 64 * 1024 * 1024:
            w = Window.orderBy("url")
            return seeds.withColumn(
                "seed_idx", (F.row_number().over(w) - 1).cast("long")
            )

        num_parts = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        ranged = seeds.repartitionByRange(num_parts, F.col("url"))
        # bake the range-partition id into one materialization so the
        # offsets branch and the rank branch read identical slices (see
        # _exact_group_rank for why ReuseExchange is not relied upon);
        # released with the round's working sets.
        part = ranged.withColumn("_pid", F.spark_partition_id()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._working_sets.append(part)
        counts = part.groupBy("_pid").agg(F.count("*").alias("_n"))
        w_off = Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = counts.select(
            "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
        )
        w_local = Window.partitionBy("_pid").orderBy("url")
        return (
            part.withColumn("_lrn", F.row_number().over(w_local))
            .join(F.broadcast(offsets), "_pid")
            .withColumn(
                "seed_idx",
                # long: webtext-scale seed lists pass 2^31-1 rows
                # (matches sources.seeds.with_input_order_index)
                (F.col("_off") + F.col("_lrn") - 1).cast("long"),
            )
            .drop("_pid", "_lrn", "_off")
        )

    def _ensure_state_dir(self) -> str:
        if self._state_dir is None:
            import tempfile

            self._state_dir = tempfile.mkdtemp(prefix="reffy_crawl_state_")
        return self._state_dir

    # ------------------------------------------------------------------
    def crawl(self, seeds: DataFrame, max_rounds: int = 10) -> CrawlResult:
        """Run the BSP loop from a seed list (url [, seed_idx])."""
        self._ensure_pages_cached()
        if "seed_idx" not in seeds.columns:
            seeds = self._seed_index(seeds)
        frontier = FR.to_frontier(
            seeds.select("url", F.col("seed_idx").cast("long")),
            round_no=0,
            assume_canonical_unique=self.assume_seeds_unique,
        )
        frontier = FR.apply_robots(frontier, self.robots)
        if not self.checkpoint_dir:
            # ephemeral crawls never re-read the original (pre-canon) URL;
            # dropping it slims every downstream cache/shuffle of frontier
            # state (host/host_group stay: politeness joins budgets on host)
            frontier = frontier.drop("url")
        seen = frontier.select("url_canon", F.lit(0).alias("first_round"))
        # the seed frontier is re-derivable from the seed list — a
        # working set until the first durable round commit replaces it.
        # It IS worth materializing even in pure replay: politeness
        # consumes the frontier twice (the group-budget aggregate and the
        # rank input), so skipping the cache re-runs the canonicalization
        # chain per consumer (measured: rank phase 8.7 s → 47 s at 4×8).
        frontier = self._materialize(
            frontier, "frontier", 0, durable=bool(self.checkpoint_dir)
        )
        # the round-0 seen set IS a projection of the (just-materialized)
        # frontier: without a checkpoint there is nothing to commit —
        # every consumer (the discovery anti-join's seen scan) reads the
        # frontier cache equally well, and the separate round-0
        # materialization was a pure per-crawl constant (r8; ~0.4 s of
        # the bench replay)
        if self.checkpoint_dir:
            seen = self._materialize(seen, "seen", 0)
        else:
            seen = frontier.select("url_canon", F.lit(0).alias("first_round"))
        return self._run_rounds(frontier, seen, start_round=1, max_rounds=max_rounds)

    def _ensure_pages_cached(self) -> None:
        """Re-persist the canonical pages table if a context-manager exit
        dropped the cache — keeps the 'engine stays reusable after
        close()' contract intact (r8 review)."""
        if (
            getattr(self, "_pages_persistable", False)
            and self._pages_cached is None
        ):
            from pyspark.storagelevel import StorageLevel

            self._pages_cached = self.pages.persist(
                StorageLevel.MEMORY_AND_DISK
            )

    def resume(self, max_rounds: int = 10) -> CrawlResult:
        """Resume from the latest checkpointed round (mirrors --fallback /
        --use-crawl, specs-crawler.js:54-65,100-102). Prior rounds'
        results are re-read from their checkpoints."""
        if not self.checkpoint_dir:
            raise ValueError("resume requires a checkpoint_dir")
        self._ensure_pages_cached()
        rounds = self._checkpointed_rounds()
        last = rounds[-1]
        frontier = self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, f"round={last}", "frontier")
        )
        seen = self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, f"round={last}", "seen")
        )
        prior = [
            self.spark.read.parquet(
                os.path.join(self.checkpoint_dir, f"round={r}", "results")
            )
            for r in rounds
            if os.path.exists(os.path.join(self.checkpoint_dir, f"round={r}", "results"))
        ]
        return self._run_rounds(
            frontier, seen, start_round=last + 1, max_rounds=max_rounds, prior=prior
        )

    def _checkpointed_rounds(self) -> list[int]:
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("round=")
            and os.path.exists(os.path.join(self.checkpoint_dir, d, "seen"))
        )

    # ------------------------------------------------------------------
    def _run_rounds(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        start_round: int,
        max_rounds: int,
        prior: list[DataFrame] | None = None,
    ) -> CrawlResult:
        try:
            return self._run_rounds_impl(
                frontier, seen, start_round, max_rounds, prior
            )
        finally:
            self.close()

    def close(self) -> None:
        """Resolve any in-flight async round-state commits and retire the
        background commit pool (two non-daemon threads — without this an
        engine that raised between a commit submit and the next round's
        join would abandon the futures with their exceptions unobserved,
        and leak the pool threads). Idempotent; crawl()/resume() recreate
        the pool lazily, so an engine stays reusable after close().
        CrawlEngine is also a context manager delegating here."""
        pool, self._commit_pool = self._commit_pool, None
        for _name, fut in self._deferred:
            try:
                fut.result()
            except Exception:
                # the round's own error is already propagating; a failed
                # background commit of ephemeral state adds nothing — the
                # crawl has no resume contract without a checkpoint_dir
                pass
        self._deferred = []
        if pool is not None:
            pool.shutdown(wait=True)

    def __enter__(self) -> "CrawlEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
        self._release_working_sets()
        # NOT in close(): close() runs inside _run_rounds' finally, and a
        # pure-replay caller consumes the (lazy) results after that —
        # unpersisting there would forfeit the cache for the final
        # action. Outside a with-block the ContextCleaner periodic GC
        # reclaims the blocks once the engine is unreferenced.
        if getattr(self, "_pages_cached", None) is not None:
            try:
                self._pages_cached.unpersist(blocking=False)
            except Exception:
                pass
            self._pages_cached = None

    def _run_rounds_impl(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        start_round: int,
        max_rounds: int,
        prior: list[DataFrame] | None = None,
    ) -> CrawlResult:
        all_results: list[DataFrame] = list(prior or [])
        metrics: list[RoundMetrics] = []
        # exact seen-set cardinality, carried across rounds so bloom
        # sizing never fires a per-round count() job: one count at loop
        # start, then += the new_urls count already computed for metrics
        seen_count: int | None = None
        # URL-seen membership structures are ROUND STATE (alongside
        # frontier/seen), not per-round rebuilds: the bloom bitmap and
        # the cuckoo table each absorb only new_urls per round and are
        # rebuilt from seen only at explicit epoch boundaries
        cuckoo_state = None
        bloom = None
        bloom_retired = False
        self._deferred = []
        deferred = self._deferred  # alias — mutated in place, never rebound

        for rnd in range(start_round, max_rounds + 1):
            t0 = time.monotonic()
            # join the PREVIOUS round's async state commits: the writes
            # were submitted at the loop bottom on a background thread,
            # so they overlapped the round's tail jobs (metrics collects,
            # manifest write) and each other instead of running serially
            # here. Rounds that cannot continue (rnd == max_rounds) never
            # submit — the final round's frontier/seen have no consumer
            # in ephemeral (no-checkpoint) crawls; on a single-round
            # seed-list replay that skip is the whole frontier write
            if deferred:
                for var, fut in deferred:
                    if var == "frontier":
                        frontier = fut.result()
                    else:
                        seen = fut.result()
                deferred.clear()
            # cached working sets from earlier rounds have no consumer
            # left once the deferred commits above are durable AND every
            # in-round action ran (metrics/discovery force the round's
            # results). Pure replay defers ALL result consumption to the
            # caller's final action, so there we keep the caches alive.
            if self.discover or self.collect_metrics or self.checkpoint_dir:
                self._release_working_sets()
            # the emptiness check only matters once discovery may have
            # drained the frontier; for the first round an empty seed
            # list just yields one cheap empty round — skipping the check
            # saves a job over the freshly-built frontier
            if rnd > start_round and frontier.isEmpty():
                break

            # materialize the round's batch once: it feeds the fetch join,
            # the frontier anti-join, and the metrics (3 consumers)
            batch = self._materialize(
                FR.politeness_rank(
                    frontier,
                    self.robots,
                    self.round_ms,
                    max_crawl_delay_ms=self._max_crawl_delay_ms,
                ),
                "batch",
                rnd,
                durable=False,
            )

            # ---- fetch: join batch to pages on url_canon ----------------
            # The batch is budget-bounded → broadcast it; the pages side
            # then never shuffles (production: Iceberg data-skipping on
            # the broadcast keys prunes file scans too). Only the key +
            # numeric metadata travel in the broadcast — string columns
            # (url, host, host_group) stay out and are re-derived from
            # url_canon later. "Misses" are a separate keys-only anti-join
            # so no html column rides along.
            meta_cols = [
                c
                for c in (
                    "seed_idx", "depth", "priority",
                    "round_discovered", "host_fetch_rank",
                )
                if c in batch.columns
            ]
            batch_slim = batch.select("url_canon", *meta_cols)
            fetched_ok, notfound = fetch_with_fallback(
                self.pages, batch_slim, self.broadcast_batch
            )

            # ---- extract: one Arrow pass, all requested modules ---------
            # The fetch join's output partitioning already spreads pages
            # uniformly by url hash — a hot host's pages do NOT stay on
            # one executor (salting by construction; politeness metadata
            # host_fetch_rank was assigned before, so budgets hold —
            # SURVEY.md §7.3 risk 4). NUMERIC row metadata rides through
            # the Arrow stage (passthrough) — no join-back shuffle of fat
            # JSON; string metadata (host, host_group) is re-derived from
            # url_canon JVM-side instead (string columns through Arrow
            # measured ~40% of the whole extraction stage).
            # crawlCacheInfo analog (specs-crawler.js:87-98,144-152):
            # etag = content digest, last_modified = capture timestamp.
            # etag is computed JVM-side BEFORE extraction (html does not
            # survive the Arrow stage) and rides through as a 32-char
            # passthrough; warc_ts doubles as the date module's
            # HTTP-Last-Modified fallback (F11).
            has_ts = "warc_ts" in fetched_ok.columns
            # Redirect semantics (specs-crawler.js:140-152, test/crawl.js
            # "does not return cache info when a redirection took place"):
            # a pages table may carry an optional ``final_url`` column —
            # the URL the fetch actually landed on. When it differs from
            # the request URL, the reference records the post-redirect URL
            # as ``crawled`` and returns NO crawlCacheInfo (the cache info
            # belongs to the initial URL and cannot be trusted), while the
            # page content is still extracted. Our analog: etag and
            # last_modified are NULLed for redirected rows, which also
            # disables the fallback etag-reuse short-circuit (a redirected
            # page is always re-extracted). ``final_url`` rides the Arrow
            # stage as a string passthrough — a measured ~cost paid only
            # by crawls that opt into the column.
            has_redirects = "final_url" in fetched_ok.columns
            # redirected ⇔ the landed URL differs from the RAW request URL
            # (specs-crawler.js:144-146 compares result.crawled against the
            # request URL, NOT its canonicalization — a page whose URL only
            # changes under canonicalization, e.g. http→https rewrite or an
            # index.html strip, is NOT a redirect and keeps its cache info).
            # page_url rides the fetch join only when final_url does; the
            # url_canon fallback covers external pages tables without it.
            redirect_base = (
                F.col("page_url")
                if "page_url" in fetched_ok.columns
                else F.col("url_canon")
            )
            redirected = (
                F.col("final_url").isNotNull()
                & (F.col("final_url") != redirect_base)
                if has_redirects
                else F.lit(False)
            )
            fetched_ok = fetched_ok.withColumn(
                "etag",
                F.when(redirected, F.lit(None).cast("string")).otherwise(
                    F.md5(F.col("html").cast("binary"))
                ),
            )
            if has_redirects:
                # bake the verdict into a boolean passthrough (page_url is
                # a fat string — it must not cross the Arrow stage) and use
                # it for the post-extraction cache-info NULLing
                fetched_ok = fetched_ok.withColumn(
                    "_redirected", F.coalesce(redirected, F.lit(False))
                )
                if "page_url" in fetched_ok.columns:
                    fetched_ok = fetched_ok.drop("page_url")
                redirected = F.col("_redirected")
            # conditional-recrawl split: pages whose digest matches the
            # fallback crawl's etag bypass extraction entirely (reuse),
            # misses later pull fallback extracts — see __init__ notes
            reused = None
            fb_slim = None
            fb_mods: list[str] = []
            if self.fallback is not None:
                fb = self.fallback
                fb_mods = [m for m in self.modules if m in fb.columns]
                fb_lm = (
                    F.col("last_modified")
                    if "last_modified" in fb.columns
                    else F.lit(None).cast("timestamp")
                )
                fb_slim = fb.select(
                    "url_canon",
                    F.col("etag").alias("_fb_etag"),
                    fb_lm.alias("_fb_last_modified"),
                    *[F.col(m).alias(f"_fb_{m}") for m in fb_mods],
                )
                fb_drop = ["_fb_etag", "_fb_last_modified"] + [
                    f"_fb_{m}" for m in fb_mods
                ]
                joined = fetched_ok.join(fb_slim, on="url_canon", how="left")
                # etag NULL means "no trustworthy cache info" (redirected
                # row) — always counts as changed, never as reuse
                unchanged = joined.filter(
                    F.col("etag").isNotNull()
                    & (F.col("_fb_etag") == F.col("etag"))
                )
                fetched_ok = joined.filter(
                    F.col("etag").isNull()
                    | F.col("_fb_etag").isNull()
                    | (F.col("_fb_etag") != F.col("etag"))
                ).drop(*fb_drop)
                reused = (
                    unchanged.select(
                        "url_canon",
                        *meta_cols,
                        "etag",
                        F.col("_fb_last_modified").alias("last_modified"),
                        *[
                            (
                                F.col(f"_fb_{m}")
                                if m in fb_mods
                                else F.lit(None).cast("string")
                            ).alias(m)
                            for m in self.modules
                        ],
                    )
                    .withColumn("crawl_error", F.lit(None).cast("string"))
                    .withColumn("host", host_col(F.col("url_canon")))
                    .withColumn("host_group", host_group_col(F.col("url_canon")))
                    .withColumn("status", F.lit("ok"))
                    .withColumn("from_fallback", F.lit(True))
                )
            cache_cols = (
                ["etag"]
                + (["warc_ts"] if has_ts else [])
                + (["final_url", "_redirected"] if has_redirects else [])
            )
            extracts = (
                extract_all(
                    fetched_ok,
                    self.modules,
                    url_col="url_canon",
                    html_col="html",
                    passthrough=meta_cols + cache_cols,
                    last_modified_col="warc_ts" if has_ts else None,
                    error_col="crawl_error",
                )
                .withColumn("host", host_col(F.col("url_canon")))
                .withColumn("host_group", host_group_col(F.col("url_canon")))
                .withColumn(
                    "status",
                    F.when(F.col("crawl_error").isNotNull(), F.lit("error"))
                    .otherwise(F.lit("ok")),
                )
            )
            if has_ts:
                extracts = extracts.withColumnRenamed("warc_ts", "last_modified")
            else:
                extracts = extracts.withColumn(
                    "last_modified", F.lit(None).cast("timestamp")
                )
            if has_redirects:
                # `crawled` = post-redirect URL (specs-crawler.js:141-143);
                # cache info dropped on redirect: etag was already NULLed
                # pre-extraction, last_modified is NULLed here
                extracts = (
                    extracts.withColumn(
                        "crawled",
                        F.coalesce(F.col("final_url"), F.col("url_canon")),
                    )
                    .withColumn(
                        "last_modified",
                        F.when(
                            redirected, F.lit(None).cast("timestamp")
                        ).otherwise(F.col("last_modified")),
                    )
                    .drop("final_url", "_redirected")
                )
                if reused is not None:
                    # reuse requires a non-NULL matching etag → never a
                    # redirected row; crawled is the request URL
                    reused = reused.withColumn(
                        "crawled", F.col("url_canon")
                    )
                notfound = notfound.withColumn(
                    "crawled", F.col("url_canon")
                )
            extracts = extracts.withColumn("from_fallback", F.lit(False))
            if reused is not None:
                extracts = extracts.unionByName(reused.select(*extracts.columns))
            if fb_slim is not None:
                # misses pull fallback extracts when available; the
                # notfound status is KEPT alongside the reused data
                # (test/crawl.js:146 "reports errors and returns
                # fallback data when possible")
                notfound = notfound.join(fb_slim, on="url_canon", how="left")
                for m in self.modules:
                    notfound = notfound.withColumn(
                        m,
                        F.col(f"_fb_{m}")
                        if m in fb_mods
                        else F.lit(None).cast("string"),
                    )
                notfound = (
                    notfound.withColumn("etag", F.col("_fb_etag"))
                    .withColumn("last_modified", F.col("_fb_last_modified"))
                    .withColumn("crawl_error", F.lit(None).cast("string"))
                    .withColumn("from_fallback", F.col("_fb_etag").isNotNull())
                    .drop("_fb_etag", "_fb_last_modified", *[f"_fb_{m}" for m in fb_mods])
                )
            else:
                for m in self.modules:
                    notfound = notfound.withColumn(m, F.lit(None).cast("string"))
                notfound = (
                    notfound.withColumn("etag", F.lit(None).cast("string"))
                    .withColumn("last_modified", F.lit(None).cast("timestamp"))
                    .withColumn("crawl_error", F.lit(None).cast("string"))
                    .withColumn("from_fallback", F.lit(False))
                )
            round_results = (
                extracts.unionByName(notfound.select(*extracts.columns))
                .withColumn("round", F.lit(rnd))
            )
            # Materialize only when the round's results have multiple
            # consumers (discovery, metrics) or must be durable; a pure
            # replay streams extraction straight into the caller's action.
            if self.discover or self.collect_metrics or self.checkpoint_dir:
                round_results = self._materialize(round_results, "results", rnd)
            all_results.append(round_results)

            # ---- discover: outgoing links → candidate frontier rows -----
            if self.discover:
                # targets-only parse (r8): discovery needs the outgoing
                # page URLs, not the per-anchor fragment explode of
                # links_long — the frontier dedup collapses multiplicity
                # anyway, so the candidate SET (and every downstream row)
                # is identical while the JSON pass emits map keys only
                candidates = link_targets(
                    round_results.filter(F.col("status") == "ok")
                ).withColumn("seed_idx", F.lit(None).cast("long"))
                next_depth = F.lit(rnd)  # BFS depth == first reachable round
                cand = FR.to_frontier(candidates, depth_col=next_depth, round_no=rnd)
                cand = FR.apply_robots(cand, self.robots)
                # ALWAYS materialize the candidate set (r8, ADVICE r7):
                # every unseen-filter shape consumes it several times —
                # the bloom split's two halves, the metrics count, and in
                # the plain path the scan-shaped anti-join's stats probe +
                # broadcast key set + the anti-join itself. Unmaterialized,
                # each consumer re-ran the links-parse → dedup → robots
                # lineage (3× per round in the bench replay).
                cand = self._materialize(cand, "candidates", rnd, durable=False)

                if self.use_bloom == "cuckoo":
                    # cuckoo-filter membership (operators/cuckoo.py):
                    # same definite-new short-circuit contract as the
                    # bloom path. INCREMENTAL lifecycle: the state is
                    # carried across rounds; only this round's new_urls
                    # are inserted (below, after they're known); the
                    # full seen set is re-scanned only at epoch
                    # (re)builds — first use, or an explicit doubling
                    # rebuild when load exceeds 0.7.
                    from reffy_spark.operators.cuckoo import (
                        CuckooState,
                        filter_unseen_with_state,
                    )

                    if seen_count is None:
                        seen_count = seen.count()
                    if cuckoo_state is None or cuckoo_state.needs_rebuild():
                        target = max(
                            seen_count * 2, self.seen_capacity_hint or 0
                        )
                        cuckoo_state = CuckooState.build(
                            seen,
                            n_items=seen_count,
                            m=CuckooState.size_m(target),
                        ).materialized(
                            lambda df, nm: self._materialize(df, nm, rnd)
                        )
                    unseen = filter_unseen_with_state(cand, seen, cuckoo_state)
                else:
                    if self.use_bloom and not bloom_retired:
                        if seen_count is None:
                            seen_count = seen.count()
                        if seen_count > FR.BLOOM_MAX_ITEMS:
                            # the ACTUAL seen set outgrew the largest
                            # bitmap this driver holds: retire the bloom
                            # for good (plain scan-shaped anti-join from
                            # here on; no per-round rebuild retries)
                            bloom = None
                            bloom_retired = True
                        elif seen_count < FR.BLOOM_MIN_ITEMS:
                            # small seen set: the exact anti-join alone
                            # beats building, probing and folding a bloom
                            bloom = None
                        elif bloom is None or seen_count > bloom.n_capacity:
                            # epoch (re)build with 2x headroom so steady
                            # growth is absorbed by incremental folds.
                            # BOTH the hint and the growth term clamp to
                            # the bloom's own ceiling: a crawl budget OR
                            # a seen_count*2 above BLOOM_MAX_ITEMS must
                            # not disable the filter while the actual
                            # seen set still fits a max-size bitmap
                            cap_t = min(
                                max(
                                    seen_count * 2,
                                    self.seen_capacity_hint or 0,
                                ),
                                FR.BLOOM_MAX_ITEMS,
                            )
                            bloom = FR.build_bloom(seen, n_items=cap_t)
                    else:
                        bloom = None
                    # cand is unique per url_canon (to_frontier dedup) —
                    # the scan-shape broadcast key set skips its distinct
                    unseen = FR.filter_unseen(
                        cand, seen, bloom=bloom, candidates_unique=True
                    )
                # new_urls feeds BOTH the frontier merge and the seen-set
                # update
                new_urls = self._materialize(
                    unseen, "new_urls", rnd, durable=False
                )
                if self.use_bloom or self.collect_metrics:
                    n_new = new_urls.count()
                    if seen_count is not None:
                        seen_count += n_new
                else:
                    n_new = None
                # grow the membership state by THIS round's new urls only
                # (the unseen filter guarantees disjointness) — the
                # filter then covers the post-union seen set exactly, so
                # next round's probe has no false negatives
                if n_new:
                    if self.use_bloom == "cuckoo":
                        cuckoo_state = cuckoo_state.insert(
                            new_urls.select("url_canon"), n_new
                        ).materialized(
                            lambda df, nm: self._materialize(df, nm, rnd)
                        )
                    elif bloom is not None:
                        FR.fold_bloom(bloom, new_urls, key="url_canon")
            else:
                cand = None
                new_urls = None
                n_new = None

            # ---- commit round: update frontier + seen -------------------
            # With a checkpoint_dir the commit happens NOW (durability and
            # the resume contract: every round must leave frontier+seen on
            # disk). Ephemeral crawls defer the commit to the top of the
            # next round — if this was the last round, it never happens.
            # batch keys are budget-bounded (the fetch-join broadcast
            # argument) — hint it so the frontier side never shuffles
            # even when cache statistics are unavailable
            frontier = frontier.join(
                F.broadcast(batch.select("url_canon")),
                on="url_canon",
                how="left_anti",
            )
            if new_urls is not None:
                frontier = frontier.unionByName(new_urls.select(*frontier.columns))
                seen = seen.unionByName(
                    new_urls.select("url_canon", F.lit(rnd).alias("first_round"))
                )
                if self.checkpoint_dir:
                    seen = self._materialize(seen, "seen", rnd)
                elif rnd < max_rounds:
                    deferred.append(("seen", self._commit_async(seen, "seen", rnd)))
            elif self.checkpoint_dir:
                seen = self._materialize(seen, "seen", rnd)
            if self.checkpoint_dir:
                frontier = self._materialize(frontier, "frontier", rnd)
            elif rnd < max_rounds:
                deferred.append(
                    ("frontier", self._commit_async(frontier, "frontier", rnd))
                )

            # ---- lineage metrics ----------------------------------------
            # All counts come from already-materialized round state, each
            # in ONE aggregation job (the round-1 version fanned out 5+
            # extra jobs re-triggering count scans per metric).
            if self.collect_metrics:
                per_hg = {
                    r["host_group"]: r["n"]
                    for r in batch.groupBy("host_group")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                status_row = round_results.agg(
                    F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
                    F.sum((F.col("status") != "ok").cast("long")).alias("err"),
                ).first()
                m = RoundMetrics(
                    round=rnd,
                    selected=sum(per_hg.values()),
                    fetched=int(status_row["ok"] or 0),
                    errors=int(status_row["err"] or 0),
                    discovered=cand.count() if cand is not None else 0,
                    new_urls=n_new if n_new is not None else 0,
                    per_host_group=per_hg,
                    wall_sec=time.monotonic() - t0,
                )
                metrics.append(m)
                self._write_manifest(rnd, m)

        if all_results:
            results = all_results[0]
            for extra in all_results[1:]:
                results = results.unionByName(extra, allowMissingColumns=True)
        else:
            results = self.spark.createDataFrame(
                [], "url_canon string, url string, status string"
            )
        links = (
            links_long(results.filter(F.col("status") == "ok"))
            if "links" in self.modules and all_results
            else None
        )
        return CrawlResult(results=results, url_seen=seen, links=links, metrics=metrics)

    # ------------------------------------------------------------------
    def _materialize(
        self, df: DataFrame, name: str, rnd: int, durable: bool = True
    ) -> DataFrame:
        """Commit a state table for this round (checkpoint = snapshot).

        Writing + re-reading truncates lineage (the BSP round boundary)
        and is the resume point. Without a checkpoint dir: reliable
        (parquet, ephemeral dir) commits when running multi-executor —
        executor loss must not destroy round state — else localCheckpoint
        (same truncation, no persistence, no I/O).

        ``durable=False`` marks a within-round WORKING SET (the round's
        batch, discovery candidates, new_urls): in ephemeral
        multi-executor mode these are cached (persist MEMORY_AND_DISK)
        instead of written to parquet — lineage stays intact, so executor
        loss triggers recompute from the last durable table rather than
        job failure (strictly better than localCheckpoint, equal
        correctness to parquet), and the per-round disk round-trip
        disappears from the critical path. Cross-round state
        (frontier/seen/results) stays parquet-committed: that is the
        lineage-truncation boundary that keeps multi-round plans flat.
        """
        if self.checkpoint_dir and durable:
            path = os.path.join(self.checkpoint_dir, f"round={rnd}", name)
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)
        if self.reliable_state or self.checkpoint_dir:
            # within-round working sets are cached, never checkpoint
            # files: a checkpointed crawl's resume contract reads only
            # the durable tables (frontier/seen/results), and the
            # durable-commit disk round-trip is pure overhead for state
            # with no cross-round consumer (r8 review)
            if durable:
                path = os.path.join(self._ensure_state_dir(), f"round={rnd}", name)
                df.write.mode("overwrite").parquet(path)
                return self.spark.read.parquet(path)
            from pyspark.storagelevel import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._working_sets.append(df)
            return df
        return df.localCheckpoint(eager=True)

    def _commit_async(self, df: DataFrame, name: str, rnd: int):
        """Submit an ephemeral round-state commit on a background thread
        and return its Future (result = the committed, lineage-truncated
        frame). The write then overlaps the round's tail jobs (metrics
        collects, manifest write) and the sibling commit (frontier and
        seen commit concurrently, pool of 2) instead of serializing at
        the top of the next round. Spark local properties are per-thread
        (pinned-thread mode), so the commit runs in its own job group and
        scheduler pool — under FAIR scheduling it never starves the
        foreground round, under default FIFO the jobs still interleave
        whenever task slots are free."""
        if self._commit_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._commit_pool = ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="reffy-state-commit"
            )

        def work() -> DataFrame:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", "reffy_state_commit")
            sc.setJobGroup(
                f"reffy-state-{name}-r{rnd}",
                "async ephemeral round-state commit",
                False,
            )
            return self._materialize(df, name, rnd)

        return self._commit_pool.submit(work)

    def _release_working_sets(self) -> None:
        for df in self._working_sets:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        self._working_sets = []

    def _write_manifest(self, rnd: int, m: RoundMetrics) -> None:
        if not self.checkpoint_dir:
            return
        path = os.path.join(self.checkpoint_dir, f"round={rnd}", "manifest.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "round": m.round,
                    "selected": m.selected,
                    "fetched": m.fetched,
                    "errors": m.errors,
                    "discovered": m.discovered,
                    "new_urls": m.new_urls,
                    "per_host_group": m.per_host_group,
                    "wall_sec": m.wall_sec,
                    "modules": self.modules,
                },
                f,
                indent=1,
            )


def link_targets(results: DataFrame) -> DataFrame:
    """Outgoing page URLs of each result row (JSON map keys only, both
    link kinds) as a one-column ``url`` frame — the frontier-discovery
    feed. Skips ``links_long``'s per-anchor explode: fragments are
    irrelevant to crawl candidates, and the frontier dedup collapses
    multiplicity, so consumers see the identical candidate set."""
    schema = "map<string, struct<anchors: array<string>>>"

    def keys(kind: str):
        return F.map_keys(
            F.from_json(F.get_json_object(F.col("links"), f"$.{kind}"), schema)
        )

    empty = F.array().cast("array<string>")
    return results.select(
        F.explode(
            F.concat(
                F.coalesce(keys("rawlinks"), empty),
                F.coalesce(keys("autolinks"), empty),
            )
        ).alias("url")
    )


def links_long(results: DataFrame) -> DataFrame:
    """Normalize the links JSON column into a long table
    (url_canon, page_url, fragment, is_autolink) — FIXTURES.md §5
    golden_links shape. JSON parsing happens JVM-side (from_json).

    SINGLE PASS (r8): both kinds are parsed in one projection and
    stacked with an array concat + one explode, instead of a union whose
    two branches each re-evaluated the whole upstream lineage (the
    Arrow extraction when unmaterialized — pagerank/extract_links ran
    extraction twice; the crawl loop re-parsed the results JSON twice
    per consumer). Same output bag: per kind, per map entry, one row per
    anchor (or one NULL-fragment row when the entry has none).
    """
    schema = "map<string, struct<anchors: array<string>>>"
    entry_t = (
        "array<struct<page_url:string,anchors:array<string>,"
        "is_autolink:boolean>>"
    )

    def entries(kind: str, flag: bool):
        m = F.from_json(F.get_json_object(F.col("links"), f"$.{kind}"), schema)
        return F.transform(
            F.map_entries(m),
            lambda e: F.struct(
                e["key"].alias("page_url"),
                e["value"]["anchors"].alias("anchors"),
                F.lit(flag).alias("is_autolink"),
            ),
        )

    stacked = results.select(
        F.col("url_canon"),
        F.explode(
            F.concat(
                F.coalesce(entries("rawlinks", False), F.expr(f"CAST(array() AS {entry_t})")),
                F.coalesce(entries("autolinks", True), F.expr(f"CAST(array() AS {entry_t})")),
            )
        ).alias("e"),
    ).filter(F.col("e.page_url").isNotNull())
    return stacked.select(
        "url_canon",
        F.col("e.page_url").alias("page_url"),
        F.explode_outer(
            F.coalesce(F.col("e.anchors"), F.array().cast("array<string>"))
        ).alias("fragment"),
        F.col("e.is_autolink").alias("is_autolink"),
    )
