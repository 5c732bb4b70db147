"""Frontier layer: canonicalize → URL-seen dedup → politeness ranking.

Pure relational (no UDF state), per SURVEY.md §7.0 layer 1. This is the
Spark re-expression of the reference's scheduler:

* URL-seen set = left-anti join on ``url_canon`` (the reference gets
  dedup for free from its fixed seed list — crawlList maps once,
  /root/reference/src/lib/specs-crawler.js:473-479 — a general frontier
  needs the real thing). Once the seen set reaches ``BLOOM_MIN_ITEMS``
  the crawl loop adds a broadcast bloom prefilter built from Spark's
  deterministic ``xxhash64``: rows the bloom has definitely never seen
  skip the seen lookup entirely; only "maybe seen" rows are confirmed
  exactly. Below that size the bloom's Python build/probe/fold stages
  cost more than the exact anti-join they prune, so the exact anti-join
  runs alone. The exact set remains the source of truth (FIXTURES.md §3).
* Politeness = per-``host_group`` budget ranking
  (/root/reference/src/lib/throttled-queue.js:110-128 per-origin serial
  queues + sleepInterval politeness,
  /root/reference/src/lib/specs-crawler.js:461-470): one crawl round may
  fetch at most ``round_ms / crawl_delay_ms`` URLs per host group.
* Skew: ranking shuffles on ``host_group`` (hot hosts like the github.io
  analog dominate); the *extraction* stage re-partitions by url hash
  (salting) so heavy hosts spread across the cluster while fetch
  ordering stays per-host deterministic (SURVEY.md §7.3 risk 4).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType
from pyspark.storagelevel import StorageLevel

# previous _exact_group_rank cache, unpersisted on the next call (one
# live slim cache per crawl loop instead of one per round)
_prev_rank_cache: DataFrame | None = None

from reffy_spark.functions.urls import host_col, host_group_col, with_url_canon

# --------------------------------------------------------------------------
# URL-seen
# --------------------------------------------------------------------------

# Driver-built broadcast bloom is used while the seen set fits comfortably;
# beyond this we fall back to the plain distributed anti-join (at true
# 10^10 scale the bloom would be maintained per hash-partition alongside
# the bucketed seen table — same lifecycle, bigger bitmap).
BLOOM_MAX_ITEMS = 50_000_000


class Bloom:
    """Vectorized double-hashing bloom over Spark ``xxhash64`` values.

    Bits are a numpy array broadcast to executors; membership tests are
    numpy-vectorized inside an Arrow UDF (no per-row Python).
    """

    def __init__(self, n_items: int, fpp: float = 0.01):
        n_items = max(n_items, 16)
        m = int(-n_items * math.log(fpp) / (math.log(2) ** 2))
        self.m = max(64, m)
        self.k = max(1, round(self.m / n_items * math.log(2)))
        self.bits = np.zeros((self.m + 63) // 64, dtype=np.uint64)
        self.n_capacity = n_items  # items this bitmap was sized for

    def _positions(self, h: np.ndarray) -> np.ndarray:
        # double hashing: g_i = h1 + i*h2 mod m  (h is int64 xxhash64)
        h = h.astype(np.uint64)
        h1 = h % np.uint64(self.m)
        h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(self.m)
        return np.stack(
            [(h1 + np.uint64(i) * h2) % np.uint64(self.m) for i in range(self.k)]
        )

    def add_hashes(self, h: np.ndarray) -> None:
        pos = self._positions(np.asarray(h, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, pos // 64, np.uint64(1) << (pos % 64))

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        pos = self._positions(np.asarray(h, dtype=np.int64))
        out = np.ones(pos.shape[1], dtype=bool)
        for row in pos:
            out &= (self.bits[row // 64] >> (row % 64)) & np.uint64(1) != 0
        return out


def build_bloom(
    seen: DataFrame,
    key: str = "url_canon",
    fpp: float = 0.01,
    n_items: int | None = None,
) -> Bloom | None:
    """Build the URL-seen bloom DISTRIBUTED: every partition folds its
    xxhash64 values into a local bitmap (Arrow-batched, numpy-vectorized),
    bitmaps are OR-merged executor-side via treeReduce, and only the final
    bitmap reaches the driver. No ``toPandas`` of raw hashes.

    ``n_items`` sizes the bitmap; pass it when the caller already knows
    the seen-set cardinality (the crawl loop tracks it exactly:
    prev_count + new_urls count, both computed for round metrics) so the
    build never fires a ``count()`` job of its own.

    Above ``BLOOM_MAX_ITEMS`` the bitmap itself (not the build) is the
    limit — a ~12 GB bitmap cannot be broadcast — so we fall back to the
    plain anti-join; at true 10^10 scale the bloom would be maintained
    per hash-partition alongside the bucketed seen table.
    """
    n = seen.count() if n_items is None else n_items
    if n > BLOOM_MAX_ITEMS or n == 0:
        return None
    # Bloom.__init__ records n as n_capacity: fold incrementally up to
    # it; past it the caller performs an explicit epoch rebuild
    proto = Bloom(n, fpp)
    return fold_bloom(proto, seen, key)


def fold_bloom(bloom: Bloom, df: DataFrame, key: str = "url_canon") -> Bloom:
    """OR ``df``'s keys into an existing bloom IN PLACE, distributed:
    per-partition bitmaps (Arrow-batched, numpy-vectorized), executor-
    side treeReduce OR-merge, one final OR on the driver.

    This is the INCREMENTAL half of the bloom lifecycle: per crawl
    round only the round's new_urls are folded; the full seen set is
    scanned only at epoch (re)builds (``build_bloom``), so the filter's
    per-round cost tracks the round's discoveries, not the accumulated
    seen-set size."""
    m, k = bloom.m, bloom.k

    def part_bloom(batches):
        b = Bloom(16)
        b.m, b.k = m, k
        b.bits = np.zeros((m + 63) // 64, dtype=np.uint64)
        for pdf in batches:
            if len(pdf):
                b.add_hashes(pdf["h"].to_numpy())
        yield pd.DataFrame({"bits": [b.bits.tobytes()]})

    bitmaps = df.select(F.xxhash64(key).alias("h")).mapInPandas(
        part_bloom, "bits binary"
    )
    merged = bitmaps.rdd.map(lambda r: bytes(r.bits)).treeReduce(
        lambda a, b: (
            np.frombuffer(a, dtype=np.uint64) | np.frombuffer(b, dtype=np.uint64)
        ).tobytes(),
        depth=2,
    )
    bloom.bits |= np.frombuffer(merged, dtype=np.uint64)
    return bloom


# below this Catalyst-estimated size, shuffling the seen set is cheaper
# than the scan shape's extra broadcast round-trips; above it (or when
# the estimate is unknown — crawl round state is lineage-truncated and
# reports no stats, and a crawl's seen set is the thing that GROWS), the
# scan shape wins and keeps winning as seen grows
_SCAN_ANTI_MIN_BYTES = 64 * 1024 * 1024

# a left/candidate side estimated above this is not broadcastable — the
# scan shape's premise fails and the plain shuffle anti-join is correct
_SCAN_ANTI_MAX_LEFT_BYTES = 256 * 1024 * 1024

# row-count twin of the byte guard, used when Catalyst has no estimate
# (crawl round state is lineage-truncated): ~100 B/url key → ~200 MB
_SCAN_ANTI_MAX_LEFT_ROWS = 2_000_000

# the crawl loop builds the URL-seen bloom only once the exact seen count
# reaches this: the anti_join_scan boundary (64 MB of seen) at the same
# ~100 B/url key, ~670k URLs. The tools/seenfilter_bench.py preseed
# crawl (20k or 100k pages, 3 rounds, bloom forced on vs exact,
# alternating) on local[4], 4-vCPU VM, read bloom/exact 1.3-1.4x at 6k and 32k seen, 1.5x at 300k, 1.6x at 1M,
# 1.4x at 3M and 1.6x at 5M: no crossover up to 5M there. The bloom's
# only measured win is 0.91x at 5M seen on 32 cores with the scan-shaped
# anti-join (BENCH/BASELINE.md, round 7); 32 cores between 63k seen (a
# tie) and 5M is unmeasured, so the bloom stays on from the scan
# boundary up.
BLOOM_MIN_ITEMS = _SCAN_ANTI_MIN_BYTES // 100


from reffy_spark.plan_stats import estimated_bytes as _estimated_bytes


def anti_join_scan(
    left: DataFrame,
    seen: DataFrame,
    key: str = "url_canon",
    left_unique: bool = False,
) -> DataFrame:
    """``left LEFT ANTI JOIN seen`` without ever shuffling ``seen``.

    A plain left_anti cannot broadcast its big right side, so every
    crawl round re-shuffles the ENTIRE seen set even for a handful of
    candidates (r7 seen-filter bench: the dominant per-round cost at
    5M+ seen). Candidates are round-bounded (links of a budget-bounded
    fetch batch), so instead: semi-join ``seen`` against the BROADCAST
    candidate keys — seen is a map-side scan, zero exchange, partition-
    prunable when the seen state is stored bucketed on the key — then
    anti-join ``left`` against the (candidate-bounded, broadcast) hit
    set. Identical answer to the plain anti-join, row-preserving,
    null-key rows kept on the left like left_anti.

    Small seen sets (Catalyst estimate < 64 MB) keep the plain
    anti-join — the scan shape's two broadcast round-trips cost a flat
    ~1 s that a trivial shuffle doesn't (r7 bench: urlseen_antijoin
    1.6× at sf0.1 before this routing). A LEFT side that is itself
    large (not broadcastable) also keeps the plain shuffle: the scan
    shape's premise is a round-bounded candidate set. When Catalyst has
    an estimate the 256 MB byte guard decides (checkpointed/persisted
    round state does report estimates); when it genuinely doesn't
    (RDD-backed frames return the unknown sentinel), a BOUNDED
    limit-probe counts at most ~_SCAN_ANTI_MAX_LEFT_ROWS+1 left rows
    (limit early-exits, so the probe's cost does not grow with left)
    before committing to a broadcast — an explosive-fan-out round
    degrades to the plain anti-join instead of OOMing the driver. An
    unknown SEEN estimate still routes to the scan shape: seen is the
    side that grows.

    ``left_unique=True``: the caller guarantees one row per key (e.g. a
    deduped frontier candidate set), so the broadcast key set skips its
    ``distinct`` — one less exchange per call; purely a plan change
    (duplicate keys would only inflate the broadcast, never the answer).
    """
    est = _estimated_bytes(seen)
    if est is not None and est < _SCAN_ANTI_MIN_BYTES:
        return left.join(seen.select(key), on=key, how="left_anti")
    left_est = _estimated_bytes(left)
    if left_est is not None:
        if left_est > _SCAN_ANTI_MAX_LEFT_BYTES:
            return left.join(seen.select(key), on=key, how="left_anti")
    elif (
        left.select(key).limit(_SCAN_ANTI_MAX_LEFT_ROWS + 1).count()
        > _SCAN_ANTI_MAX_LEFT_ROWS
    ):
        return left.join(seen.select(key), on=key, how="left_anti")
    keys = left.select(key) if left_unique else left.select(key).distinct()
    hits = seen.select(key).join(F.broadcast(keys), on=key, how="left_semi")
    return left.join(F.broadcast(hits), on=key, how="left_anti")


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_canon",
    bloom: Bloom | None = None,
    candidates_unique: bool = False,
) -> DataFrame:
    """Rows of ``candidates`` whose key is not in ``seen``.

    With a bloom: definitely-new rows bypass the seen lookup entirely;
    only maybe-seen rows are confirmed exactly (false-positive-safe).
    Both paths use the scan-shaped anti-join — seen never shuffles.
    ``candidates_unique`` forwards the one-row-per-key guarantee to
    ``anti_join_scan`` (skips the broadcast key set's distinct).
    """
    if bloom is None:
        return anti_join_scan(candidates, seen, key, left_unique=candidates_unique)

    # ship the bitmap via an explicit TorrentBroadcast (one transfer per
    # executor, BitTorrent-style chunks) instead of a UDF closure, which
    # would re-serialize the bitmap into every task binary
    bloom_bc = candidates.sparkSession.sparkContext.broadcast(bloom)

    @pandas_udf(BooleanType())
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bloom_bc.value.might_contain(h.to_numpy()))

    with_flag = candidates.withColumn("_maybe_seen", maybe_seen(F.xxhash64(key)))
    definite_new = with_flag.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    needs_check = with_flag.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = anti_join_scan(
        needs_check, seen, key, left_unique=candidates_unique
    )
    return definite_new.unionByName(confirmed_new)


# --------------------------------------------------------------------------
# Frontier construction
# --------------------------------------------------------------------------

FRONTIER_COLS = [
    "url",
    "url_canon",
    "host",
    "host_group",
    "priority",
    "depth",
    "round_discovered",
]


def to_frontier(
    df: DataFrame,
    depth_col=None,
    priority_col=None,
    round_no: int = 0,
    assume_canonical_unique: bool = False,
) -> DataFrame:
    """Canonicalize candidate URLs into frontier rows (FIXTURES.md §3).

    ``assume_canonical_unique=True`` skips the within-batch dedup
    aggregation when the caller guarantees one row per canonical URL
    (e.g. a seed list derived 1:1 from a pages table already MERGEd on
    url_canon) — the replay path then builds the frontier with zero
    shuffles."""
    out = with_url_canon(df)
    out = out.withColumn("host", host_col(F.col("url_canon")))
    out = out.withColumn("host_group", host_group_col(F.col("url_canon")))
    out = out.withColumn(
        "depth", depth_col if depth_col is not None else F.lit(0)
    )
    out = out.withColumn(
        "priority",
        priority_col
        if priority_col is not None
        else F.lit(1.0) / (F.col("depth") + F.lit(1.0)),
    )
    out = out.withColumn("round_discovered", F.lit(round_no))
    if assume_canonical_unique:
        return out.select("url_canon", *[c for c in out.columns if c != "url_canon"])
    # within-batch dedup: lowest (depth, url) wins per canonical URL.
    # min_by instead of a row_number window: partial aggregation combines
    # map-side, so the shuffle carries one row per canonical URL instead
    # of the full candidate multiset (link graphs are highly redundant).
    payload = [c for c in out.columns if c != "url_canon"]
    return (
        out.groupBy("url_canon")
        .agg(
            F.min_by(F.struct(*payload), F.struct("depth", "url")).alias("_best")
        )
        .select("url_canon", *[F.col(f"_best.{c}").alias(c) for c in payload])
    )


# --------------------------------------------------------------------------
# Robots + politeness
# --------------------------------------------------------------------------


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Keep rows allowed by the longest-matching path-prefix rule.

    The robots table is small: aggregate it to one rule-array per host,
    broadcast-join on host (no shuffle of the frontier side), and
    evaluate longest-prefix-wins as an array expression — zero windows,
    zero extra shuffles. Hosts with no rule at all are allowed.
    """
    path = F.regexp_extract(F.col("url_canon"), r"^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rules_per_host = robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "allow")).alias("_rules")
    )
    joined = frontier.withColumn("_path", path).join(
        F.broadcast(rules_per_host), on="host", how="left"
    )
    matching = F.filter(
        F.coalesce(
            F.col("_rules"),
            F.array().cast("array<struct<path_prefix:string,allow:boolean>>"),
        ),
        lambda r: F.col("_path").startswith(r["path_prefix"]),
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["path_prefix"]).alias("l"), r["allow"].alias("allow")
            ),
        )
    )
    return (
        joined.withColumn("_allow", F.coalesce(best["allow"], F.lit(True)))
        .filter(F.col("_allow"))
        .drop("_path", "_rules", "_allow")
    )


def host_budgets(robots: DataFrame, round_ms: int, default_delay_ms: int = 100) -> DataFrame:
    """Per-host fetch budget for one round: floor(round_ms / crawl_delay).

    Mirrors the reference's per-origin sleep intervals
    (specs-crawler.js:461-470) re-expressed as a BSP budget (SURVEY.md
    §2.9 "stateful rate limiting"). A crawl delay of 0 (legal in real
    robots files: "no delay", the reference's replay-mode sleep of 0 ms,
    specs-crawler.js:463) or NULL must not divide by zero under ANSI
    mode — it clamps to 1 ms, i.e. an effectively unbounded budget.
    """
    return (
        robots.groupBy("host")
        .agg(F.max("crawl_delay_ms").alias("crawl_delay_ms"))
        .select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(round_ms)
                    / F.greatest(F.coalesce("crawl_delay_ms", F.lit(1)), F.lit(1))
                ).cast("int"),
            ).alias("budget"),
        )
    )


def _exact_group_rank(
    df: DataFrame,
    order: list,
    rank_col: str = "host_fetch_rank",
    num_parts: int | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Exact per-``host_group`` ``row_number`` with NO single-task sort of
    a whole group — the two-phase distributed ranking classic:

    1. Range-repartition on (host_group, *order): every partition holds a
       contiguous slice of the global order, so one hot group spreads
       over many partitions while slices stay rank-composable.
    2. Rank locally inside each (partition, group) slice; the global rank
       is the local rank plus the running count of the group's rows in
       earlier partitions — a tiny (groups × partitions)-row offset
       table, broadcast.

    The result is bit-identical to
    ``row_number().over(Window.partitionBy("host_group").orderBy(*order))``
    (ties are impossible: ``url_canon`` terminates the order key and the
    frontier is unique per url_canon), but the largest sort any task does
    is one range-partition's worth of rows, never a whole hot group.
    """
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Rank over ONLY the order-key columns: the double shuffle (range +
    # window hash) carries slim columns, not the whole frontier payload.
    #
    # ``carry``: additional small payload columns (ints, a budget) pulled
    # THROUGH the range shuffle so the caller can consume the ranked slim
    # frame directly — the legacy join-back onto the full payload costs
    # two more frontier-sized shuffles at replay scale. With carry set,
    # the result contains ONLY key+carry+rank columns (strings like
    # url/host are re-derivable from url_canon downstream).
    key_cols = ["host_group", "priority", "depth", "url_canon"]
    carry_cols = [c for c in (carry or []) if c not in key_cols]
    slim = df.select(*key_cols, *carry_cols)
    ranged = slim.repartitionByRange(num_parts, F.col("host_group"), *order)
    # Bake the range-partition id INTO THE DATA under a single
    # materialization (persist): the offsets branch and the rank branch
    # below then read identical (row, _pid) pairs from the cache instead
    # of each re-running the range exchange. Without this the two logical
    # branches only agree on partition boundaries if Catalyst's
    # ReuseExchange fires (byte-identical subtrees after optimization) —
    # an optimizer internal that column-pruning drift across Spark
    # versions could silently break, desyncing boundaries into off-by-N
    # ranks. persist (not localCheckpoint) keeps lineage, so executor
    # loss recomputes from the already-written shuffle files with the
    # same boundaries. The cache is slim (4 key columns + an int).
    part = ranged.withColumn("_pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    global _prev_rank_cache
    if _prev_rank_cache is not None:
        try:
            _prev_rank_cache.unpersist(blocking=False)
        except Exception:
            pass
    _prev_rank_cache = part
    counts = part.groupBy("host_group", "_pid").agg(F.count(F.lit(1)).alias("_c"))
    # running count of earlier partitions' rows per group; the window
    # input is the tiny counts table (≤ num_parts rows per group), not
    # the frontier.
    w_off = (
        Window.partitionBy("host_group")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "host_group",
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    # local rank: the window hash-partitions on (_pid, host_group) — a
    # hot group splits into num_parts independent sort tasks.
    w_local = Window.partitionBy("_pid", "host_group").orderBy(*order)
    ranked = (
        part.withColumn("_lr", F.row_number().over(w_local))
        .join(F.broadcast(offsets), on=["host_group", "_pid"], how="inner")
        .withColumn(rank_col, (F.col("_off") + F.col("_lr")).cast("int"))
    )
    if carry is not None:
        return ranked.select(*key_cols, *carry_cols, rank_col)
    # join ranks back onto the full payload by the unique row key
    # (frontier contract: one row per url_canon); the payload side is
    # already hash-partitioned by url_canon from to_frontier's dedup, so
    # only the slim rank table re-shuffles here.
    return df.join(ranked.select("url_canon", rank_col), on="url_canon", how="inner")


def politeness_rank(
    pending: DataFrame,
    robots: DataFrame,
    round_ms: int,
    default_delay_ms: int = 100,
    prune_salts: int = 32,
    max_crawl_delay_ms: int | None = None,
) -> DataFrame:
    """Select ≤budget URLs per host_group for this round (W1 + §2.6 top-k).

    Deterministic order inside a host group: priority desc, depth asc,
    url_canon asc — this is the per-host fetch sequence the parity tests
    assert (SURVEY.md §7.3 invariant 3). Returns rows with
    ``host_fetch_rank`` (1-based position in the host's queue this round).

    Scale shape — no code path sorts a whole host group in one task:

    * budget-bounded rounds (the production politeness case): a salted
      pre-prune keeps only each (group, salt)'s local top-``budget`` —
      ``prune_salts``-way parallel per group — so the final rank window
      sees at most salts×budget rows per group. Any row in the true group
      top-budget is by definition in its salt slice's top-budget, so the
      result (and the CORRECTNESS hash) is identical to a direct window.
    * unbounded budgets (seed-list replay, round_ms ≫ crawl delays):
      pruning keeps nothing, so the rank itself must scale —
      ``_exact_group_rank`` two-phase ranking (range repartition +
      salt-local row_number + broadcast offset table) replaces the raw
      per-group window that round 2 fell through to (the flagged
      100×-scale-killer: one task sorting a hot group's whole slice).

    ``max_crawl_delay_ms``: the robots table's ``max(crawl_delay_ms)``.
    Pass it when the robots config is loaded (it is one tiny aggregate
    over a config table) to keep this function action-free; when None it
    is derived here (one extra Spark job per round).
    """
    budgets = host_budgets(robots, round_ms, default_delay_ms)
    # budget of a host_group = budget of its slowest member host seen so far;
    # hosts without robots rows fall back to the default delay.
    default_budget = max(1, round_ms // default_delay_ms)
    with_budget = pending.join(F.broadcast(budgets), on="host", how="left").withColumn(
        "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
    )
    group_budgets = with_budget.groupBy("host_group").agg(
        F.min("budget").alias("_gb")
    )
    order = [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("url_canon").asc(),
    ]
    # The salted pre-prune only pays when budgets actually prune. The
    # cheapest possible budget is floor(round_ms / max_crawl_delay) —
    # a property of the (small) robots config, not of the frontier.
    if max_crawl_delay_ms is None:
        row = robots.agg(F.max("crawl_delay_ms")).first()
        max_crawl_delay_ms = row[0] if row is not None else None
    min_budget = default_budget
    if max_crawl_delay_ms:
        min_budget = min(
            min_budget, max(1, round_ms // int(max_crawl_delay_ms))
        )
    if min_budget < 100_000:
        salted = with_budget.join(group_budgets, on="host_group").withColumn(
            "_salt", F.pmod(F.xxhash64("url_canon"), F.lit(prune_salts))
        )
        w_local = Window.partitionBy("host_group", "_salt").orderBy(*order)
        pruned = (
            salted.withColumn("_lr", F.row_number().over(w_local))
            .filter(F.col("_lr") <= F.col("_gb"))
            .drop("_lr", "_salt")
        )
        w_final = Window.partitionBy("host_group").orderBy(*order)
        ranked = pruned.withColumn("host_fetch_rank", F.row_number().over(w_final))
    else:
        # unbounded replay: consume the ranked slim frame directly — no
        # join-back onto the full frontier (two saved frontier-sized
        # shuffles). Numeric metadata is carried through the range
        # shuffle; string columns (url, host) are dropped here and
        # re-derived from url_canon downstream where needed.
        wb = with_budget.join(group_budgets, on="host_group")
        carry = [
            c
            for c in wb.columns
            if c not in ("host_group", "priority", "depth", "url_canon",
                         "url", "host", "budget")
        ]
        ranked = _exact_group_rank(wb, order, carry=carry)
    return (
        ranked.filter(F.col("host_fetch_rank") <= F.col("_gb"))
        .drop("_gb", "budget")
    )
