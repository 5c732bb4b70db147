#!/usr/bin/env python
"""URL-seen membership-structure bench: exact anti-join vs bloom split
vs cuckoo split on a DISCOVERY-heavy crawl (the stage these structures
exist for — every round anti-joins the discovered-link candidates
against the growing seen set).

Workload: synthetic closed web of N pages, small seed set, multi-round
BFS discovery (discover=True), identical crawls by construction (the
three-path e2e test asserts equality; this script measures time).

Usage: python tools/seenfilter_bench.py [n_pages] [n_seeds] [rounds]
                                        [preseed]
``preseed`` > 0 unions that many already-seen urls into round-0 state
("round N+1 of a long crawl" — the regime where the per-round exact
anti-join against the full seen set is the cost the filters remove).
Prints one JSON line per mode and a summary line. The bloom mode forces
the bloom on at every seen size (``BLOOM_MIN_ITEMS`` = 0) so the
structure itself is measured. Cores: ``$SPARK_GRAFT_CPUS``, else 32.
"""

import json
import os
import sys
import time

sys.path.insert(0, ".")

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
N_SEEDS = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
ROUNDS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
# optional: urls already in the seen set before round 1 — "round N+1 of
# a long crawl", the regime the membership structures exist for
PRESEED = int(sys.argv[4]) if len(sys.argv) > 4 else 0


def main() -> None:
    from reffy_spark.operators.crawler import CrawlEngine
    from reffy_spark.session import get_spark
    from reffy_spark.sources import synthetic as syn

    from reffy_spark.operators import frontier as FR

    FR.BLOOM_MIN_ITEMS = 0
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("seenfilter_bench", cores=cores, shuffle_partitions=cores)
    pages = syn.gen_pages(spark, N_PAGES, partitions=64)
    pages.write.mode("overwrite").parquet("/tmp/seenfilter_pages.parquet")
    pages = spark.read.parquet("/tmp/seenfilter_pages.parquet")
    seeds = syn.gen_seeds(spark, N_PAGES, N_SEEDS)
    robots = syn.gen_robots(spark)

    # untimed warm-up (cold-JIT constants, bench.py protocol)
    warm = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False, discover=True,
    )
    warm.crawl(seeds.limit(200), max_rounds=2).results.count()

    preseed_df = None
    if PRESEED:
        # "round N+1 of a long crawl": the seen set already holds
        # PRESEED urls from earlier rounds (disjoint hosts, so they
        # never match a candidate — they only make `seen` big, which is
        # the regime the membership structures exist for). Written to
        # parquet like a real round commit.
        from pyspark.sql import functions as F

        spark.range(PRESEED).select(
            F.concat(
                F.lit("https://old-"), F.col("id"), F.lit(".test/")
            ).alias("url_canon"),
            F.lit(0).alias("first_round"),
        ).write.mode("overwrite").parquet("/tmp/seenfilter_preseed.parquet")
        preseed_df = spark.read.parquet("/tmp/seenfilter_preseed.parquet")

    results = {}
    for mode, label in ((False, "exact"), (True, "bloom"), ("cuckoo", "cuckoo")):
        eng = CrawlEngine(
            spark, pages, robots, modules=["links"], use_bloom=mode,
            collect_metrics=False, discover=True, round_ms=1_000_000_000,
            # a crawl knows its budget: one epoch build absorbs the run
            seen_capacity_hint=N_PAGES + PRESEED,
        )
        t0 = time.monotonic()
        if preseed_df is None:
            res = eng.crawl(seeds, max_rounds=ROUNDS)
        else:
            # replicate crawl()'s round-0 setup, then union the
            # long-crawl seen state in (engine API: _run_rounds is the
            # resume entry point minus the checkpoint read)
            from pyspark.sql import functions as F

            sd = eng._seed_index(seeds)
            fr = FR.to_frontier(
                sd.select("url", F.col("seed_idx").cast("int")),
                round_no=0,
                assume_canonical_unique=False,
            )
            fr = FR.apply_robots(fr, robots).drop("url")
            fr = eng._materialize(fr, "frontier", 0, durable=False)
            seen0 = fr.select(
                "url_canon", F.lit(0).alias("first_round")
            ).unionByName(preseed_df)
            seen0 = eng._materialize(seen0, "seen", 0, durable=False)
            res = eng._run_rounds(fr, seen0, start_round=1, max_rounds=ROUNDS)
        n = res.results.count()
        seen_n = res.url_seen.count()
        dt = round(time.monotonic() - t0, 2)
        results[label] = {"sec": dt, "fetched": n, "seen": seen_n}
        print(json.dumps({"mode": label, **results[label]}), flush=True)

    base = results["exact"]["sec"]
    print(json.dumps({
        "n_pages": N_PAGES, "n_seeds": N_SEEDS, "rounds": ROUNDS,
        "preseed": PRESEED,
        "exact_sec": base,
        "bloom_vs_exact": round(results["bloom"]["sec"] / base, 3),
        "cuckoo_vs_exact": round(results["cuckoo"]["sec"] / base, 3),
        "identical_seen": len({r["seen"] for r in results.values()}) == 1,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
