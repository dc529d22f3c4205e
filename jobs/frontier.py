"""Crawl-frontier maintenance job — the cycle-N → cycle-N+1 shape: grow
the frontier from this cycle's fetched pages without rescanning history.

    spark-submit --py-files dist.zip jobs/frontier.py \\
        --fetched warehouse/crawl_2026_08 --seen warehouse/seen_urls \\
        --robots warehouse/robots --output warehouse/frontier_2026_09 \\
        --lineage warehouse/lineage --run-id f42 --crawl-delay 1.0

Inputs: ``--fetched`` (doc_id, url, text) — the pages this cycle actually
retrieved (e.g. the WARC ingest's docs bridge); ``--seen`` (url) — every
canonical URL already fetched or enqueued, snapshot N's dedup state;
``--robots`` (host, body) — the per-host robots.txt bodies. Outputs, each
independently committed through the artifact ledger (sinks/ledger.py:
parquet + _SUCCESS == done, re-run skips, one lineage row per artifact):

  discovered/  (url, host, n_refs)  distinct canonical outlinks extracted
               from fetched HTML + how many fetched pages referenced each
               — the in-batch citation count that doubles as priority
  frontier/    (url, host, priority, slot, fetch_offset_s)  NEW urls only
               (anti-joined against --seen; Bloom-reduced past
               --bloom-min: plans/runtime_filter.drop_list_anti_join),
               robots-filtered, politeness-scheduled per host
  blocked/     (url, host)  robots-disallowed discoveries, kept for audit
               (the never-silently-drop contract)

Snapshot N+1's seen set = seen ∪ discovered (union, never a rewrite — the
same mergeable-artifact rule as the minhash band index), so the cost of a
cycle scales with the batch's outlink mass, not with crawl history.

Scale shape: outlink extraction/resolution/canonicalization is scan-side
column algebra (functions/urls.py); the only shuffles are the per-URL
dedup groupBy and the per-host scheduling window; the seen anti join
ships a Bloom filter instead of the history table; robots rules are
per-host metadata and broadcast.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ARTIFACTS = ["discovered", "frontier", "blocked"]

from doc_agent_spark.sinks.ledger import Ledger, commit  # noqa: E402
from doc_agent_spark.sources.tables import read_input  # noqa: E402


def run_frontier(
    spark: SparkSession,
    fetched_path: str,
    seen_path: str,
    robots_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str,
    crawl_delay_s: float = 1.0,
    bloom_min: int = 1_000_000,
    sitemaps_path: str | None = None,
    records_path: str | None = None,
    ranks_path: str | None = None,
    seen_out_path: str | None = None,
) -> dict:
    from doc_agent_spark.functions import urls
    from doc_agent_spark.operators import frontier as frontops
    from doc_agent_spark.plans import runtime_filter

    t0 = time.time()
    # frontier artifacts are a deterministic function of (inputs, config);
    # resuming under a different config would mix disagreeing artifacts.
    # The optional channels change artifact CONTENT (records → redirect
    # edges in discovered/, ranks → host_rank in frontier/, bloom_min →
    # seen-set reduction shape), so their presence is part of the identity.
    # No stale keys here: any stamp difference raises.
    ledger = Ledger(spark, output_path, lineage_path, run_id, "frontier", ARTIFACTS, {
        "job": "frontier", "crawl_delay_s": crawl_delay_s,
        "bloom_min": bloom_min,
        "sitemaps": sitemaps_path, "records": records_path,
        "ranks": ranks_path,
    })
    # inputs are read (their schema inferred) only when something uses
    # them: a run whose artifacts and seen set are reused reads fetched alone
    fetched = functools.cache(lambda: read_input(spark, fetched_path).select("url", "text"))
    seen = functools.cache(lambda: read_input(spark, seen_path).select("url"))
    robots = functools.cache(lambda: read_input(spark, robots_path).select("host", "body"))

    def build_discovered():
        # n_refs = DISTINCT referencing sources (a nav that repeats one
        # href 50 times is one citation, not fifty); each discovery
        # channel is its own source — a page URL, a redirect's source URI,
        # or the sitemap listing
        links = (
            fetched().select(
                "url",
                F.explode(urls.extract_hrefs(F.col("text"))).alias("ref"),
            )
            .filter(~F.col("ref").startswith("#"))
            .select(
                F.col("url").alias("src"),
                urls.resolve_url(F.col("url"), F.col("ref")).alias("res"),
            )
            .filter(F.col("res").rlike("^https?://"))
            .select("src", urls.url_canonicalize(F.col("res")).alias("link"))
        )
        if sitemaps_path is not None:
            sm = frontops.sitemap_locs(read_input(spark, sitemaps_path))
            links = links.unionByName(
                sm.filter(F.col("url").rlike("^https?://")).select(
                    F.lit("sitemap").alias("src"),
                    urls.url_canonicalize(F.col("url")).alias("link"),
                )
            )
        if records_path is not None:
            from doc_agent_spark.sources import warc as warcsrc

            links = links.unionByName(
                warcsrc.redirect_edges(read_input(spark, records_path)).select(
                    F.col("src"), F.col("dst").alias("link")
                )
            )
        return links.groupBy("link").agg(
            F.count_distinct(F.col("src")).alias("n_refs")
        ).select(
            F.col("link").alias("url"),
            urls.url_host(F.col("link")).alias("host"),
            "n_refs",
        )

    # the seen anti-join + robots chain feeds BOTH remaining artifacts:
    # build it once (checkpoint) and only when an artifact actually needs
    # it — a fully-resumed run must pay neither the chain nor seen.count()
    _fl: list = []

    def flagged():
        if not _fl:
            fl = frontops.robots_filter(
                runtime_filter.drop_list_anti_join(
                    discovered, seen(), "url", seen().count(), bloom_min),
                frontops.parse_robots(robots())
            )
            _fl.append(fl.localCheckpoint(eager=True))
        return _fl[0]

    def build_frontier():
        # hosts publishing a Crawl-delay pace at their own rate; everyone
        # else at the job default (per-host metadata -> broadcast join)
        sched = frontops.schedule_frontier(
            flagged().filter(~F.col("blocked")).drop("blocked"),
            "n_refs", crawl_delay_s=crawl_delay_s,
            delays=frontops.crawl_delays(robots()),
        ).select(
            "url", "host", F.col("n_refs").alias("priority"),
            "slot", "fetch_offset_s",
        )
        # host authority (e.g. graphrank.pagerank over the fetched link
        # graph) rides along for the FETCHER's cross-host ordering —
        # within a host the politeness slots already fix the order, and
        # an unseen URL has no page-level rank, so host-sum is the right
        # granularity for the crawl prior
        if ranks_path is not None:
            hr = (
                read_input(spark, ranks_path)
                .select(urls.url_host(F.col("id")).alias("host"),
                        F.col("rank"))
                .groupBy("host").agg(F.sum("rank").alias("host_rank"))
            )
            sched = sched.join(F.broadcast(hr), "host", "left").withColumn(
                "host_rank", F.coalesce(F.col("host_rank"), F.lit(0.0))
            )
        return sched

    with ledger:
        discovered = ledger.commit("discovered", build_discovered)
        ledger.commit("frontier", build_frontier)
        ledger.commit("blocked", lambda: (
            flagged().filter(F.col("blocked")).select("url", "host")
        ))
    seen_out = None
    if seen_out_path is not None:
        # snapshot N+1's dedup state = seen ∪ discovered, written to a NEW
        # path (never a rewrite of snapshot N — the mergeable-artifact
        # rule); committed with the same _SUCCESS/resume contract so a
        # crashed cycle re-runs cleanly. A build counts on its write.
        seen_set, seen_out, reused = commit(
            spark, seen_out_path,
            lambda: seen().unionByName(discovered.select("url")).distinct(),
        )
        if reused:
            seen_out = seen_set.count()
    return {
        "run_id": run_id,
        "fetched_pages": fetched().count(),
        "discovered": ledger.counts["discovered"],
        "frontier": ledger.counts["frontier"],
        "blocked": ledger.counts["blocked"],
        "seen_out": seen_out,
        "reused": ledger.reused,
        "artifacts_reused": sum(ledger.reused.values()),
        "wall_ms": int((time.time() - t0) * 1000),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fetched", required=True)
    ap.add_argument("--seen", required=True)
    ap.add_argument("--robots", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--crawl-delay", type=float, default=1.0)
    ap.add_argument("--bloom-min", type=int, default=1_000_000)
    ap.add_argument("--sitemaps", default=None,
                    help="optional parquet of sitemap XML bodies (body)")
    ap.add_argument("--records", default=None,
                    help="optional parsed-WARC records parquet; 3xx "
                         "Location targets join the discovered set")
    ap.add_argument("--seen-out", default=None,
                    help="write snapshot N+1's seen set (seen UNION "
                         "discovered) to this NEW path")
    ap.add_argument("--ranks", default=None,
                    help="optional (id, rank) parquet (e.g. PageRank over "
                         "the crawled graph); host-summed authority joins "
                         "the frontier as host_rank")
    args = ap.parse_args()

    from jobs.extract import ship_package

    spark = SparkSession.builder.appName(f"frontier-{args.run_id}").getOrCreate()
    ship_package(spark)
    try:
        print(json.dumps(run_frontier(
            spark, args.fetched, args.seen, args.robots, args.output,
            args.lineage, args.run_id, crawl_delay_s=args.crawl_delay,
            bloom_min=args.bloom_min, sitemaps_path=args.sitemaps,
            records_path=args.records, ranks_path=args.ranks,
            seen_out_path=args.seen_out,
        )))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
