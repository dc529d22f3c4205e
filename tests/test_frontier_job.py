"""Crawl-frontier maintenance job (jobs/frontier.py): discovery, seen
anti-join (plain + Bloom-forced), robots filtering, scheduling, resume,
config drift."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jobs.frontier import run_frontier

ROBOTS = [
    ("a.com", "User-agent: *\nDisallow: /private/\n"),
    ("b.com", "User-agent: googlebot\nDisallow: /\n"),  # no * group
]

PAGES = [
    # a.com index links: two new pages, one private (robots), one seen,
    # one off-site; b.com page links back
    ("https://a.com/i.html",
     '<a href="/new1.html">1</a><a href="new2.html">2</a>'
     '<a href="/private/s.html">p</a><a href="/old.html">o</a>'
     '<a href="https://b.com/x.html">b</a>'),
    # second page cites new1 again -> n_refs 2 -> higher priority
    ("https://a.com/j.html", '<a href="/new1.html">1</a>'),
    ("https://b.com/x.html", '<a href="https://a.com/i.html">a</a>'),
]

SEEN = ["https://a.com/i.html", "https://a.com/j.html",
        "https://b.com/x.html", "https://a.com/old.html"]


@pytest.fixture()
def inputs(spark, tmp_path):
    fetched = str(tmp_path / "fetched")
    seen = str(tmp_path / "seen")
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [(u, u, h) for u, h in PAGES], "doc_id string, url string, text string"
    ).write.parquet(fetched)
    spark.createDataFrame([(u,) for u in SEEN], "url string").write.parquet(seen)
    spark.createDataFrame(ROBOTS, "host string, body string").write.parquet(robots)
    return fetched, seen, robots


def _run(spark, inputs, tmp_path, run_id="f1", **kw):
    fetched, seen, robots = inputs
    return run_frontier(
        spark, fetched, seen, robots, str(tmp_path / "out"),
        str(tmp_path / "lineage"), run_id, **kw,
    )


def test_frontier_cycle(spark, inputs, tmp_path):
    stats = _run(spark, inputs, tmp_path)
    out = str(tmp_path / "out")
    disc = {r["url"]: r["n_refs"] for r in
            spark.read.parquet(f"{out}/discovered").collect()}
    # new1 cited by two pages; all links canonicalized and deduped
    assert disc["https://a.com/new1.html"] == 2
    assert disc["https://a.com/i.html"] == 1
    front = {r["url"]: r.asDict() for r in
             spark.read.parquet(f"{out}/frontier").collect()}
    # seen urls and robots-blocked urls are gone; only genuinely-new remain
    assert set(front) == {"https://a.com/new1.html", "https://a.com/new2.html"}
    # n_refs priority: new1 (2 refs) schedules before new2 (1 ref)
    assert front["https://a.com/new1.html"]["slot"] == 0
    assert front["https://a.com/new2.html"]["slot"] == 1
    assert front["https://a.com/new2.html"]["fetch_offset_s"] == 1.0
    blocked = {r["url"] for r in spark.read.parquet(f"{out}/blocked").collect()}
    assert blocked == {"https://a.com/private/s.html"}
    assert stats["artifacts_reused"] == 0

    # resume: all three artifacts reused, nothing rebuilt
    stats2 = _run(spark, inputs, tmp_path)
    assert stats2["artifacts_reused"] == 3
    assert stats2["frontier"] == stats["frontier"]


def test_frontier_bloom_path_matches_plain(spark, inputs, tmp_path):
    plain = _run(spark, inputs, tmp_path)
    bloom = run_frontier(
        spark, inputs[0], inputs[1], inputs[2], str(tmp_path / "out2"),
        str(tmp_path / "lin2"), "f2", bloom_min=1,   # force the Bloom path
    )
    a = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "out") + "/frontier").collect()))
    b = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "out2") + "/frontier").collect()))
    assert a == b and plain["frontier"] == bloom["frontier"]


def test_frontier_config_drift_rejected(spark, inputs, tmp_path):
    _run(spark, inputs, tmp_path)
    with pytest.raises(ValueError, match="config mismatch"):
        _run(spark, inputs, tmp_path, crawl_delay_s=2.0)
    # the optional channels shape artifact CONTENT too (ADVICE r3): a crash
    # re-launched with --records/--ranks/--bloom-min added must not silently
    # reuse artifacts built without them
    with pytest.raises(ValueError, match="config mismatch"):
        _run(spark, inputs, tmp_path, records_path=str(tmp_path / "recs"))
    with pytest.raises(ValueError, match="config mismatch"):
        _run(spark, inputs, tmp_path, bloom_min=1)


def test_frontier_sitemap_and_redirect_channels(spark, inputs, tmp_path):
    from doc_agent_spark.sources import warc as warcsrc

    sitemaps = str(tmp_path / "sitemaps")
    spark.createDataFrame(
        [("<urlset><url><loc>https://a.com/sm1.html</loc></url>"
          "<url><loc>https://a.com/new1.html</loc></url></urlset>",)],
        "body string",
    ).write.parquet(sitemaps)
    records = str(tmp_path / "records")
    rows = list(warcsrc.parse_warc_bytes(
        warcsrc.make_warc_redirect("https://a.com/gone", "https://a.com/rt.html")
    ))
    spark.createDataFrame(rows, warcsrc.WARC_RECORDS).write.parquet(records)

    fetched, seen, robots = inputs
    stats = run_frontier(
        spark, fetched, seen, robots, str(tmp_path / "out3"),
        str(tmp_path / "lin3"), "f3", sitemaps_path=sitemaps,
        records_path=records,
    )
    out = str(tmp_path / "out3")
    disc = {r["url"]: r["n_refs"] for r in
            spark.read.parquet(f"{out}/discovered").collect()}
    # sitemap seed + redirect target join the discovered set; a URL both
    # linked AND sitemapped accumulates citations across channels
    assert disc["https://a.com/sm1.html"] == 1
    assert disc["https://a.com/rt.html"] == 1
    assert disc["https://a.com/new1.html"] == 3   # 2 links + 1 sitemap
    front = {r["url"] for r in spark.read.parquet(f"{out}/frontier").collect()}
    assert {"https://a.com/sm1.html", "https://a.com/rt.html"} <= front


def test_crawl_cycle_from_warc_archive(spark, tmp_path):
    """The full loop: a crawl archive parses into fetched docs, the
    frontier job discovers their outlinks, excludes what was already
    fetched and what robots forbids, and schedules cycle N+1."""
    from doc_agent_spark.sources import warc as warcsrc

    pages = {
        "https://s.example.com/index.html":
            '<a href="a.html">a</a><a href="/b.html">b</a>'
            '<a href="/keepout/secret.html">s</a>',
        "https://s.example.com/a.html": '<a href="/b.html">b</a>',
    }
    archive = tmp_path / "cycle1.warc.gz"
    warcsrc.write_warc_file(str(archive), [
        warcsrc.make_warc_response(uri=u, body=h.encode(), gzip_member=True)
        for u, h in pages.items()
    ])
    fetched_path = str(tmp_path / "fetched")
    seen_path = str(tmp_path / "seen")
    records = warcsrc.read_warc(spark, str(archive))
    docs = warcsrc.warc_to_docs(records)
    docs.write.parquet(fetched_path)
    docs.select("url").write.parquet(seen_path)   # cycle 1's own fetches
    robots_path = str(tmp_path / "robots")
    spark.createDataFrame(
        [("s.example.com", "User-agent: *\nDisallow: /keepout/\n")],
        "host string, body string",
    ).write.parquet(robots_path)

    stats = run_frontier(
        spark, fetched_path, seen_path, robots_path,
        str(tmp_path / "out"), str(tmp_path / "lin"), "cycle2",
    )
    front = {r["url"]: r["priority"] for r in
             spark.read.parquet(str(tmp_path / "out") + "/frontier").collect()}
    # b.html cited by both fetched pages; a.html and index are seen;
    # /keepout/ robots-blocked
    assert front == {"https://s.example.com/b.html": 2}
    blocked = {r["url"] for r in
               spark.read.parquet(str(tmp_path / "out") + "/blocked").collect()}
    assert blocked == {"https://s.example.com/keepout/secret.html"}
    assert stats["frontier"] == 1 and stats["blocked"] == 1


def test_frontier_host_rank_channel(spark, inputs, tmp_path):
    ranks = str(tmp_path / "ranks")
    spark.createDataFrame(
        [("https://a.com/i.html", 0.5), ("https://a.com/j.html", 0.2),
         ("https://b.com/x.html", 0.3)],
        "id string, rank double",
    ).write.parquet(ranks)
    fetched, seen, robots = inputs
    run_frontier(
        spark, fetched, seen, robots, str(tmp_path / "out4"),
        str(tmp_path / "lin4"), "f4", ranks_path=ranks,
    )
    front = {r["url"]: r["host_rank"] for r in
             spark.read.parquet(str(tmp_path / "out4") + "/frontier").collect()}
    # both new a.com urls carry the host-summed authority 0.7
    assert front == {
        "https://a.com/new1.html": 0.7,
        "https://a.com/new2.html": 0.7,
    }


def test_frontier_seen_out_snapshot(spark, inputs, tmp_path):
    fetched, seen, robots = inputs
    out = str(tmp_path / "out5")
    seen_out = str(tmp_path / "seen_next")
    stats = run_frontier(
        spark, fetched, seen, robots, out, str(tmp_path / "lin5"), "f5",
        seen_out_path=seen_out,
    )
    nxt = {r["url"] for r in spark.read.parquet(seen_out).collect()}
    # next snapshot = old seen UNION everything discovered this cycle
    assert set(SEEN) <= nxt
    assert "https://a.com/new1.html" in nxt
    assert "https://a.com/private/s.html" in nxt  # discovered even if blocked
    assert stats["seen_out"] == len(nxt)
    # second run reuses the committed snapshot and all three artifacts:
    # it reads lineage once and counts fetched and the snapshot, and
    # never reads seen or robots (not even their schema)
    sc = spark.sparkContext
    sc.setJobGroup("frontier-reuse", "frontier-reuse")
    try:
        stats2 = run_frontier(
            spark, fetched, seen, robots, out, str(tmp_path / "lin5"), "f5",
            seen_out_path=seen_out,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats2["artifacts_reused"] == 3
    assert stats2["seen_out"] == stats["seen_out"]
    assert stats2["fetched_pages"] == stats["fetched_pages"] == len(PAGES)
    assert len(sc.statusTracker().getJobIdsForGroup("frontier-reuse")) <= 6
