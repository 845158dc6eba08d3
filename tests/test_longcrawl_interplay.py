"""Long-crawl interplay: compaction × recrawl (requeue AND prune) ×
PageRank reseed × kill/resume, interleaved over a 30+-round crawl.

Each mechanism is individually tested (test_compaction / test_recrawl /
test_hostgraph), but all three rewrite the SAME append tables
(frontier/url_seen/bloom/fingerprints/extracted) — this test closes the
combination risk: after every maintenance boundary the seen-filter fast
path must still equal the exact anti-join, the frontier must stay
duplicate-free and consistent with url_seen, snapshot fan-in must stay
bounded by the compaction cadence, and a kill/resume at the boundary
must continue cleanly (ST4).

Throttled politeness (quota 2/host/round) keeps the small corpus alive
for tens of rounds; requeue-recrawls refill the frontier so the crawl
never drains before the schedule completes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, gen_corpus, pages_df
from searchengine_spark.crawler.tableio import TableIO

N_PAGES, SEED, CADENCE = 140, 7, 4


def _cfg(seeds):
    return CrawlConfig(
        seeds=seeds,
        allowed_host_re=ALLOWED_HOST_RE,
        seen_backend="cuckoo",  # prune-mode recrawl needs deletability
        track_host_graph=True,  # reseed needs the edge log
        compact_every=CADENCE,
        max_per_host_per_round=2,  # slow drain → long crawl
    )


def _probe_equals_exact(spark, io, cfg):
    """Seen-filter fast path ≡ exact anti-join on a seen+fresh mix —
    the invariant every maintenance op must preserve."""
    SEEN = cfg.seen_module()
    seen = io.read("url_seen")
    segments = io.read("bloom")
    fresh = spark.range(300).select(
        F.concat(F.lit("https://never-seen.test/p"), F.col("id")).alias(
            "canon_url"
        )
    )
    cands = (
        seen.select("canon_url")
        .limit(50)
        .unionByName(fresh)
        .withColumn("url_hash", F.xxhash64("canon_url"))
    )
    fast = {
        r["canon_url"]
        for r in SEEN.filter_new(
            cands, seen, segments, cfg.n_bloom_segments
        ).collect()
    }
    exact = {
        r["canon_url"] for r in SEEN.filter_new(cands, seen, None).collect()
    }
    assert fast == exact


def _invariants(spark, io, cfg, where):
    frontier = io.read("frontier").collect()
    urls = [r["canon_url"] for r in frontier]
    assert len(urls) == len(set(urls)), f"duplicate frontier rows at {where}"
    # cuckoo backend: every frontier row was admitted through the seen
    # set, and prune removes both together → the sets stay EQUAL
    seen = {r["canon_url"] for r in io.read("url_seen").collect()}
    assert seen == set(urls), f"url_seen ≠ frontier at {where}"
    # fingerprints only for currently-FETCHED rows (requeue purges them)
    fetched = {r["canon_url"] for r in frontier if r["status"] == "FETCHED"}
    fp_urls = {r["canon_url"] for r in io.read("fingerprints").collect()}
    assert fp_urls <= fetched, f"orphan fingerprints at {where}"
    # extracted history: latest row per url never newer than the
    # frontier's round_fetched (refetch appends; dup-gated refetches
    # legitimately leave the history one round behind)
    ex_latest = {
        r["canon_url"]: r["mx"]
        for r in io.read("extracted")
        .groupBy("canon_url")
        .agg(F.max("round_fetched").alias("mx"))
        .collect()
    }
    rf = {r["canon_url"]: r["round_fetched"] for r in frontier}
    for u, mx in ex_latest.items():
        # urls absent from the frontier were prune-recrawled: extracted
        # is a fetch-HISTORY log (WARC-archive shape), so their content
        # rows legitimately outlive the crawl state
        if u in rf and rf[u] >= 0:
            assert mx <= rf[u], f"extracted newer than frontier at {where}"
    _probe_equals_exact(spark, io, cfg)


def _snapshots_bounded(io, where):
    """Append-table fan-in stays bounded by the cadence plus the
    maintenance ops' own base snapshots — never O(crawl age)."""
    for table in ("url_seen", "fingerprints", "bloom"):
        tdir = os.path.join(io.warehouse, table)
        n = sum(1 for d in os.listdir(tdir) if d.startswith("snap-"))
        assert n <= CADENCE + 2, f"{table} fan-in {n} at {where}"


def _resume(spark, io):
    """Kill/reopen at the current boundary (ST4): fresh TableIO over the
    same warehouse, orphan GC, same latest round."""
    r = io.latest_round()
    io2 = TableIO(spark, io.warehouse)
    io2.gc_orphans()
    assert io2.latest_round() == r
    return io2


def test_long_crawl_interplay(spark, tmp_path):
    _, _, seeds = gen_corpus(N_PAGES, SEED)
    cfg = _cfg(seeds)
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    pages_kv = FR.prepare_pages(pdf, cfg.n_partitions)
    wh = str(tmp_path / "wh")
    io = TableIO(spark, wh)
    try:
        # rounds 1-5 (compaction at 4)
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=5)
        assert io.latest_round() == 5
        _invariants(spark, io, cfg, "r5")

        # requeue-recrawl (r6) + kill/resume at the boundary
        r = FR.recrawl_frontier(spark, io, cfg, max_age_rounds=3, score=0.9)
        assert r == 6
        _invariants(spark, io, cfg, "requeue@6")
        io = _resume(spark, io)

        # rounds 7-10 (compaction at 8)
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=10)
        assert io.latest_round() == 10
        _snapshots_bounded(io, "r10")

        # PageRank reseed (r11) right after a crawl segment
        assert FR.reseed_frontier(spark, io, cfg) == 11
        _invariants(spark, io, cfg, "reseed@11")
        # reseed rewrites only QUEUED scores
        for row in io.read("frontier").collect():
            if row["status"] == "QUEUED":
                assert 0.0 < row["score"] <= 1.0

        # rounds 12-14 (compaction at 12), then prune-recrawl (r15)
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=14)
        pre_prune = {
            r["canon_url"]: r for r in io.read("frontier").collect()
        }
        stale = {
            u
            for u, row in pre_prune.items()
            if row["status"] == "FETCHED" and row["round_fetched"] <= 14 - 6
        }
        assert FR.recrawl_frontier(spark, io, cfg, 6, mode="prune") == 15
        post = {r["canon_url"] for r in io.read("frontier").collect()}
        assert post == set(pre_prune) - stale
        _invariants(spark, io, cfg, "prune@15")
        io = _resume(spark, io)

        # rounds 16-20 (compactions at 16, 20) — pruned urls may be
        # rediscovered via links from the still-queued remainder
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=20)
        _snapshots_bounded(io, "r20")
        _invariants(spark, io, cfg, "r20")

        # back-to-back maintenance on one boundary: requeue (r21) then
        # reseed (r22) with no crawl round between them
        assert FR.recrawl_frontier(spark, io, cfg, 4, score=0.8) == 21
        assert FR.reseed_frontier(spark, io, cfg) == 22
        _invariants(spark, io, cfg, "requeue+reseed@22")
        io = _resume(spark, io)

        # rounds 23-28 (compactions at 24, 28)
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=28)
        _invariants(spark, io, cfg, "r28")

        # final stretch: prune (r29) then crawl past round 30
        FR.recrawl_frontier(spark, io, cfg, 8, mode="prune")
        FR.crawl(spark, io, cfg, pages_kv, rdf, max_rounds=32)
        final = io.latest_round()
        assert final >= 30, f"schedule fell short: {final} rounds"
        _invariants(spark, io, cfg, f"final@{final}")
        _snapshots_bounded(io, f"final@{final}")

        # the crawl made real progress the whole way: fetch history
        # spans the schedule and metrics has one row per crawl round
        rounds_logged = {
            r["round"] for r in io.read("metrics").collect()
        }
        assert max(rounds_logged) >= 30
    finally:
        pages_kv.unpersist()
        shutil.rmtree(wh, ignore_errors=True)
