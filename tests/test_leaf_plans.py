"""A/B equivalence of the round's materialization modes: the
leaf-checkpoint fast path (CrawlConfig default, frontier.py _hot) must
produce the identical crawl — same crawl order, same URL-seen set, same
extracted text — as the legacy persist() path. Semantics must not
depend on how intermediates are cached."""

from __future__ import annotations

import shutil
from dataclasses import replace

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, pages_df
from searchengine_spark.crawler.tableio import TableIO

N_PAGES, SEED, MAX_ROUNDS = 120, 7, 4


def _run(spark, tmp_path, cfg, name):
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    wh = str(tmp_path / name)
    io = TableIO(spark, wh)
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=MAX_ROUNDS)
    order = FR.crawl_order(io)
    seen = {r["canon_url"] for r in io.read("url_seen").collect()}
    text = {
        r["canon_url"]: r["text"] for r in io.read("extracted").collect()
    }
    shutil.rmtree(wh, ignore_errors=True)
    return order, seen, text


def test_leaf_prefetch_path_equals_persist_path(spark, tmp_path):
    base = CrawlConfig(
        seeds=[f"https://h{i}.test" for i in range(4)],
        allowed_host_re=ALLOWED_HOST_RE,
        # compact mid-run so the fast path crosses a compaction boundary
        compact_every=2,
    )
    fast = replace(base, leaf_plans_in_round=True)
    legacy = replace(base, leaf_plans_in_round=False)
    got_fast = _run(spark, tmp_path, fast, "fast")
    got_legacy = _run(spark, tmp_path, legacy, "legacy")
    assert got_fast[0] == got_legacy[0]  # crawl order
    assert got_fast[1] == got_legacy[1]  # url_seen set
    assert got_fast[2] == got_legacy[2]  # extracted text
