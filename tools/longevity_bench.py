"""Crawl-age longevity evidence: per-round wall time vs round number,
compaction ON vs OFF (VERDICT r2 task 1's "recorded
round-time-vs-round-number curve that is flat").

Without compaction every append table unions one more snapshot per
round and every bloom segment accumulates one more delta blob, so
per-round cost grows O(crawl age); with compact_every=K both are
bounded by the cadence. The workload holds batch size roughly constant
(small per-host quota over a wide corpus) so the per-round work is
flat BY CONSTRUCTION and any slope is bookkeeping growth — the thing
compaction exists to remove.

Usage: python tools/longevity_bench.py [n_pages] [max_rounds] [quota]
Prints one JSON line per (mode, round): {"mode", "round", "wall_sec",
"snapshots": files-visible-for-url_seen, "blobs": max bloom blobs per
segment} and a final summary comparing first-half vs second-half mean
round time per mode.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler.bench import write_bench_corpus
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, gen_corpus
from searchengine_spark.crawler.tableio import TableIO
from searchengine_spark.session import get_spark

N_HOSTS = 16


def run_mode(
    spark, pages_kv, rdf, seeds, n_pages: int, max_rounds: int,
    quota: int, compact_every: int, interleave: bool = False,
) -> list[dict]:
    """interleave=True adds the maintenance ops on top of compaction —
    requeue-recrawl every 6 rounds, PageRank reseed every 9 (cuckoo
    backend + host-graph tracking on) — so the curve shows per-round
    cost stays bounded with the FULL long-crawl interplay enabled, not
    just compaction alone."""
    mode = f"compact_every={compact_every}" if compact_every else "no-compaction"
    if interleave:
        mode += "+recrawl+reseed"
    cfg = CrawlConfig(
        seeds=seeds,
        allowed_host_re=ALLOWED_HOST_RE,
        max_per_host_per_round=quota,
        n_partitions=8,
        compact_every=compact_every,
        seen_backend="cuckoo" if interleave else "bloom",
        track_host_graph=interleave,
    )
    wh = tempfile.mkdtemp(prefix=f"longevity-{compact_every}-")
    io = TableIO(spark, wh)
    FR.init_crawl(spark, io, cfg, rdf)
    out = []
    remaining = None
    try:
        rnd = 0
        while rnd < max_rounds:
            rnd = io.latest_round() + 1
            if interleave and rnd > 1 and rnd % 6 == 0:
                # nothing-stale returns without committing a round —
                # fall through to a crawl round in that case
                if FR.recrawl_frontier(
                    spark, io, cfg, max_age_rounds=4, score=0.9
                ) == rnd:
                    remaining = None  # requeue invalidates carried count
                    continue
            elif interleave and rnd > 1 and rnd % 9 == 0:
                FR.reseed_frontier(spark, io, cfg)
                continue
            t0 = time.perf_counter()
            remaining = FR.run_round(
                spark, io, cfg, pages_kv, rnd, prev_queued=remaining
            )
            wall = time.perf_counter() - t0
            tdir = os.path.join(wh, "url_seen")
            snaps = sum(1 for d in os.listdir(tdir) if d.startswith("snap-"))
            blobs = (
                io.read("bloom")
                .groupBy("segment_id").count().agg(F.max("count"))
                .collect()[0][0]
            )
            rec = {
                "mode": mode, "round": rnd, "wall_sec": round(wall, 2),
                "snapshots": snaps, "blobs": int(blobs),
            }
            out.append(rec)
            print(json.dumps(rec), flush=True)
            if remaining == 0:
                break
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if len(args) > 0 else 8000
    max_rounds = int(args[1]) if len(args) > 1 else 24
    quota = int(args[2]) if len(args) > 2 else 20
    spark = get_spark(
        "longevity", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    corpus = tempfile.mkdtemp(prefix="longevity-corpus-")
    pages_path = write_bench_corpus(
        spark, os.path.join(corpus, "pages"), n_pages=n_pages
    )
    pdf = spark.read.parquet(pages_path)
    rdf = spark.read.parquet(pages_path + "_robots")
    _, _, seeds = gen_corpus(n_pages, 42, N_HOSTS, 2, 1, with_text=False)
    pages_kv = FR.prepare_pages(pdf, 8)

    summary = {}
    modes = [(0, False), (8, False)]
    if "--interleave" in sys.argv:
        modes.append((8, True))
    try:
        for compact_every, interleave in modes:
            recs = run_mode(
                spark, pages_kv, rdf, seeds, n_pages, max_rounds, quota,
                compact_every, interleave=interleave,
            )
            walls = [r["wall_sec"] for r in recs]
            h = len(walls) // 2
            summary[recs[0]["mode"]] = {
                "rounds": len(walls),
                "mean_first_half_sec": round(sum(walls[:h]) / max(1, h), 2),
                "mean_second_half_sec": round(
                    sum(walls[h:]) / max(1, len(walls) - h), 2
                ),
                "max_snapshots": max(r["snapshots"] for r in recs),
                "max_blobs": max(r["blobs"] for r in recs),
            }
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
        spark.stop()
    print(json.dumps({"summary": summary}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
