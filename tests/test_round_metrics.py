"""The per-round `metrics` table is complete and true.

Every round's six count columns come from Observations on the round's
own frontier and fingerprint writes. This test crawls the 120-page
fixture with compaction every 2 rounds, kills round 4 after it staged
everything but before its commit, resumes on a fresh TableIO, and
checks every committed row against counts recomputed from the
committed `frontier` and `fingerprints` tables. The resumed round must
also receive the QUEUED count the last committed round carried in its
metrics manifest, so it is sized like an uninterrupted round, and
round 1 the seed count init_crawl recorded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, pages_df
from searchengine_spark.crawler.tableio import TableIO

N_PAGES, SEED, MAX_ROUNDS, KILLED_ROUND = 120, 7, 5, 4
COUNTS = (
    "batch_size", "fetched_ok", "errors", "dup_pages", "new_urls",
    "queued_remaining",
)


class _Killed(RuntimeError):
    pass


class _KilledBeforeCommit(TableIO):
    """Dies on the commit of KILLED_ROUND: every table of that round is
    staged, none is visible."""

    def commit_round(self, round_no: int) -> None:
        if round_no == KILLED_ROUND:
            raise _Killed(round_no)
        super().commit_round(round_no)


def test_metrics_match_committed_tables_across_kill_and_resume(
    spark, tmp_path, monkeypatch
):
    cfg = CrawlConfig(
        seeds=[f"https://h{i}.test" for i in range(4)],
        allowed_host_re=ALLOWED_HOST_RE,
        compact_every=2,
    )
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    calls: list[tuple[int, int | None]] = []  # (round_no, prev_queued)
    run_round = FR.run_round

    def spy(spark, io, cfg, pages, round_no, prev_queued=None):
        calls.append((round_no, prev_queued))
        return run_round(spark, io, cfg, pages, round_no, prev_queued=prev_queued)

    monkeypatch.setattr(FR, "run_round", spy)
    wh = str(tmp_path / "crawl")
    with pytest.raises(_Killed):
        FR.crawl(
            spark, _KilledBeforeCommit(spark, wh), cfg, pdf, rdf,
            max_rounds=MAX_ROUNDS,
        )
    n_before_resume = len(calls)
    io = TableIO(spark, wh)
    assert io.latest_round() == KILLED_ROUND - 1
    io.gc_orphans()
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=MAX_ROUNDS)
    assert io.latest_round() == MAX_ROUNDS

    metrics = {r["round"]: r.asDict() for r in io.read("metrics").collect()}
    assert sorted(metrics) == list(range(1, MAX_ROUNDS + 1))
    frontier = io.read("frontier")
    fetched = (
        frontier.filter(F.col("round_fetched") >= 1)
        .groupBy(F.col("round_fetched").alias("round"))
        .agg(
            F.count("*").alias("batch_size"),
            F.count(F.when(F.col("status") == "FETCHED", 1)).alias("fetched_ok"),
            F.count(F.when(F.col("status") == "ERROR", 1)).alias("errors"),
        )
    )
    added = {
        r[0]: r[1]
        for r in frontier.groupBy("round_added").count().collect()
    }
    fp_rows = {
        r[0]: r[1]
        for r in io.read("fingerprints").groupBy("round_added").count().collect()
    }
    fetched_rows = fetched.collect()
    assert {row["round"] for row in fetched_rows} == set(metrics)
    for row in fetched_rows:
        r = row["round"]
        queued = (
            io.read("frontier", r).filter(F.col("status") == "QUEUED").count()
        )
        expected = {
            "batch_size": row["batch_size"],
            "fetched_ok": row["fetched_ok"],
            "errors": row["errors"],
            "dup_pages": row["fetched_ok"] - fp_rows.get(r, 0),
            "new_urls": added.get(r, 0),
            "queued_remaining": queued,
        }
        assert {c: metrics[r][c] for c in COUNTS} == expected, r
    assert sum(m["dup_pages"] for m in metrics.values()) > 0  # J7 exercised

    # every round got the previous round's QUEUED count: round 1 init's
    # seed count, the resumed one through the metrics manifest of the
    # last commit
    resumed = calls[n_before_resume]
    assert resumed == (KILLED_ROUND, metrics[KILLED_ROUND - 1]["queued_remaining"])
    assert calls[0] == (1, len(cfg.seeds))
    for r, prev in calls[1:]:
        assert prev == metrics[r - 1]["queued_remaining"], (r, prev)
