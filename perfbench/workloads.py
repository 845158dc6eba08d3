"""Crawl workloads of the benchmark: the inputs only.

A workload fixes the synthetic corpus shape (`synth.gen_corpus`
arguments), the seed list, the politeness budget, `n_partitions` and
how many rounds one crawl runs. Every execution knob of
`CrawlConfig` stays at its default, so the benchmark measures the round
path production runs. Why each workload exists is recorded next to
its name in BENCHMARK.json.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_SECTION_RE = re.compile(r"^https://h\d+\.test/sec\d+$")


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    body_scale: int
    body_repeat: int
    # politeness budget: per-host quota = min(max_per_host,
    # round_duration / crawl_delay); None keeps the CrawlConfig default
    round_duration: float | None
    max_per_host: int
    n_partitions: int
    max_rounds: int
    # round after which the crawl reopens a fresh TableIO on the
    # warehouse and continues through frontier.crawl (the resume path);
    # None = no resume
    resume_after: int | None = None
    # also seed every section index page, so round 1 fetches them and
    # round 2 is the giant leaf round
    seed_sections: bool = False
    # passes of rounds 2.. run before the timed ones: the first run of
    # the giant round pays its code paths' first compiles, which would
    # otherwise be its slowest timed round
    warmup_passes: int = 0

    def seeds(self, rows) -> list[str]:
        roots = [f"https://h{i}.test" for i in range(self.n_hosts)]
        if not self.seed_sections:
            return roots
        return roots + sorted(u for u, *_ in rows if _SECTION_RE.match(u))

    def crawl_config(self, rows):
        from searchengine_spark.crawler.config import CrawlConfig
        from searchengine_spark.crawler.synth import ALLOWED_HOST_RE

        kw = {}
        if self.round_duration is not None:
            kw["round_duration"] = self.round_duration
        return CrawlConfig(
            seeds=self.seeds(rows),
            allowed_host_re=ALLOWED_HOST_RE,
            max_per_host_per_round=self.max_per_host,
            n_partitions=self.n_partitions,
            **kw,
        )

    def corpus(self, seed: int):
        """(pages rows, robots rows) for this workload and seed."""
        from searchengine_spark.crawler.synth import gen_corpus

        rows, robots, _ = gen_corpus(
            self.n_pages, seed, self.n_hosts, self.body_scale,
            self.body_repeat, with_text=False,
        )
        return rows, robots


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="giant_1000",
            n_pages=1000,
            n_hosts=32,
            body_scale=1,
            body_repeat=8,
            round_duration=1e9,
            max_per_host=1_000_000,
            n_partitions=4,
            # round 3 would only mop up a few dozen urls left by the
            # giant round; stopping after round 2 keeps the run short
            max_rounds=2,
            seed_sections=True,
            warmup_passes=1,
        ),
        Workload(
            name="steady_2k",
            n_pages=2000,
            n_hosts=16,
            body_scale=1,
            body_repeat=1,
            round_duration=None,
            max_per_host=20,
            n_partitions=4,
            max_rounds=4,
            resume_after=2,
        ),
    )
}
