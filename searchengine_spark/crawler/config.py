"""Crawl configuration (reference utils/config.py:4-19 + README.md:33-55).

The reference reads an ini file (user agent, thread count, save file,
seed urls, politeness ``time_delay``); the rebuild carries the same knobs
as a dataclass plus the distributed-execution knobs the north rule adds
(salts, partitions, bloom sizing, virtual-clock round duration).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    seeds: list[str] = field(default_factory=list)
    # P4 domain restriction (README.md:209-212; the reference pins
    # *.ics.uci.edu etc — the domain set is config in our engine).
    allowed_host_re: str | None = None

    # ---- politeness (ST2): virtual clock, one round = round_duration
    # virtual seconds; host h may fetch floor(round_duration/delay_h)
    # urls per round (token bucket refilled each round), capped.
    round_duration: float = 4.0
    default_crawl_delay: float = 0.5  # reference POLITENESS time_delay
    max_per_host_per_round: int = 16

    # ---- skew + shuffle (ST3, north rule): explicit repartitioning by
    # (host, salt) between dedup → politeness-group → fetch stages.
    n_salts: int = 4
    n_partitions: int = 8
    # Round-internal partition count follows DATA VOLUME, not cluster
    # width: partitions = clamp(ceil(queued / target), 1, n_partitions).
    # A BFS ramp round of 32 seed urls on a 1000-executor cluster must
    # not fan every light (host,salt) stage into 1000 near-empty tasks
    # (per-task scheduling is the round's fixed cost — measured: the
    # 64k-page/light-body 32-core leg ran 8% faster at 8 partitions
    # than 32); a giant steady-state round keeps full width. Uses the
    # QUEUED count carried from the previous round (an upper bound on
    # the batch) so sizing costs no extra action (a round called without
    # it reads it from the previous commit's metrics manifest; round 1
    # gets init's seed count); a round after a frontier rewrite that
    # left no metrics commit (reseed, recrawl) uses full n_partitions.
    # Sizing round 1 like the rest also compiles most of the
    # steady-state plan shapes in round 1 instead of round 2. The heavy fetch/
    # extract stage is unaffected — it inherits the corpus's full-width
    # co-partitioning, not the batch's. 0 disables (always full width).
    rows_per_partition_target: int = 4096

    # ---- URL-seen bloom segments (J5 fast path): fixed-size WITHIN a
    # generation so round deltas OR-merge; compaction starts a new
    # generation and may resize (see bloom_target_bits_per_key)
    n_bloom_segments: int = 16
    bloom_m_bits: int = 1 << 17

    # ---- URL-seen backend (north rule: "bloom/cuckoo-filter URL-seen
    # dedup"): "bloom" (insert-only, urlseen.py) or "cuckoo" (deletable
    # fingerprints for recrawl/expiry, cuckooseen.py). Both share one
    # function seam; the generation size param ("m_bits" in the commit
    # manifest) means bloom bits or cuckoo buckets respectively.
    seen_backend: str = "bloom"
    cuckoo_n_buckets: int = 1 << 12

    # ---- host link-graph tracking (default OFF — adds one small
    # aggregate + write per round): when on, each round stages its
    # scraped links aggregated to (src_host, dst_host, n) edges, so a
    # deployment can PageRank the host graph between crawls and reseed
    # frontier priorities (linkrank.host_rank via frontier.
    # reseed_frontier) — OPIC/PageRank-family scheduling, the public
    # upgrade over the reference's insertion-depth priority. Host
    # granularity keeps the table tiny relative to the crawl (10^10
    # urls but ~10^7 hosts) and the rank join broadcastable.
    track_host_graph: bool = False

    # ---- compaction cadence (Iceberg rewrite-data-files): every
    # compact_every rounds the append tables (url_seen, bloom,
    # fingerprints, extracted, metrics) are squashed into one BASE
    # snapshot and superseded files pruned, so per-round read fan-in and
    # bloom blobs-per-segment stay bounded by the cadence instead of
    # growing O(crawl age). 0 disables (tests of raw delta behavior).
    compact_every: int = 8
    # bloom capacity policy: at compaction, if the generation's
    # bits-per-key fell below the target, the bloom is REBUILT from the
    # full url_seen at required_m_bits(...) instead of OR-merged —
    # without this a fixed-size filter saturates (FPR→1) on a long
    # crawl and the fast path silently degenerates to "everything
    # maybe-seen" (never wrong — the exact anti-join is the backstop —
    # but no longer fast).
    bloom_target_bits_per_key: float = 10.0

    # ---- AQE inside the round loop (default OFF): every AQE exchange
    # materialization is its own driver-scheduled job — measured 110
    # jobs/round vs 19 without, 35-45% of round wall at bench scale —
    # and the round's shuffles are already explicitly partitioned,
    # salted and size-adaptively broadcast, so AQE's residual value is
    # partition coalescing. Flip on for deployments with wildly
    # varying round sizes where runtime coalescing pays for its jobs.
    aqe_in_round: bool = False

    # ---- Catalyst constraint propagation inside the round loop
    # (default OFF): the round's plans are join/window/union-deep, and
    # constraint inference is quadratic-ish in predicate count per
    # operator — pure DRIVER-serial Catalyst time, the exact fixed cost
    # that caps N→4N scaling. Measured (r4, same corpus + seeds): 16k
    # heavy-body pages at local[8], steady-state window 285.7s → 213.1s
    # (+34% throughput); 2k-page light bench flat-to-better. Disabling
    # only skips inferred-filter optimizations, never changes results
    # (crawl parity suite is the proof). Scoped to the round, restored
    # after.
    constraints_in_round: bool = False

    # ---- whole-stage codegen inside the round loop (default ON —
    # Spark's default): per-round literals (round_added/round_fetched
    # columns, frontier_score) change the generated source every round,
    # so every heavy stage pays a fresh Janino compile per round. On
    # LIGHT rounds (ramp phases, small-batch benches) that compile tax
    # dominates: 2k-page bench measured ~20% faster interpreted
    # (53.7s → 43.4s median-of-3 with constraints also off). On HEAVY
    # rounds codegen earns its compile back (16k heavy-body: 304s
    # interpreted vs 286s codegen'd) — so the knob defaults ON and the
    # light-body bench workload flips it off explicitly.
    codegen_in_round: bool = True

    # ---- leaf-plan checkpoints inside the round (default ON): the
    # round's hot intermediates (batch, page_stage, fpdf, flagged,
    # new_urls, frontier_next) are lineage-truncated with
    # localCheckpoint(eager=False) instead of persist(). Each is
    # referenced 2-6× downstream, and with plain persist() every
    # downstream Dataset op re-ANALYZES the full accumulated round tree
    # (caching swaps in InMemoryRelation only at planning time) — pure
    # driver-serial Catalyst cost measured at ~6.7 s/round at bench
    # scale, the largest single term in the fixed cost that caps N→4N
    # scaling. With leaves, downstream ops analyze a LogicalRDD leaf.
    # Semantics are unchanged (parity suite + an explicit A/B test);
    # the two deliberate trade-offs: a leaf drops static size stats
    # (irrelevant here — every broadcast on the round path is an
    # explicit hint) and drops outputPartitioning (irrelevant here —
    # each downstream join/agg keys differently and shuffles either
    # way). Blocks are unpersisted explicitly at round end, exactly
    # like the persist() path.
    leaf_plans_in_round: bool = True

    # ---- hot-intermediate prefetch, one rule: as each hot intermediate
    # is checkpointed/persisted, a count is submitted on a worker thread
    # at once, so EXECUTORS materialize it while the DRIVER is still
    # building the downstream plans (J7, the candidate chain) —
    # overlapping the round's two serial components instead of paying
    # them back-to-back. Downstream jobs reuse the materialized blocks
    # (block-manager locking single-computes under concurrency), so no
    # work is duplicated; the cost is one near-free count job per
    # intermediate. Measured on 4 cores (7 reps each, giant and
    # steady-state rounds): deferring the submissions until planning
    # ends, or not prefetching at all, were both slower than this.
    # The one exception: when the carried QUEUED count exceeds
    # prefetch_max_queued the round skips prefetch. On an
    # executor-bound giant round (the 10^10-frontier steady state)
    # there is no idle to fill — the extra jobs race the frontier write
    # for the same lazy localCheckpoints and double-compute them
    # (measured at 64k pages / 32 cores: 70 s/round without prefetch vs
    # 105 s with it). None = never skip.
    prefetch_max_queued: int | None = 16384

    # ---- dedup gates
    ngram_threshold: float = 0.65  # J7 (reference ngrams.py:11)
    ngram_n: int = 3
    trap_threshold: float = 0.85  # J6 (reference link_similarity.py:12)

    # ---- URL-template trap gate (default OFF — beyond-reference; the
    # corpus-level complement of the per-pair J6 gate): every
    # template_gate_every rounds the accumulated frontier URLs are
    # template-censused (operators/urlmining: hex runs → {H}, digit
    # runs → {N}) and (host, template) families backing ≥
    # template_trap_min_urls distinct URLs become a deny list, staged
    # as the tiny overwrite table `trap_templates` and broadcast
    # anti-joined against each round's candidates — so a calendar/
    # session/facet family is throttled by PATTERN after it crosses the
    # budget, instead of admitting 10^6 syntactically-distinct urls one
    # pair-comparison at a time. O(frontier) census cost only on
    # refresh rounds; O(|deny|) broadcast per round otherwise.
    template_gate_every: int = 0  # 0 disables
    template_trap_min_urls: int = 256

    def seen_module(self):
        """The URL-seen backend module (one seam: build_segments /
        merge_segments / filter_new / segment_load / required_m_bits /
        segment_bytes)."""
        if self.seen_backend == "cuckoo":
            from . import cuckooseen

            return cuckooseen
        from . import urlseen

        return urlseen

    @property
    def seen_size0(self) -> int:
        """Initial generation size param for the configured backend."""
        return (
            self.cuckoo_n_buckets
            if self.seen_backend == "cuckoo"
            else self.bloom_m_bits
        )

    def quota(self, crawl_delay: float | None) -> int:
        d = crawl_delay if crawl_delay and crawl_delay > 0 else self.default_crawl_delay
        return max(1, min(self.max_per_host_per_round, int(self.round_duration / d)))


def frontier_score(round_added: int) -> float:
    """Deterministic frontier priority: seeds 1.0, halving per discovery
    depth (score-ordered queue, north rule; BFS-equivalent total order
    with tie-break canon_url asc)."""
    return 2.0 ** (-round_added)
