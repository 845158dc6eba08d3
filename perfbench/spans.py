"""In-memory spans around the crawler's public entry points.

`Tracer.install` wraps, at run time, `frontier.run_round`, the
`TableIO` methods read / stage / commit_round / prune_compacted,
`gates.content_dup_flags` / `trap_reject`, the URL-seen backend's
filter_new / build_segments / merge_segments / segment_load and the
classic `DataFrame.collect`; `uninstall` puts the originals back. No
crawler source is touched.

Each span records name, start, end, parent and the round number. The
round number is the shared identifier: `run_round` stages its delta
tables on worker threads, and a span opened on a thread with no open
span of its own is parented to the round in flight. Spans stay in
memory; `dump` writes them out with self time per span.

Spans around lazy DataFrame builders (j7, trap, filter_new, build)
measure driver plan construction. Executor work lands in the
`tableio.stage` span of the frontier table, the one job that
materializes the round chain.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

ROUND = "frontier.round"
PLAN = "frontier.plan"
DELTA_TABLES = ("url_seen", "fingerprints", "extracted", "bloom", "host_graph")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None  # None while open; only closed spans are kept
    parent: int | None
    round: int | None
    thread: str
    attrs: dict = field(default_factory=dict)
    self_s: float | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def set_self_times(spans: list[Span]) -> None:
    """self time = duration minus the part of it child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    for s in spans:
        s.self_s = s.dur - union_length(
            [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end
        )


def in_round(s: Span, rnd: Span) -> bool:
    """Whether span s was opened during the round execution rnd (a
    round number repeats when a run replays the round)."""
    return s.round == rnd.round and rnd.start <= s.start <= rnd.end


def add_plan_span(spans: list[Span], rnd: Span, next_id: int) -> Span | None:
    """The round's planning interval, from run_round entry to its first
    TableIO.stage call, as a child of the round; the round's direct
    children that lie inside it are re-parented to it."""
    stages = [
        s for s in spans
        if in_round(s, rnd) and s.name == "tableio.stage"
    ]
    if not stages:
        return None
    plan = Span(
        next_id, PLAN, rnd.start, min(s.start for s in stages), rnd.id,
        rnd.round, rnd.thread,
    )
    for s in spans:
        if s.parent == rnd.id and s.start >= plan.start and s.end <= plan.end:
            s.parent = plan.id
    spans.append(plan)
    return plan


def round_layers(spans: list[Span], rnd: Span) -> dict[str, float]:
    """Per-layer walls of one round, from its spans."""
    mine = [s for s in spans if in_round(s, rnd) and s is not rnd]

    def total(name: str, **attrs) -> float:
        return sum(
            s.dur for s in mine
            if s.name == name
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        )

    direct = [s for s in mine if s.parent == rnd.id]
    return {
        "frontier.round_s": rnd.dur,
        "frontier.plan_s": total(PLAN),
        "frontier.span_coverage": (
            union_length([(s.start, s.end) for s in direct], rnd.start, rnd.end)
            / rnd.dur
            if rnd.dur > 0
            else 0.0
        ),
        "tableio.read_s": total("tableio.read"),
        "tableio.stage_frontier_s": total("tableio.stage", table="frontier"),
        "tableio.stage_deltas_s": union_length(
            [
                (s.start, s.end) for s in mine
                if s.name == "tableio.stage" and s.attrs.get("table") in DELTA_TABLES
            ]
        ),
        "tableio.stage_metrics_s": total("tableio.stage", table="metrics"),
        "tableio.commit_s": total("tableio.commit"),
        "urlseen.filter_new_plan_s": total("urlseen.filter_new"),
        "urlseen.build_plan_s": total("urlseen.build"),
        "gates.j7_plan_s": total("gates.j7"),
        "gates.trap_plan_s": total("gates.trap"),
    }


class Tracer:
    """Span recorder. `full=False` wraps only run_round (round walls for
    the untraced end-to-end run); `full=True` wraps every layer."""

    def __init__(self, full: bool, before_round=None, after_round=None):
        self.full = full
        self.spans: list[Span] = []
        self.rounds: list[Span] = []
        self.errors: list[tuple[int, str]] = []  # (round, repr) of raised rounds
        self._before, self._after = before_round, after_round
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._round: Span | None = None
        self._patches: list[tuple[object, str, object]] = []
        # set while the after-round hook reads counters: its own reads
        # and jobs are not the round's
        self.paused = False

    # ---------------------------------------------------------- recording

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, attrs: dict) -> Span:
        st = self._stack()
        rnd = self._round
        parent = st[-1].id if st else (rnd.id if rnd else None)
        sp = Span(
            next(self._ids), name, time.perf_counter(), None, parent,
            rnd.round if rnd else None, threading.current_thread().name, attrs,
        )
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    def _wrap(self, owner, attr: str, name: str, attr_fn=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if self.paused:
                return orig(*a, **kw)
            sp = self._open(name, attr_fn(a, kw) if attr_fn else {})
            try:
                return orig(*a, **kw)
            finally:
                self._close(sp)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _wrap_round(self, frontier_mod) -> None:
        orig = frontier_mod.run_round

        @functools.wraps(orig)
        def run_round(spark, io, cfg, pages, round_no, prev_queued=None):
            if self._before:
                self._before(round_no)
            sp = self._open(ROUND, {})
            sp.round = round_no
            self._round = sp
            try:
                out = orig(spark, io, cfg, pages, round_no, prev_queued=prev_queued)
            except Exception as e:
                self.errors.append((round_no, repr(e)))
                raise
            finally:
                self._round = None
                self._close(sp)
                with self._lock:
                    self.rounds.append(sp)
                if self.full:
                    add_plan_span(self.spans, sp, next(self._ids))
            if self._after:
                self.paused = True
                try:
                    self._after(round_no, io)
                finally:
                    self.paused = False
            return out

        self._patches.append((frontier_mod, "run_round", orig))
        frontier_mod.run_round = run_round

    def install(self, seen_module=None) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from searchengine_spark.crawler import frontier, gates
        from searchengine_spark.crawler.tableio import TableIO

        self._wrap_round(frontier)
        if not self.full:
            return

        def table_arg(a, kw):
            return {"table": a[1] if len(a) > 1 else kw.get("table")}

        self._wrap(TableIO, "read", "tableio.read", table_arg)
        self._wrap(TableIO, "stage", "tableio.stage", table_arg)
        self._wrap(TableIO, "commit_round", "tableio.commit")
        self._wrap(TableIO, "prune_compacted", "tableio.prune", table_arg)
        self._wrap(gates, "content_dup_flags", "gates.j7")
        self._wrap(gates, "trap_reject", "gates.trap")
        if seen_module is not None:
            for fn, name in (
                ("filter_new", "urlseen.filter_new"),
                ("build_segments", "urlseen.build"),
                ("merge_segments", "urlseen.merge"),
                ("segment_load", "urlseen.segment_load"),
            ):
                self._wrap(seen_module, fn, name)
        self._wrap(DataFrame, "collect", "spark.collect")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ output

    def dump(self, path: str, extra: dict | None = None) -> None:
        set_self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
            d = asdict(s)
            d["start"] -= t0
            d["end"] -= t0
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, indent=1)
