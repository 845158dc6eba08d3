"""The benchmark's own checks; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import types

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import parity  # noqa: E402
import probes  # noqa: E402
from spans import (  # noqa: E402
    ROUND,
    Span,
    Tracer,
    add_plan_span,
    round_layers,
    set_self_times,
    union_length,
)
from workloads import WORKLOADS, Workload  # noqa: E402

TINY = Workload(
    name="tiny", n_pages=60, n_hosts=4, body_scale=1,
    body_repeat=1, round_duration=None, max_per_host=20, n_partitions=2,
    max_rounds=4,
)


def _tiny_expected():
    rows, robots = TINY.corpus(3)
    return parity.compute_expected(TINY.crawl_config(rows), rows, robots, 4)


def _as_engine(exp):
    return list(exp.order), set(exp.seen), dict(exp.text_sha)


def test_oracle_answer_matches_itself():
    exp = _tiny_expected()
    assert len(exp.order) > 10 and exp.text_sha
    assert parity.mismatched_urls(exp, *_as_engine(exp)) == set()


def test_perturbed_expectation_fails_the_check():
    exp = _tiny_expected()
    order, seen, text = _as_engine(exp)

    swapped = parity.Expected(list(exp.order), exp.seen, exp.text_sha)
    swapped.order[1], swapped.order[2] = swapped.order[2], swapped.order[1]
    assert parity.mismatched_urls(swapped, order, seen, text) == {
        exp.order[1], exp.order[2],
    }

    dropped = next(iter(exp.seen))
    fewer_seen = parity.Expected(exp.order, exp.seen - {dropped}, exp.text_sha)
    assert parity.mismatched_urls(fewer_seen, order, seen, text) == {dropped}

    url = next(iter(exp.text_sha))
    other_text = parity.Expected(
        exp.order, exp.seen, {**exp.text_sha, url: parity.text_digest("x")}
    )
    assert parity.mismatched_urls(other_text, order, seen, text) == {url}

    shorter = parity.Expected(exp.order[:-1], exp.seen, exp.text_sha)
    assert parity.mismatched_urls(shorter, order, seen, text) == {exp.order[-1]}


def test_cached_expectation_is_what_the_check_uses(tmp_path):
    rows, robots = TINY.corpus(3)
    cfg = TINY.crawl_config(rows)
    args = (str(tmp_path), "tiny-3", repr((TINY, cfg)), cfg, rows, robots, 4)
    exp = parity.expected_for(*args)
    (cached,) = tmp_path.iterdir()
    # a corrupted cache entry is read back as the expectation, and the
    # engine's (correct) answer then fails against it
    text = cached.read_text().replace(exp.order[0], "https://h9.test/nowhere", 1)
    cached.write_text(text)
    perturbed = parity.expected_for(*args)
    assert parity.mismatched_urls(perturbed, *_as_engine(exp))
    # another spec misses the cache
    other = (str(tmp_path), "tiny-3", "other", cfg, rows, robots, 4)
    assert parity.mismatched_urls(parity.expected_for(*other), *_as_engine(exp)) == set()


def test_workloads_are_seeded_and_distinct():
    for wl in WORKLOADS.values():
        a, _ = wl.corpus(1)
        assert a == wl.corpus(1)[0]
        assert a != wl.corpus(2)[0]
        assert wl.crawl_config(a).seeds


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    root = Span(1, ROUND, 0.0, 10.0, None, 2, "main")
    a = Span(2, "a", 1.0, 4.0, 1, 2, "main")
    b = Span(3, "b", 3.0, 6.0, 1, 2, "t1")
    set_self_times([root, a, b])
    assert root.self_s == 5.0 and a.self_s == 3.0


def test_plan_span_and_round_layers():
    rnd = Span(1, ROUND, 0.0, 10.0, None, 4, "main")
    spans = [
        rnd,
        Span(2, "tableio.read", 0.0, 0.5, 1, 4, "main", {"table": "frontier"}),
        Span(3, "gates.j7", 1.0, 2.0, 1, 4, "main"),
        Span(4, "tableio.stage", 3.0, 7.0, 1, 4, "t1", {"table": "frontier"}),
        Span(5, "tableio.stage", 7.0, 8.0, 1, 4, "t2", {"table": "bloom"}),
        Span(6, "tableio.stage", 7.5, 8.5, 1, 4, "t3", {"table": "url_seen"}),
        Span(7, "tableio.commit", 9.0, 9.5, 1, 4, "main"),
    ]
    plan = add_plan_span(spans, rnd, 99)
    assert (plan.start, plan.end) == (0.0, 3.0)
    assert spans[1].parent == spans[2].parent == 99
    lay = round_layers(spans, rnd)
    assert lay["frontier.plan_s"] == 3.0
    assert lay["tableio.stage_frontier_s"] == 4.0
    assert lay["tableio.stage_deltas_s"] == 1.5
    assert lay["frontier.span_coverage"] == 0.9

    # a replay of round 4 later in the run is another round execution
    again = Span(20, ROUND, 20.0, 26.0, None, 4, "main")
    spans += [
        again,
        Span(21, "tableio.stage", 22.0, 25.0, 20, 4, "t1", {"table": "frontier"}),
    ]
    replan = add_plan_span(spans, again, 98)
    assert (replan.start, replan.end) == (20.0, 22.0)
    assert round_layers(spans, rnd)["tableio.stage_frontier_s"] == 4.0
    assert round_layers(spans, again)["tableio.stage_frontier_s"] == 3.0


def test_tracer_parents_worker_thread_spans_to_the_round():
    class FakeIO:
        def stage(self, table, df=None):
            return table

    def run_round(spark, io, cfg, pages, round_no, prev_queued=None):
        t = threading.Thread(target=io.stage, args=("url_seen",))
        t.start()
        t.join(timeout=10)
        io.stage("frontier")
        return 0

    fake_frontier = types.SimpleNamespace(run_round=run_round)
    seen_after = []
    tr = Tracer(full=True, after_round=lambda r, io: seen_after.append(r))
    tr._wrap_round(fake_frontier)
    tr._wrap(FakeIO, "stage", "tableio.stage", lambda a, kw: {"table": a[1]})
    try:
        assert fake_frontier.run_round(None, FakeIO(), None, None, 7) == 0
    finally:
        tr.uninstall()
    assert fake_frontier.run_round is run_round and seen_after == [7]
    (rnd,) = tr.rounds
    stages = [s for s in tr.spans if s.name == "tableio.stage"]
    assert len(stages) == 2
    assert {s.parent for s in stages} == {rnd.id}
    assert all(s.round == 7 for s in stages)
    assert any(s.name == "frontier.plan" for s in tr.spans)


def test_error_lines_grouped(tmp_path):
    log = tmp_path / "driver.log"
    log.write_text(
        "26/10/17 03:28:21 ERROR DAGScheduler: Failed to update accumulator 1 for task 0\n"
        "26/10/17 03:28:22 ERROR DAGScheduler: Failed to update accumulator 27 for task 3\n"
        "26/10/17 03:28:22 WARN Foo: bar\n"
        "26/10/17 03:28:23 ERROR Executor: boom\n"
    )
    groups = probes.error_groups(str(log))
    assert sum(groups.values()) == 3
    assert groups["DAGScheduler: Failed to update accumulator N for task N"] == 2


def test_without_the_engine_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "giant_1000",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
