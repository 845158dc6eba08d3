"""Crawl benchmark: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload giant_1000 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One process drives Spark
local[<cores>] through the crawler's public functions only
(synth.gen_corpus, frontier.prepare_pages / init_crawl / run_round /
crawl / crawl_order, TableIO) with every CrawlConfig execution knob at
its default. Rounds run back to back: a closed loop with one client,
each round submitted after the previous one commits.

Set-up is session start, prepare_pages, init_crawl and the cold round
1; the oracle's answer is computed meanwhile in a child process. Then
passes of rounds 2.. run from round 1's commit, each followed by an
oracle parity check: the first pass continues the live crawl, the later
ones replay it on a copy of round 1's warehouse opened by a fresh
TableIO (a resume after round 1). After the workload's warm-up passes,
passes are timed until the timed rounds add up to --seconds and number
at least MIN_TIMED_ROUNDS; round metrics are taken over all of them.

--trace 0 prints the end-to-end metrics; --trace 1 wraps every layer
in spans (perfbench/spans.py), reads health counters after each round
and prints the per-layer metrics. The spans, per-round counters and
grouped driver ERROR lines go to perfbench/.out/trace-<workload>-<seed>.json.

Exit status: 0 when the crawl matched the oracle, 1 on a mismatch, a
crash or a run still going after RUN_DEADLINE_S, 2 on bad arguments or
when the engine is not next to perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A run still going after this long is taken as stuck and stopped, so it
# ends (non-zero) inside the 180 s a run may take. Healthy runs take
# 50-100 s on a 4-core box; one round of the seed tree was once seen
# stuck in its frontier write for minutes.
RUN_DEADLINE_S = 170
# a run times at least this many rounds, however long --seconds is
MIN_TIMED_ROUNDS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work: str):
    from searchengine_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep the JVM's scratch files inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits on stdin EOF),
    and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _stop_stuck_run(stderr_fd: int, children: list) -> None:
    """Deadline handler: kill the driver JVM (its Python workers exit
    with it), wait for it, and exit 1 without a result."""
    from pyspark import SparkContext

    os.write(
        stderr_fd,
        f"perfbench: run still going after {RUN_DEADLINE_S} s; "
        "the engine looks stuck; stopping it\n".encode(),
    )
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)
    _stop_children(children)
    os._exit(1)


def _stop_children(children: list) -> None:
    for proc in children:
        if proc.poll() is None:
            proc.kill()
        proc.wait(timeout=30)


def _peak_rss_mb() -> float:
    """Peak resident memory so far of this process plus the driver JVM."""
    import probes
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    kb = probes.vm_hwm_kb("self") + (probes.vm_hwm_kb(jvm.pid) if jvm else 0)
    return kb * 1024 / 1e6


def _engine_crawl(io):
    """What the engine committed: crawl order, URL-seen set, text sha."""
    from pyspark.sql import functions as F

    from searchengine_spark.crawler import frontier as FR

    order = FR.crawl_order(io)
    seen = {r[0] for r in io.read("url_seen").select("canon_url").collect()}
    text = {
        r[0]: r[1]
        for r in io.read("extracted")
        .select("canon_url", F.sha2("text", 256))
        .collect()
    }
    metrics = {
        r["round"]: r.asDict()
        for r in io.read("metrics").collect()
    }
    return order, seen, text, metrics


def _retried(io, fn):
    """fn(), retried once from the last committed snapshot if it raises,
    as a resume would."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()  # into the driver log
        io.gc_orphans()
        return fn()


def _run_pass(spark, wl, cfg, io, pkv, queued) -> None:
    """Rounds 2..max_rounds (or until the frontier drains) from the
    committed round 1 in `io`; `queued` is what round 1 returned. The
    workload's resume point reopens the warehouse with a fresh TableIO
    and continues through frontier.crawl."""
    from searchengine_spark.crawler import frontier as FR
    from searchengine_spark.crawler.tableio import TableIO

    r = 1
    while r < wl.max_rounds and queued != 0:
        if wl.resume_after is not None and r == wl.resume_after:
            io = TableIO(spark, io.warehouse)
            _retried(io, lambda: FR.crawl(spark, io, cfg, pkv, max_rounds=wl.max_rounds))
            return
        r += 1
        queued = _retried(
            io, lambda: FR.run_round(spark, io, cfg, pkv, r, prev_queued=queued)
        )


def _start_oracle(wl, seed, children: list):
    """The oracle's answer is computed (or read from the cache) in a
    child process while Spark starts; `expected()` waits for it."""
    import subprocess

    import parity

    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "parity.py"), wl.name, str(seed)],
        stdout=subprocess.DEVNULL,
    )
    children.append(proc)

    def expected():
        if proc.wait() != 0:
            raise RuntimeError(f"oracle process exited with {proc.returncode}")
        return parity.workload_expected(wl, seed)  # a cache hit now

    return expected


def run(wl, args, work: str, out_dir: str, children: list) -> dict:
    """One run; the processes it starts are appended to `children`."""
    import parity
    import probes
    from spans import Tracer, round_layers

    from searchengine_spark.crawler import frontier as FR
    from searchengine_spark.crawler.synth import PAGES_SCHEMA, ROBOTS_SCHEMA
    from searchengine_spark.crawler.tableio import TableIO

    phases: dict[str, float] = {}  # wall per phase, for the summary line
    t0 = time.perf_counter()
    rows, robots = wl.corpus(args.seed)
    cfg = wl.crawl_config(rows)
    phases["corpus"] = time.perf_counter() - t0
    expected = _start_oracle(wl, args.seed, children)

    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = phases["session"] = time.perf_counter() - t0
    try:
        pdf = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
        rdf = spark.createDataFrame(robots, schema=ROBOTS_SCHEMA)
        jobs = probes.JobCounter(spark.sparkContext) if args.trace else None
        health: dict[int, dict] = {}

        def after_round(round_no, io):
            jobs.after(round_no)
            health[round_no] = {
                **probes.snapshot_health(io, round_no),
                **probes.seen_health(spark, io, cfg),
            }

        tracer = Tracer(
            full=bool(args.trace),
            before_round=jobs.before if jobs else None,
            after_round=after_round if jobs else None,
        )
        tracer.install(cfg.seen_module())
        passes = []
        try:
            # set-up, paid once per process: prepare_pages, init_crawl
            # and the cold round 1; round 1's commit is kept aside
            t = time.perf_counter()
            pkv = FR.prepare_pages(pdf, cfg.n_partitions)
            pkv.count()
            io = TableIO(spark, os.path.join(work, "warehouse-0"))
            FR.init_crawl(spark, io, cfg, rdf)
            queued = _retried(io, lambda: FR.run_round(spark, io, cfg, pkv, 1))
            phases["setup"] = time.perf_counter() - t
            setup_s = session_s + phases["setup"]
            after_r1 = shutil.copytree(io.warehouse, os.path.join(work, "after-r1"))
            t = time.perf_counter()
            exp = expected()
            phases["oracle_wait"] = time.perf_counter() - t

            # passes: rounds 2.. from round 1's commit, the first on the
            # live TableIO (the uninterrupted crawl), the later ones on a
            # copy of round 1's warehouse opened by a fresh TableIO (a
            # resume after round 1). The workload's warm-up passes come
            # first; then timed passes until the timed rounds add up to
            # --seconds and number at least MIN_TIMED_ROUNDS.
            def timed_passes():
                return passes[wl.warmup_passes:]

            while (
                sum(len(p["rounds"]) for p in timed_passes()) < MIN_TIMED_ROUNDS
                or sum(s.dur for p in timed_passes() for s in p["rounds"])
                < args.seconds
            ):
                k = len(passes)
                if k:
                    io = TableIO(spark, shutil.copytree(
                        after_r1, os.path.join(work, f"warehouse-{k}")
                    ))
                n_before = len(tracer.rounds)
                _run_pass(spark, wl, cfg, io, pkv, queued)
                rounds = tracer.rounds[n_before:]
                t = time.perf_counter()
                order, seen, text, metrics = _engine_crawl(io)
                bad = parity.mismatched_urls(exp, order, seen, text)
                passes.append(
                    {
                        "rounds": rounds,
                        "urls": sum(metrics[s.round]["batch_size"] for s in rounds),
                        "metrics": metrics,
                        "mismatches": len(bad),
                        "mismatch_sample": sorted(bad)[:10],
                        "warehouse_mb": probes.dir_bytes(io.warehouse) / 1e6,
                    }
                )
                phases["parity"] = time.perf_counter() - t
                if k == 0:
                    # read after set-up and one whole crawl, a fixed amount
                    # of work however many passes follow (replays grow the
                    # heap further only as the collector sees fit)
                    peak_rss_mb = _peak_rss_mb()
                shutil.rmtree(io.warehouse, ignore_errors=True)
                if bad:
                    break
        finally:
            tracer.uninstall()
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        phases["stop"] = time.perf_counter() - t

    timed = [s for p in timed_passes() for s in p["rounds"]]
    walls = [s.dur for s in timed]
    urls_per_s = sum(p["urls"] for p in timed_passes()) / sum(walls)
    res = {
        "phases": phases,
        "passes": passes,
        "setup_rounds": tracer.rounds[:1],
        "attempted": len(tracer.rounds),
        "failed": len(tracer.errors),
        "mismatches": sum(p["mismatches"] for p in passes),
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "urls_per_s": (urls_per_s, "1/s"),
            "round_p50_s": (statistics.median(walls), "s"),
            "round_max_s": (max(walls), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "warehouse_mb": (passes[-1]["warehouse_mb"], "MB"),
        },
    }
    if not args.trace:
        return res

    layers = [round_layers(tracer.spans, s) for s in timed]
    # the per-round counters are those of the last pass
    metrics = passes[-1]["metrics"]
    end = health[max(health)]

    def med(values):
        return statistics.median(list(values))

    per_layer = {k: (med(lay[k] for lay in layers), "s") for k in layers[0] if k.endswith("_s")}
    per_layer.update(
        {
            "frontier.span_coverage": (
                min(lay["frontier.span_coverage"] for lay in layers), "ratio"
            ),
            "frontier.jobs_per_round": (
                med(jobs.per_round[s.round]["jobs"] for s in timed), "count"
            ),
            "frontier.tasks_per_round": (
                med(jobs.per_round[s.round]["tasks"] for s in timed), "count"
            ),
            "frontier.batch_size": (
                med(metrics[s.round]["batch_size"] for s in timed), "count"
            ),
            "frontier.new_urls": (
                med(metrics[s.round]["new_urls"] for s in timed), "count"
            ),
            "frontier.urls_per_s_traced": (urls_per_s, "1/s"),
            "tableio.bytes_written": (
                med(health[s.round]["bytes_written"] for s in timed), "bytes"
            ),
            "tableio.snapshots_visible": (end["snapshots_visible"], "count"),
            "urlseen.keys": (end["keys"], "count"),
            "urlseen.blobs_per_segment_max": (
                max(h["blobs_per_segment_max"] for h in health.values()), "count"
            ),
            "urlseen.est_fpr": (end["est_fpr"], "ratio"),
            "gates.fp_store_rows": (end["fp_store_rows"], "count"),
            "gates.dup_pages": (
                sum(metrics[s.round]["dup_pages"] for s in passes[-1]["rounds"]),
                "count",
            ),
            "spark.failed_tasks": (jobs.failed_tasks, "count"),
        }
    )
    # component speeds: one process, no Spark running
    per_layer.update(
        (k, (v, "MB/s" if k.startswith("textextract") else "1/s"))
        for k, v in probes.component_speeds(rows).items()
    )
    errors = probes.error_groups(os.path.join(work, "driver.log"))
    per_layer["spark.error_lines"] = (sum(errors.values()), "count")
    res["per_layer"] = per_layer
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"),
        {
            "rounds": {
                s.round: {
                    **round_layers(tracer.spans, s),
                    **jobs.per_round.get(s.round, {}),
                    **health.get(s.round, {}),
                }
                for s in tracer.rounds
            },
            "round_errors": tracer.errors,
            "error_groups": errors.most_common(),
            "per_layer": {k: v[0] for k, v in per_layer.items()},
        },
    )
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "searchengine_spark")):
        print(
            f"perfbench: no searchengine_spark package in {ROOT}; "
            "run from the root of a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{wl.name}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise keep perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    # the driver JVM inherits fd 2: its log (ERROR lines included) lands
    # in a file, counted by spark.error_lines
    sys.stderr.flush()
    saved_fd = os.dup(2)
    log_fd = os.open(os.path.join(work, "driver.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    children: list = []  # the oracle's process; stopped on every way out
    deadline = threading.Timer(
        RUN_DEADLINE_S, _stop_stuck_run, (saved_fd, children)
    )
    deadline.daemon = True
    deadline.start()
    try:
        res = run(wl, args, work, os.path.join(HERE, ".out"), children)
    except Exception:
        err = traceback.format_exc()
        res = None
    finally:
        deadline.cancel()
        _stop_children(children)
        sys.stderr.flush()
        os.dup2(saved_fd, 2)
        os.close(saved_fd)
    if res is None:
        print(err, file=sys.stderr)
        print(f"perfbench: run failed; driver log kept in {work}", file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)

    correct = res["mismatches"] == 0
    print(
        f"perfbench {wl.name} seed={args.seed}: passes={len(res['passes'])} "
        f"rounds={res['attempted']} parity_mismatches={res['mismatches']} "
        f"failed_round_ratio={res['failed'] / res['attempted']:.3f} "
        + " ".join(f"{k}={v:.1f}s" for k, v in res["phases"].items())
        + " batches=" + ",".join(
            str(p["metrics"][s.round]["batch_size"])
            for p in res["passes"] for s in p["rounds"]
        )
        + " round_walls=" + ",".join(
            f"{s.dur:.2f}" for s in res["setup_rounds"] + [
                s for p in res["passes"] for s in p["rounds"]
            ]
        )
    )
    for p in res["passes"]:
        if p["mismatches"]:
            print(f"  mismatched urls (first 10): {p['mismatch_sample']}")
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
