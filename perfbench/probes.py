"""Counters read from outside the crawler: Spark's status tracker, the
warehouse on disk, URL-seen health through the backend's public
functions, the driver log, /proc, and pycore component speeds."""

from __future__ import annotations

import os
import re
import time
from collections import Counter

_SNAP_RE = re.compile(r"snap-(\d+)$")


class JobCounter:
    """Jobs, tasks and failed tasks per round from statusTracker job-id
    deltas (the UI, and with it its REST API, is off in this engine's
    sessions)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self._mark = self._max_job()
        self.per_round: dict[int, dict[str, int]] = {}  # last run of each round
        self.failed_tasks = 0  # over every round run

    def _max_job(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None) or [-1])

    def before(self, round_no: int) -> None:
        self._mark = self._max_job()

    def after(self, round_no: int) -> None:
        hi = self._max_job()
        tasks = failed = 0
        for jid in range(self._mark + 1, hi + 1):
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        self.per_round[round_no] = {
            "jobs": hi - self._mark, "tasks": tasks, "failed_tasks": failed,
        }
        self.failed_tasks += failed
        self._mark = hi


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def snapshot_health(io, round_no: int) -> dict[str, int]:
    """Visible snapshot dirs over all tables, and bytes this round's
    snapshots wrote."""
    committed = set(io.committed_rounds())
    visible = written = 0
    for table in os.listdir(io.warehouse):
        tdir = os.path.join(io.warehouse, table)
        if not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            m = _SNAP_RE.match(d)
            if m and int(m.group(1)) in committed:
                visible += 1
                if int(m.group(1)) == round_no:
                    written += dir_bytes(os.path.join(tdir, d))
    return {"snapshots_visible": visible, "bytes_written": written}


FPR_PROBES = 1 << 16


def seen_health(spark, io, cfg) -> dict[str, float]:
    """URL-seen load, largest blob count per segment, estimated FPR over
    never-inserted hashes, and the J7 history size."""
    from pyspark.sql import functions as F

    seen = cfg.seen_module()
    segs = io.read("bloom")
    keys, m = seen.segment_load(segs)
    blobs = segs.groupBy("segment_id").count().agg(F.max("count")).collect()[0][0]
    probes = spark.range(FPR_PROBES).select(
        F.xxhash64(F.concat(F.lit("https://fpr-probe.invalid/"), F.col("id"))).alias(
            "url_hash"
        )
    )
    hits = (
        seen.probe_maybe_seen(
            probes, segs, cfg.n_bloom_segments,
            total_bloom_bytes=cfg.n_bloom_segments * seen.segment_bytes(m),
        )
        .filter("maybe_seen")
        .count()
    )
    return {
        "keys": keys,
        "blobs_per_segment_max": int(blobs or 0),
        "est_fpr": hits / FPR_PROBES,
        "fp_store_rows": io.read("fingerprints").count(),
    }


_NUM_RE = re.compile(r"\d+")


def error_groups(log_path: str) -> Counter:
    """Driver ERROR log lines grouped by message, numbers masked."""
    groups: Counter = Counter()
    try:
        with open(log_path, errors="replace") as f:
            for line in f:
                i = line.find(" ERROR ")
                if i >= 0:
                    groups[_NUM_RE.sub("N", line[i + 7:].strip())] += 1
    except OSError:
        pass
    return groups


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def component_speeds(rows) -> dict[str, float]:
    """Single-process speed of the page-stage components over the
    workload's own pages: extract_text + extract_links (MB/s of html)
    and canonicalize over the links they return (urls/s)."""
    from searchengine_spark.pycore.textextract import extract_links, extract_text
    from searchengine_spark.pycore.urltools import canonicalize

    links: list[str] = []
    n_bytes = 0
    t0 = time.perf_counter()
    for url, _, html, _, _ in rows:
        extract_text(html)
        links.extend(extract_links(html, url))
        n_bytes += len(html)
    t_extract = time.perf_counter() - t0
    t0 = time.perf_counter()
    for u in links:
        canonicalize(u)
    t_canon = time.perf_counter() - t0
    return {
        "textextract.mb_per_s": n_bytes / 1e6 / t_extract,
        "urltools.canon_per_s": len(links) / t_canon,
    }
