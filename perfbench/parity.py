"""Oracle parity: the crawl the engine committed against crawler/oracle.py.

Three surfaces are compared, per url: crawl-order position, URL-seen
membership and the sha-256 of the extracted text. The oracle's answer
for one (workload, seed, rounds) is cached as JSON under the
benchmark's own directory, keyed also by the workload and crawl config
and by the source of the oracle and the corpus generator, so an edit to
any of them recomputes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")


@dataclass
class Expected:
    order: list[str]  # crawl order (oracle.crawl_order_oracle)
    seen: set[str]  # OracleState.seen
    text_sha: dict[str, str]  # url -> sha256(OracleState.extracted[url])


def text_digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _digest(spec: str) -> str:
    """Digest of the inputs' description and of the oracle's sources."""
    from searchengine_spark.crawler import config, oracle, synth

    h = hashlib.sha256(spec.encode("utf-8"))
    for mod in (oracle, synth, config):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compute_expected(cfg, rows, robots, rounds: int) -> Expected:
    from searchengine_spark.crawler import oracle

    pages, robots_d = oracle.corpus_dicts(rows, robots)
    state = oracle.crawl_oracle(cfg, pages, robots_d, max_rounds=rounds)
    return Expected(
        order=oracle.crawl_order_oracle(state),
        seen=set(state.seen),
        text_sha={u: text_digest(t) for u, t in state.extracted.items()},
    )


def expected_for(
    cache_dir: str, key: str, spec: str, cfg, rows, robots, rounds: int
) -> Expected:
    """Cached oracle answer for `key` (workload and seed) at `rounds`;
    `spec` describes the inputs (workload and config), so a change to
    them misses the cache."""
    path = os.path.join(cache_dir, f"{key}-r{rounds}-{_digest(spec)}.json")
    try:
        with open(path) as f:
            d = json.load(f)
        return Expected(d["order"], set(d["seen"]), d["text_sha"])
    except (OSError, ValueError, KeyError):
        pass
    exp = compute_expected(cfg, rows, robots, rounds)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"order": exp.order, "seen": sorted(exp.seen), "text_sha": exp.text_sha},
            f,
        )
    os.replace(tmp, path)
    return exp


def workload_expected(wl, seed: int) -> Expected:
    """The oracle's answer for a workload and seed, through the cache."""
    rows, robots = wl.corpus(seed)
    cfg = wl.crawl_config(rows)
    return expected_for(
        CACHE_DIR, f"{wl.name}-{seed}", repr((wl, cfg)), cfg, rows, robots,
        wl.max_rounds,
    )


def mismatched_urls(
    exp: Expected, order: list[str], seen: set[str], text_sha: dict[str, str]
) -> set[str]:
    """Urls whose crawl-order position, URL-seen membership or
    extracted-text bytes differ between the engine and the oracle."""
    bad: set[str] = set()
    for i in range(max(len(order), len(exp.order))):
        got = order[i] if i < len(order) else None
        want = exp.order[i] if i < len(exp.order) else None
        if got != want:
            bad.update(u for u in (got, want) if u is not None)
    bad |= seen ^ exp.seen
    for u in text_sha.keys() | exp.text_sha.keys():
        if text_sha.get(u) != exp.text_sha.get(u):
            bad.add(u)
    return bad


if __name__ == "__main__":
    # python3 perfbench/parity.py <workload> <seed>: fill the cache
    sys.path.insert(0, os.path.dirname(HERE))
    from workloads import WORKLOADS

    workload_expected(WORKLOADS[sys.argv[1]], int(sys.argv[2]))
