"""Per-run correctness gate: the committed crawl vs tests/oracle_sim.py.

The oracle runs on the very rows the engine read (the generated workload),
with the same budgets and batch count. A crawl passes when its url_seen
set, its fetch_log tuples (batch, url, host, seq_in_host, planned_at_s)
and its per-batch rows_in/fetched equal the oracle's, every verify_log row
is fully ok, and no fetched URL is disallowed by the generated robots.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from tests.oracle_sim import SimConfig, canon, h64, host_of, path_of, simulate

from perfbench.workloads import Workload

VERIFY_OK_COLS = ("decode_ok", "pixels_ok", "caption_ok", "phash_ok")


@dataclass
class Expected:
    seen: set[int]
    fetch: Counter
    batches: dict[int, tuple[int, int]]  # batch -> (rows_in, fetched)
    url_rows: int  # rows entering canonicalization over the whole crawl


@dataclass
class Observed:
    seen: set[int]
    fetch: Counter
    batches: dict[int, tuple[int, int]]
    verify_rows: int
    verify_bad: int


def expect(wl: Workload) -> Expected:
    sim = simulate(
        wl.seeds, wl.links, wl.robots, wl.n_batches, SimConfig(**wl.cfg)
    )
    outdeg = Counter(canon(s) for s, _ in wl.links)
    fetch = Counter(
        (e["batch"], e["url"], e["host"], e["seq_in_host"],
         float(e["planned_at_s"]))
        for e in sim.fetch_log
    )
    return Expected(
        seen={h64(u) for u in sim.url_seen},
        fetch=fetch,
        batches={b["batch"]: (b["rows_in"], b["fetched"])
                 for b in sim.batches},
        url_rows=len(wl.seeds)
        + sum(outdeg[k[1]] * n for k, n in fetch.items()),
    )


def observe(store, stats: list[dict]) -> Observed:
    """Collect what the engine committed (Spark actions; run this outside
    any timed window)."""
    seen = {r.url_hash for r in store.read("url_seen").collect()}
    log = store.read("fetch_log")
    fetch = Counter(
        (r.batch, r.url, r.host, r.seq_in_host, float(r.planned_at_s))
        for r in log.select(
            "batch", "url", "host", "seq_in_host", "planned_at_s"
        ).collect()
    )
    verify_rows = verify_bad = 0
    vlog = store.read("verify_log")
    if vlog is not None:
        for r in vlog.select(*VERIFY_OK_COLS).collect():
            verify_rows += 1
            verify_bad += not all(r[c] for c in VERIFY_OK_COLS)
    return Observed(
        seen=seen,
        fetch=fetch,
        batches={s["batch"]: (s["rows_in"], s["fetched"]) for s in stats},
        verify_rows=verify_rows,
        verify_bad=verify_bad,
    )


def robots_blocked(url: str, robots: dict) -> bool:
    rules, _ = robots.get(host_of(url), ([], 0.0))
    return any(path_of(url).startswith(r) for r in rules)


def problems(wl: Workload, exp: Expected, obs: Observed) -> list[str]:
    """Every way the observed crawl differs from the oracle (empty = pass)."""
    out = []
    if obs.seen != exp.seen:
        out.append(
            f"url_seen: {len(obs.seen - exp.seen)} unexpected, "
            f"{len(exp.seen - obs.seen)} missing"
        )
    if obs.fetch != exp.fetch:
        extra = sorted((obs.fetch - exp.fetch).elements())
        missing = sorted((exp.fetch - obs.fetch).elements())
        out.append(
            f"fetch_log: {len(extra)} unexpected (first {extra[:2]}), "
            f"{len(missing)} missing (first {missing[:2]})"
        )
    for b in sorted(set(obs.batches) | set(exp.batches)):
        got = obs.batches.get(b, (0, 0))
        want = exp.batches.get(b, (0, 0))
        if got != want:
            out.append(f"batch {b} (rows_in, fetched) = {got}, oracle {want}")
    if obs.verify_bad:
        out.append(f"verify_log: {obs.verify_bad} rows not fully ok")
    if wl.n_images and obs.verify_rows == 0:
        out.append("verify_log: no rows, but the crawl has a payload table")
    blocked = [k[1] for k in obs.fetch if robots_blocked(k[1], wl.robots)]
    if blocked:
        out.append(f"fetch_log: {len(blocked)} robots-disallowed URLs")
    return out
