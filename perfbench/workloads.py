"""Seeded workload inputs for the crawl-loop benchmark.

Every workload is built from one integer seed with numpy only (no Spark,
no xxhash64), so the engine run and the oracle simulation see exactly the
same rows. `write_inputs` writes them in the shapes `run_crawl.py` reads:
seeds as a text file (one URL per line), links/robots/pages as parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WHY = {
    "crawl": (
        "growing web with table fetch and payload verify: every stage runs; "
        "fixed per-batch Spark job cost spread over all layers sets the pace "
        "(traced: commit ~16%, every other layer <=13%)"
    ),
    "frontier": (
        "40k dirty duplicate seeds, tight budgets, prefix robots, a hot PLD: "
        "a 20k-row frontier rewritten each batch, no verify; prepare+DRUM+"
        "BEAST take 34% of traced time (crawl 25%)"
    ),
}


@dataclass
class Workload:
    name: str
    seed: int
    seeds: list[str]
    links: list[tuple[str, str]]
    # host -> (plain-prefix disallow rules, crawl delay); hosts absent here
    # are allow-all with no delay, in the engine and the oracle alike
    robots: dict[str, tuple[list[str], float]]
    # STAR/BEAST/politeness knobs shared by CrawlConfig and SimConfig
    cfg: dict = field(default_factory=dict)
    n_batches: int = 3
    n_images: int = 0  # 0 = no payload table (fetch_log only, no verify)


_DIRTY = (
    lambda h, p, f: f"HTTP://{h.upper()}:80{p}",
    lambda h, p, f: f"http://{h}{p}#frag{f}",
    lambda h, p, f: f"http://{h}/x/..{p}",
    lambda h, p, f: f"http://{h}/.{p}",
    lambda h, p, f: f"http://{h.upper()}{p}",
)


def _dirty(rng: np.random.Generator, hosts, paths) -> list[str]:
    """Non-canonical spellings of http://host/path that the engine's and
    the oracle's canonicalizers both map back to it."""
    kinds = rng.integers(len(_DIRTY), size=len(hosts))
    frags = rng.integers(100, size=len(hosts))
    return [_DIRTY[k](h, p, f)
            for k, h, p, f in zip(kinds, hosts, paths, frags)]


def _crawl(seed: int) -> Workload:
    """bench.py --loop's web: roots are the seeds, ~8 outlinks per page to
    random pages of any site, permissive robots, generous budgets."""
    rng = np.random.default_rng(seed)
    n_sites, n_paths, fanout = 100, 50, 8
    seeds = [f"http://site{s}.com/" for s in range(n_sites)]
    links = []
    for s in range(n_sites):
        for p in range(-1, n_paths):
            src = f"http://site{s}.com/" + ("" if p < 0 else f"p{p}")
            ds = rng.integers(n_sites, size=fanout)
            dp = rng.integers(n_paths, size=fanout)
            links += [(src, f"http://site{a}.com/p{b}")
                      for a, b in zip(ds, dp)]
    return Workload(
        "crawl", seed, seeds, links,
        robots={f"site{s}.com": ([], 0.0) for s in range(n_sites)},
        cfg=dict(top_k=1000, b_hi=5000, b_lo=50, default_budget=5000),
        n_batches=3,
        n_images=200,
    )


def _frontier(seed: int) -> Workload:
    """Many hosts under few PLDs with one hot PLD (~20% of the URLs), a
    dirty duplicate-heavy seed list, high fan-out links whose targets are
    mostly already-seen URLs in non-canonical form, tight budgets,
    plain-prefix robots disallows and non-zero crawl delays."""
    rng = np.random.default_rng(seed)
    n_plds, hosts_per, hot_hosts, n_paths, n_new, fanout = (
        12, 6, 16, 240, 48, 12
    )
    hosts = []
    for k in range(n_plds):
        n = hot_hosts if k == 0 else hosts_per
        hosts += [f"h{i}.pld{k}.com" for i in range(n)]
    paths = [f"/p{p}" if p % 4 else f"/private/p{p}" for p in range(n_paths)]
    kh = np.repeat(np.arange(len(hosts)), n_paths)  # known URL -> host
    kp = np.tile(np.arange(n_paths), len(hosts))  # known URL -> path
    # one to three dirty spellings of every known URL, shuffled
    dup = np.repeat(np.arange(len(kh)), rng.integers(1, 4, size=len(kh)))
    rng.shuffle(dup)
    seeds = _dirty(rng, [hosts[i] for i in kh[dup]],
                   [paths[i] for i in kp[dup]])
    # fanout links per known URL: 85% to a known URL, else to a new path
    src = np.repeat(np.arange(len(kh)), fanout)
    to_known = rng.random(len(src)) < 0.85
    pick = rng.integers(len(kh), size=len(src))
    th = np.where(to_known, kh[pick], rng.integers(len(hosts), size=len(src)))
    new = rng.integers(n_new, size=len(src))
    dst = _dirty(
        rng, [hosts[i] for i in th],
        [paths[kp[j]] if k else f"/n{n}"
         for k, j, n in zip(to_known, pick, new)],
    )
    links = [(f"http://{hosts[kh[i]]}{paths[kp[i]]}", d)
             for i, d in zip(src, dst)]
    robots = {}
    for h in hosts:
        r = rng.random()
        if r < 0.1:
            continue  # no robots entry: allow-all
        rules = ["/private"] if r < 0.7 else ["/private/p4", "/n1"]
        robots[h] = (rules, float(rng.choice([0.0, 1.5, 2.0, 4.0])))
    return Workload(
        "frontier", seed, seeds, links, robots,
        cfg=dict(top_k=4, b_hi=60, b_lo=15, default_budget=30),
        n_batches=3,
    )


GENERATORS = {"crawl": _crawl, "frontier": _frontier}


def build(name: str, seed: int) -> Workload:
    return GENERATORS[name](seed)


def write_inputs(wl: Workload, out_dir: str) -> dict[str, str]:
    """Write the workload's inputs; returns {kind: path}."""
    from jirlbot_spark.sources.fixtures import gen_pages

    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, f"{k}.parquet")
             for k in ("links", "robots", "pages")}
    paths["seeds"] = os.path.join(out_dir, "seeds.txt")
    with open(paths["seeds"], "w") as f:
        f.write("".join(u + "\n" for u in wl.seeds))
    src, dst = zip(*wl.links)
    pq.write_table(
        pa.table({"src_url": list(src), "dst_url": list(dst)}), paths["links"]
    )
    hosts = sorted(wl.robots)
    pq.write_table(
        pa.table({
            "host": hosts,
            "disallow": pa.array(
                [wl.robots[h][0] for h in hosts], pa.list_(pa.string())
            ),
            "crawl_delay": [wl.robots[h][1] for h in hosts],
        }),
        paths["robots"],
    )
    if wl.n_images:
        pq.write_table(
            pa.Table.from_pandas(
                gen_pages(wl.seed, wl.n_images), preserve_index=False
            ),
            paths["pages"],
        )
    else:
        del paths["pages"]
    return paths
