"""Seeded input generator for the committed-round crawl benchmark.

Every input a run feeds the engine comes from here and is a pure function
of (workload, seed): the seed list, the hosts (politeness) config and, for
``recrawl_dup``, the sample of a small URL universe.  The URLs are drawn
directly as distinct (host, page) pairs of the simnet URL space, so the
requested seed count is the distinct seed count (checked, and recorded in
the run's input summary).

The workload shapes, and why each exists, are described in README.md.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from spider_spark import simnet

# Each workload's input shape.  ``n_hosts``/``page_space`` are also the only
# CrawlConfig fields the benchmark sets (they describe the simnet universe);
# every engine setting stays at its CrawlConfig default.
WORKLOADS: dict[str, dict] = {
    # new links almost never hit the seen set: page space >> pages crawled
    "fresh_bfs": dict(
        n_hosts=80, page_space=1_000_000, n_seeds=4_000,
        hot_frac=0.3, cap=20, hot_cap=240,
    ),
    # seeds are a 70% sample of a small universe: most links are known
    "recrawl_dup": dict(
        n_hosts=40, page_space=400, sample_frac=0.7, cap=50,
    ),
}

HOT_HOST = 0


@dataclass
class Inputs:
    workload: str
    seed: int
    n_hosts: int
    page_space: int
    seeds: list[tuple[str, int]]  # (url, priority), distinct urls
    hosts: list[tuple[str, int, int, list[str]]]  # schemas.HOSTS rows

    def hosts_dict(self) -> dict[str, dict]:
        """The hosts config in refsim.simulate's shape."""
        return {
            h: {"crawl_delay": d, "max_concurrent": c, "disallow_prefixes": list(p)}
            for h, d, c, p in self.hosts
        }

    def summary(self) -> dict:
        hot = simnet.host_of(HOT_HOST) + "/"
        return {
            "workload": self.workload,
            "seed": self.seed,
            "n_hosts": self.n_hosts,
            "page_space": self.page_space,
            "distinct_seeds": len({u for u, _ in self.seeds}),
            "hot_host_seeds": sum(1 for u, _ in self.seeds if u.startswith("http://" + hot)),
        }


def generate(workload: str, seed: int) -> Inputs:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    n_hosts, page_space = spec["n_hosts"], spec["page_space"]
    if "sample_frac" in spec:
        universe = n_hosts * page_space
        picks = rng.sample(range(universe), round(spec["sample_frac"] * universe))
        pairs = sorted((i // page_space, i % page_space) for i in picks)
    else:
        chosen: set[tuple[int, int]] = set()
        while len(chosen) < spec["n_seeds"]:
            host = HOT_HOST if rng.random() < spec["hot_frac"] else rng.randrange(n_hosts)
            chosen.add((host, rng.randrange(page_space)))
        pairs = sorted(chosen)
    # priorities 0..3 so the per-host rank (priority, next_fetch, url) orders
    # on more than the url
    seeds = [(simnet.url_of(h, p), rng.randrange(4)) for h, p in pairs]
    if len({u for u, _ in seeds}) != len(pairs):
        raise RuntimeError(f"{workload}: seed urls are not distinct")
    hot_cap = spec.get("hot_cap", spec["cap"])
    hosts = [
        (simnet.host_of(h), 0, hot_cap if h == HOT_HOST else spec["cap"], [])
        for h in range(n_hosts)
    ]
    return Inputs(workload, seed, n_hosts, page_space, seeds, hosts)
