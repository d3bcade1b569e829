"""SURVEY.md §5 gates (b)+(c): crawl-order, seen-set, and per-document
span-sequence equality between the Spark engine and the pure-Python
reference-semantics simulator, under the same seed list + politeness
budget."""

from __future__ import annotations

import pytest

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.refsim import SimConfig, simulate
from spider_spark.round import CrawlConfig

from .conftest import hosts_df_to_dict

N_HOSTS, PAGE_SPACE = 20, 400
ROUNDS = 4


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    cfg = CrawlConfig(
        n_hosts=N_HOSTS,
        page_space=PAGE_SPACE,
        global_cap=None,
        max_retries=2,
        fetch_partitions=4,
    )
    seeds = synth.seed_list(spark, 120, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    crawler = Crawler(spark, str(tmp_path_factory.mktemp("crawl")), cfg)
    crawler.bootstrap(seeds, hosts)
    results = crawler.run_rounds(ROUNDS, record_order=True)

    sim = simulate(
        [(r["url"], r["priority"]) for r in seeds.collect()],
        hosts_df_to_dict(hosts),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, global_cap=None, max_retries=2),
        ROUNDS,
    )
    return crawler, results, sim


def test_crawl_order_parity(crawled):
    _, results, sim = crawled
    assert len(results) == len(sim.crawl_order) == ROUNDS
    for res, sim_batch in zip(results, sim.crawl_order):
        assert res.batch_urls == sim_batch, f"round {res.round_id} order mismatch"


def test_seen_set_parity(crawled):
    crawler, _, sim = crawled
    assert crawler.seen_urls() == sim.seen


def test_span_sequence_parity(crawled):
    """Per-document span-sequence equality on (kind, text, media_ref, order)."""
    crawler, _, sim = crawled
    docs = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in crawler.store.read("documents").collect()
    }
    sim_docs = {
        d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for d, spans in sim.docs.items()
    }
    assert docs == sim_docs


def test_frontier_states_parity(crawled):
    crawler, _, sim = crawled
    eng = {
        r["url"]: (r["state"], r["retry_count"])
        for r in crawler.frontier_df().collect()
    }
    ref = {u: (row.state, row.retry_count) for u, row in sim.states.items()}
    assert eng == ref


def test_lineage_accounts_for_all_fetches(crawled):
    crawler, results, _ = crawled
    lineage = crawler.store.read("lineage")
    total = lineage.groupBy().sum("dequeued").collect()[0][0]
    assert total == sum(r.dequeued for r in results)


def test_span_invariant_holds(crawled):
    from spider_spark.parse import span_invariant_violations

    crawler, _, _ = crawled
    assert span_invariant_violations(crawler.store.read("documents")).count() == 0


# ---------------------------------------------------------------- robots refresh
@pytest.fixture(scope="module")
def crawled_with_robots_refresh(spark, tmp_path_factory):
    """2 rounds, then h1 republishes robots with a fresh ``Disallow: /p2``
    (robots.hosts_from_robots -> Crawler.update_hosts), then 2 more
    rounds.  The refresh must gate BOTH round-3+ link enqueue and
    already-queued h1 /p2* rows at dequeue time (frontier.dequeue
    recheck), exactly as refsim.simulate applies host_updates."""
    from spider_spark.robots import hosts_from_robots

    cfg = CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
        fetch_partitions=4,
    )
    seeds = synth.seed_list(spark, 120, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    crawler = Crawler(spark, str(tmp_path_factory.mktemp("crawl_rr")), cfg)
    crawler.bootstrap(seeds, hosts)
    results = crawler.run_rounds(2, record_order=True)
    # h1's synth config is delay=1, cap=10; the robots body reproduces
    # both so ONLY the disallow changes
    refreshed = hosts_from_robots(
        spark.createDataFrame(
            [("h1.example", "User-agent: *\nDisallow: /p2\nCrawl-delay: 1")],
            ["host", "robots_txt"],
        ),
        default_cap=10,
    )
    crawler.update_hosts(refreshed)
    results += crawler.run_rounds(2, record_order=True)

    patch = hosts_df_to_dict(refreshed)
    sim = simulate(
        [(r["url"], r["priority"]) for r in seeds.collect()],
        hosts_df_to_dict(hosts),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2),
        4,
        host_updates={3: patch},
    )
    return crawler, results, sim


def test_robots_refresh_order_parity(crawled_with_robots_refresh):
    _, results, sim = crawled_with_robots_refresh
    assert len(results) == len(sim.crawl_order) == 4
    for res, sim_batch in zip(results, sim.crawl_order):
        assert res.batch_urls == sim_batch, f"round {res.round_id} order mismatch"


def test_robots_refresh_seen_parity_and_discrimination(crawled_with_robots_refresh):
    crawler, results, sim = crawled_with_robots_refresh
    assert crawler.seen_urls() == sim.seen
    # non-vacuous: h1 /p2* rows were queued before the refresh and must
    # be pending-stuck after it, and rounds 3-4 fetch none of them
    frontier = {r["url"]: r["state"] for r in crawler.frontier_df().collect()}
    stuck = [u for u, s in frontier.items()
             if u.startswith("http://h1.example/p2") and s == "pending"]
    assert stuck, "fixture degenerate: no queued h1 /p2* URL at refresh time"
    fetched_after = [u for res in results[2:] for u in res.batch_urls]
    assert not [u for u in fetched_after if u.startswith("http://h1.example/p2")]
    # and the refresh actually changed behavior vs a no-update run
    sim_no_update = simulate(
        [(r["url"], r["priority"]) for r in
         synth.seed_list(crawler.spark, 120, N_HOSTS, PAGE_SPACE).collect()],
        hosts_df_to_dict(synth.hosts_config(crawler.spark, N_HOSTS)),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2),
        4,
    )
    assert sim_no_update.seen != sim.seen or sim_no_update.crawl_order != sim.crawl_order


# ---------------------------------------------------------------- priority refresh
@pytest.fixture(scope="module")
def crawled_with_reprioritize(spark, tmp_path_factory):
    """2 rounds, then Crawler.reprioritize_from_links(boost_cap=2)
    re-ranks pending rows by observed link in-degree, then 2 more
    rounds.  refsim applies the same formula at the start of round 3."""
    cfg = CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
        fetch_partitions=4,
    )
    seeds = synth.seed_list(spark, 120, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    crawler = Crawler(spark, str(tmp_path_factory.mktemp("crawl_pr")), cfg)
    crawler.bootstrap(seeds, hosts)
    results = crawler.run_rounds(2, record_order=True)
    crawler.reprioritize_from_links(boost_cap=2)
    results += crawler.run_rounds(2, record_order=True)

    sim = simulate(
        [(r["url"], r["priority"]) for r in seeds.collect()],
        hosts_df_to_dict(hosts),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2),
        4,
        reprioritize={3: 2},
    )
    return crawler, results, sim


def test_reprioritize_order_parity(crawled_with_reprioritize):
    _, results, sim = crawled_with_reprioritize
    assert len(results) == len(sim.crawl_order) == 4
    for res, sim_batch in zip(results, sim.crawl_order):
        assert res.batch_urls == sim_batch, f"round {res.round_id} order mismatch"


def test_reprioritize_seen_parity_and_discrimination(crawled_with_reprioritize):
    crawler, results, sim = crawled_with_reprioritize
    assert crawler.seen_urls() == sim.seen
    # non-vacuous: the refresh must actually change rounds 3-4 vs an
    # unrefreshed run of the same crawl
    sim_plain = simulate(
        [(r["url"], r["priority"]) for r in
         synth.seed_list(crawler.spark, 120, N_HOSTS, PAGE_SPACE).collect()],
        hosts_df_to_dict(synth.hosts_config(crawler.spark, N_HOSTS)),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2),
        4,
    )
    assert sim_plain.crawl_order[2:] != sim.crawl_order[2:], (
        "fixture degenerate: reprioritize changed nothing in rounds 3-4"
    )
    # boosted rows carry priority below their depth in the live frontier
    boosted = [
        r for r in crawler.frontier_df().collect()
        if r["state"] == "pending" and r["priority"] < r["depth"]
    ]
    assert boosted, "no pending row was boosted by in-degree"
