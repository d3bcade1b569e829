"""robots.txt parse → hosts-cache refresh → enforcement golden tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark.robots import hosts_from_robots, parse_robots_txt

ROBOTS = """\
# global rules
User-agent: *
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2.5

User-agent: spider-spark
User-agent: other-bot
Disallow: /only-for-us/
Crawl-delay: 1

User-agent: greedy
Disallow:
"""


def test_parse_star_group():
    g = parse_robots_txt(ROBOTS, agent="*")
    assert g["disallow"] == ["/private/", "/tmp"]
    assert g["crawl_delay"] == 3  # 2.5s -> ceil to whole rounds


def test_parse_specific_agent_beats_star():
    g = parse_robots_txt(ROBOTS, agent="Spider-Spark")  # case-insensitive
    assert g["disallow"] == ["/only-for-us/"]
    assert g["crawl_delay"] == 1
    # the shared-UA group applies to both named agents
    assert parse_robots_txt(ROBOTS, agent="other-bot")["disallow"] == ["/only-for-us/"]


def test_parse_empty_disallow_and_unknown_agent():
    assert parse_robots_txt(ROBOTS, agent="greedy") == {
        "disallow": [],
        "crawl_delay": None,
    }
    # no groups at all
    assert parse_robots_txt("", agent="x") == {"disallow": [], "crawl_delay": None}


def test_hosts_cache_refresh_and_enforcement(spark, tmp_path):
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.politeness import robots_allowed
    from spider_spark.round import CrawlConfig

    robots = spark.createDataFrame(
        [
            ("h0.example", "User-agent: *\nDisallow: /p1\nCrawl-delay: 4"),
            ("h1.example", ""),
        ],
        ["host", "robots_txt"],
    )
    rows = hosts_from_robots(robots, agent="spider-spark", default_delay=1, default_cap=7)
    got = {r["host"]: r for r in rows.collect()}
    assert got["h0.example"]["crawl_delay"] == 4
    assert list(got["h0.example"]["disallow_prefixes"]) == ["/p1"]
    assert got["h1.example"]["crawl_delay"] == 1
    assert got["h1.example"]["max_concurrent"] == 7

    # enforcement: /p1* paths on h0 are dropped, h1 untouched
    urls = spark.createDataFrame(
        [
            ("h0.example", "http://h0.example/p10"),
            ("h0.example", "http://h0.example/p2"),
            ("h1.example", "http://h1.example/p10"),
        ],
        ["host", "url"],
    )
    kept = {r["url"] for r in robots_allowed(urls, rows).collect()}
    assert kept == {"http://h0.example/p2", "http://h1.example/p10"}

    # cache refresh: MERGE into a live crawler's hosts table
    cfg = CrawlConfig(n_hosts=5, page_space=100, fetch_partitions=2)
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(synth.seed_list(spark, 10, 5, 100), synth.hosts_config(spark, 5))
    before = c.store.read("hosts").count()
    # h00.example is new (insert); h1.example already exists (update)
    c.update_hosts(rows.withColumn("host", F.regexp_replace("host", r"^h0\.", "h00.")))
    after = c.store.read("hosts")
    assert after.count() == before + 1
    merged = {r["host"]: r["crawl_delay"] for r in after.collect()}
    assert merged["h00.example"] == 4
    assert merged["h1.example"] == 1  # refreshed from its (empty) robots


def test_sitemap_index_expands_children_and_drops_junk(spark):
    from spider_spark.robots import sitemap_index_urls

    # pretty-printed index: two children, one malformed entry (no <loc>)
    idx = (
        "<sitemapindex>\n"
        "  <sitemap>\n    <loc> http://a.example/sm0.xml </loc>\n"
        "    <lastmod>2026-01-01</lastmod>\n  </sitemap>\n"
        "  <sitemap>\n    <loc>http://a.example/sm1.xml</loc>\n  </sitemap>\n"
        "  <sitemap><lastmod>junk</lastmod></sitemap>\n"
        "</sitemapindex>"
    )
    # a plain urlset doc routed through the index parser yields nothing
    urlset = "<urlset>\n  <url>\n    <loc>http://a.example/p0</loc>\n  </url>\n</urlset>"
    df = spark.createDataFrame([(idx,), (urlset,)], ["sitemap_xml"])
    got = sorted(r.url for r in sitemap_index_urls(df).collect())
    assert got == ["http://a.example/sm0.xml", "http://a.example/sm1.xml"]
