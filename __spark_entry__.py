"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: a 3-round deterministic crawl of the
                     synthetic web (the actual engine end-to-end), returning
                     top hosts by newly-discovered URLs.
``queries()``      — one entry per implemented operator (SURVEY.md §2),
                     each (spark, sf_dir) -> DataFrame over the driver's
                     testdata tables.
``oracle_sql()``   — matching DuckDB SQL per query (column names aligned).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run the PySpark-native crawler for 3 rounds on a 200-seed
    deterministic synthetic web; return hosts ranked by URLs discovered.

    Exercises the whole engine: frontier dequeue (window rank + politeness
    caps), salted repartition, mapInPandas fetch+parse into interleaved
    span arrays, vectorized canonicalization, single-scan exact seen-set
    anti-join, MERGE-back + lineage (SURVEY.md §3.4).
    """
    from pyspark.sql import functions as F

    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    n_hosts, page_space = 25, 500
    cfg = CrawlConfig(
        n_hosts=n_hosts, page_space=page_space, max_retries=2,
        fetch_partitions=4,
        # exercise the full sink surface in the flagship: raw bodies kept
        # for re-parse (S14) and the media-ref table (S13)
        keep_raw_body=True, write_media_table=True,
    )
    seeds = synth.seed_list(spark, 200, n_hosts, page_space)
    hosts = synth.hosts_config(spark, n_hosts)
    workdir = tempfile.mkdtemp(prefix="spider_spark_entry_")
    crawler = Crawler(spark, workdir, cfg)
    crawler.bootstrap(seeds, hosts)
    crawler.run_rounds(2)
    # robots.txt refresh cycle mid-crawl (north-rule robots cache): h1
    # republishes its robots with a new disallow; the cached hosts row is
    # MERGE-refreshed and round 3's dequeue + link-enqueue both respect
    # it (frontier.dequeue recheck — queued /p2* URLs on h1 stay pending,
    # mirrored in refsim.simulate host_updates).  Crawl-delay/cap match
    # synth's h1 config so ONLY the disallow changes.
    from spider_spark.robots import hosts_from_robots

    robots_fetch = spark.createDataFrame(
        [("h1.example", "User-agent: *\nDisallow: /p2\nCrawl-delay: 1")],
        ["host", "robots_txt"],
    )
    crawler.update_hosts(hosts_from_robots(robots_fetch, default_cap=10))
    # continuous seed ingestion mid-crawl (streaming/ingest.py): a seed
    # file lands in a watched directory and the checkpointed availableNow
    # stream drains it into the live frontier via the idempotent
    # enqueue_seeds MERGE — the batch is fetchable in round 3
    import json
    import os

    from spider_spark.streaming.ingest import ingest_seed_stream

    seeds_dir = os.path.join(workdir, "seeds_in")
    os.makedirs(seeds_dir, exist_ok=True)
    with open(os.path.join(seeds_dir, "batch1.json"), "w") as f:
        for i in range(30):
            url = f"http://h{(7 * i + 5) % n_hosts}.example/p{(17 * i + 3) % page_space}"
            f.write(json.dumps({"url": url, "priority": i % 3}) + "\n")
    ingest_seed_stream(
        spark, crawler, seeds_dir, os.path.join(workdir, "ingest_ckpt")
    )
    crawler.run_rounds(1)
    frontier = crawler.frontier_df()
    return (
        frontier.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum((F.col("state") == "fetched").cast("long")).alias("n_fetched"),
            F.sum((F.col("state") == "dead").cast("long")).alias("n_dead"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy(F.col("n_urls").desc(), F.col("host"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from spider_spark.catalog import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from spider_spark.catalog import ORACLES

    return dict(ORACLES)
