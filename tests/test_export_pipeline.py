"""End-to-end training-data export composition: crawl -> Iceberg-style
incremental scan (only the new round's documents, O(delta) members) ->
span flattening -> token-budget sequence packing -> sharded parquet
export.  This is the 100 TB story the pieces exist for; the gate proves
they compose (read_changes feeding pack_sequences feeding a partitioned
sink) without rescanning history or splitting a document."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.functions.text import pack_sequences, token_count_col
from spider_spark.round import CrawlConfig

N_HOSTS, PAGE_SPACE = 12, 200


def test_incremental_export_packs_only_the_new_round(spark, tmp_path):
    cfg = CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=1,
        fetch_partitions=2,
    )
    crawler = Crawler(spark, str(tmp_path / "store"), cfg)
    crawler.bootstrap(
        synth.seed_list(spark, 50, N_HOSTS, PAGE_SPACE),
        synth.hosts_config(spark, N_HOSTS),
    )
    crawler.run_rounds(2)

    # incremental scan: exactly round 2's documents, no history rescan
    delta = crawler.store.read_changes("documents", since_round=1)
    all_docs = crawler.store.read("documents")
    r2_ids = {r["doc_id"] for r in all_docs.filter("fetch_round = 2").collect()}
    assert {r["doc_id"] for r in delta.select("doc_id").collect()} == r2_ids
    assert len(r2_ids) > 10

    # flatten the interleaved spans to trainable text, pack per host
    flat = delta.select(
        "doc_id", "host",
        F.concat_ws(
            " ",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        ).alias("text"),
    ).withColumn("did", F.xxhash64("doc_id"))
    budget = 64
    packed = pack_sequences(
        flat, budget=budget, n_shards=4, stratum_col="host", order_col="did"
    )
    assert packed.count() == len(r2_ids)  # every doc in exactly one seq

    out = tmp_path / "export"
    packed.select("host", "shard", "seq", "doc_id", "text").write.partitionBy(
        "shard"
    ).parquet(str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == len(r2_ids)
    assert {r["shard"] for r in back.select("shard").distinct().collect()} <= {0, 1, 2, 3}

    # packing invariant survives the roundtrip: within each
    # (host, shard, seq), the exclusive prefix starts under budget
    rows = back.withColumn("tk", token_count_col(F.col("text")).cast("long")).join(
        flat.select("doc_id", "did"), "doc_id"
    ).collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["host"], r["shard"]), []).append(r)
    for g in groups.values():
        g.sort(key=lambda r: r["did"])
        run = 0
        for r in g:
            assert r["seq"] == run // budget
            run += r["tk"]
