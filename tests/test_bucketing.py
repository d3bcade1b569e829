"""Bucketed seen/media tables (VERDICT r2 #4): read_partitions opens
only the selected buckets (the media dup-skip uses it), the round's seen
anti-join reads the url_hash column of every bucket in one scan
(``read("seen", columns=["url_hash"])``) and must equal the full read,
and bucketing — which bounds seen compaction to one bucket per rewrite —
must never change crawl results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_spark.storage import TableStore


def test_read_partitions_opens_only_selected_members(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    df = spark.range(0, 400).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.pmod("id", F.lit(8)).cast("int").alias("seen_bucket"),
    )
    st.write("seen", df, partition_by=["seen_bucket"])
    # append a second segment so buckets have multiple members
    st.append("seen", df.withColumn("url_hash", F.col("url_hash") + 1000))

    pruned = st.read_partitions("seen", [2, 5])
    member_paths = st.partition_files("seen", [2, 5])
    assert len(member_paths) == 4  # 2 buckets x 2 segments
    opened = pruned.inputFiles()
    assert opened, "pruned read should open the selected buckets"
    for f in opened:
        assert any(p in f for p in member_paths), f"opened non-candidate file {f}"
    # pruned slice == full-scan filter on the same buckets
    assert (
        pruned.count()
        == st.read("seen").filter(F.col("seen_bucket").isin(2, 5)).count()
        == 200
    )
    # empty selection: no files, empty frame with full schema
    assert st.read_partitions("seen", []).count() == 0


def _run_crawl(spark, workdir, buckets):
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    cfg = CrawlConfig(
        n_hosts=8, page_space=60, fetch_partitions=2,
        seen_buckets=buckets, media_buckets=buckets, write_media_table=True,
    )
    seeds = synth.seed_list(spark, 40, 8, 60)
    hosts = synth.hosts_config(spark, 8)
    c = Crawler(spark, workdir, cfg)
    c.bootstrap(seeds, hosts)
    c.run_rounds(2)
    return c


def test_bucketed_crawl_matches_unbucketed(spark, tmp_path):
    a = _run_crawl(spark, str(tmp_path / "bucketed"), buckets=4)
    b = _run_crawl(spark, str(tmp_path / "flat"), buckets=0)

    assert a.seen_urls() == b.seen_urls()
    fa = {(r["url"], r["state"]) for r in a.frontier_df().collect()}
    fb = {(r["url"], r["state"]) for r in b.frontier_df().collect()}
    assert fa == fb
    ma = {r["media_ref"] for r in a.store.read("media").collect()}
    mb = {r["media_ref"] for r in b.store.read("media").collect()}
    assert ma == mb

    # the bucketed store really is partitioned (per-bucket members)
    values = {m["value"] for m in a.store._manifest("seen")["members"]}
    assert values <= {"0", "1", "2", "3"} and len(values) > 1
    mvalues = {m["value"] for m in a.store._manifest("media")["members"]}
    assert mvalues <= {"0", "1", "2", "3"}


def _seen_rows(spark, lo, hi, buckets=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.pmod("id", F.lit(buckets)).cast("int").alias("seen_bucket"),
    )


def _scans(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("Relation ")


@pytest.mark.parametrize("case", ["segments", "compacted", "deleted", "pre_spec"])
def test_projected_read_equals_full_read(spark, tmp_path, case):
    st = TableStore(spark, str(tmp_path))
    if case == "pre_spec":
        # unpartitioned member with a physical seen_bucket column, then a
        # metadata-only spec evolution and a partitioned append
        st.write("seen", _seen_rows(spark, 0, 300))
        st.evolve_partition_spec("seen", "seen_bucket")
        st.append("seen", _seen_rows(spark, 300, 500))
    else:
        st.write("seen", _seen_rows(spark, 0, 200), partition_by=["seen_bucket"])
        for lo in (200, 400, 600):
            st.append("seen", _seen_rows(spark, lo, lo + 200))
    if case == "compacted":
        assert st.compact("seen", max_members=2) is not None
    if case == "deleted":
        st.delete_rows("seen", spark.range(0, 800, 7).withColumnRenamed("id", "url_hash"), "url_hash")
        st.append("seen", _seen_rows(spark, 0, 50))  # re-inserted after the delete

    got = st.read("seen", columns=["url_hash"])
    want = st.read("seen").select("url_hash")
    assert got.columns == ["url_hash"]
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in want.collect())
    if case in ("segments", "pre_spec"):
        # no deletes: one scan of every member, vs one per bucket value
        assert _scans(got) == 1 < _scans(want)
