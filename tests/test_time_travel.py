"""Iceberg time-travel + incremental-scan analogs (storage.read_at /
read_changes): a consumer reads a frozen committed snapshot while the
crawl keeps appending, and an incremental export reads ONLY the rows a
round range added — O(delta) members, never a history diff."""

import pytest
from pyspark.sql import functions as F

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig
from spider_spark.storage import TableStore


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    wd = tmp_path_factory.mktemp("tt_store")
    cfg = CrawlConfig(n_hosts=10, page_space=400, fetch_partitions=4)
    c = Crawler(spark, str(wd), cfg)
    c.bootstrap(synth.seed_list(spark, 60, 10, 400), synth.hosts_config(spark, 10))
    res = c.run_rounds(3, expire_keep=50)
    assert len(res) == 3
    return c


def test_read_at_returns_frozen_snapshots(crawled):
    st = crawled.store
    per_round = {r: st.read_at("documents", round_id=r).count() for r in (1, 2, 3)}
    # documents only grow, and the current read matches the last snapshot
    assert per_round[1] < per_round[2] < per_round[3]
    assert st.read("documents").count() == per_round[3]
    # the frozen snapshot is unaffected by the pointer's current position
    assert st.read_at("documents", round_id=1).count() == per_round[1]
    # seen grows too, and round-0 (bootstrap) is readable
    assert st.read_at("seen", round_id=0).count() <= st.read_at("seen", round_id=3).count()


def test_read_changes_is_exactly_the_delta(crawled):
    st = crawled.store
    full = {r["doc_id"] for r in st.read_at("documents", round_id=3).select("doc_id").collect()}
    at1 = {r["doc_id"] for r in st.read_at("documents", round_id=1).select("doc_id").collect()}
    delta = {
        r["doc_id"]
        for r in st.read_changes("documents", since_round=1, until_round=3)
        .select("doc_id")
        .collect()
    }
    assert delta == full - at1, "incremental scan must be exactly the appended rows"
    # default until = current pointer
    assert {
        r["doc_id"] for r in st.read_changes("documents", since_round=1).select("doc_id").collect()
    } == full - at1
    # empty range -> empty frame with the right schema
    empty = st.read_changes("documents", since_round=3, until_round=3)
    assert empty.count() == 0
    assert "doc_id" in empty.columns


def test_read_at_validates_rounds_and_tables(crawled):
    st = crawled.store
    with pytest.raises(ValueError, match="never committed"):
        st.read_at("documents", round_id=99)
    with pytest.raises(ValueError, match="did not exist"):
        st.read_at("documents", round_id=0)  # created in round 1, not bootstrap


def test_read_changes_refuses_rewritten_history(spark, tmp_path):
    """Compaction rewrites members; an incremental scan across it would
    double-count — it must raise, not answer wrong."""
    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.range(5).select(F.col("id")))
    st.commit_round(1)
    for i in range(6):
        st.append("t", spark.range(5 * (i + 2), 5 * (i + 3)).select(F.col("id")))
    st.compact("t", max_members=2)  # force a rewrite
    st.commit_round(2)
    with pytest.raises(ValueError, match="rewritten"):
        st.read_changes("t", since_round=1, until_round=2)
    # time-travel to the pre-compaction snapshot still works
    assert st.read_at("t", round_id=1).count() == 5
