"""A committed round runs ONE driver action on its dedup path: the
lineage collect, which also carries the candidate and new-URL counts.
Counted as DataFrame.count / DataFrame.collect calls made inside
run_round (not Spark job ids, which AQE stage splitting changes)."""

from __future__ import annotations

from spider_spark import crawl, synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig


def test_round_runs_one_collect_and_no_count(spark, tmp_path, monkeypatch):
    cfg = CrawlConfig(n_hosts=8, page_space=60, fetch_partitions=2)
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(synth.seed_list(spark, 40, 8, 60), synth.hosts_config(spark, 8))

    df_cls = type(spark.range(1))
    calls = {"count": 0, "collect": 0}
    inside = [False]

    def counting(name):
        orig = getattr(df_cls, name)

        def wrapped(self, *a, **kw):
            if inside[0]:
                calls[name] += 1
            return orig(self, *a, **kw)

        return wrapped

    orig_run_round = crawl.run_round

    def run_round(*a, **kw):
        inside[0] = True
        try:
            return orig_run_round(*a, **kw)
        finally:
            inside[0] = False

    for name in calls:
        monkeypatch.setattr(df_cls, name, counting(name))
    monkeypatch.setattr(crawl, "run_round", run_round)
    (res,) = c.run_rounds(1, record_order=False)

    assert res.dequeued > 0 and res.new_urls > 0 and res.dup_urls >= 0
    assert calls == {"count": 0, "collect": 1}
