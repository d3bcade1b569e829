"""T1 checkpoint/resume: kill after round k, resume, final state identical
to an uninterrupted run (SURVEY.md §7 step 5) — from a torn write before
round 3 and from a crash after each of round 3's store writes.  The seen
table is the only dedup state, so restoring the round manifest must be
all a resume needs."""

from __future__ import annotations

import shutil

import pytest

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig

N_HOSTS, PAGE_SPACE = 15, 300


def _cfg():
    return CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2, fetch_partitions=4
    )


def _bootstrapped(spark, workdir):
    c = Crawler(spark, workdir, _cfg())
    c.bootstrap(
        synth.seed_list(spark, 80, N_HOSTS, PAGE_SPACE), synth.hosts_config(spark, N_HOSTS)
    )
    return c


def _state(c):
    """Every table a round writes, as row multisets: a torn write that
    survived resume would show up as a duplicated or missing row."""
    return {
        t: sorted(map(repr, c.store.read(t).collect()))
        for t in ("seen", "frontier", "documents", "host_state", "lineage")
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    a = _bootstrapped(spark, str(tmp_path_factory.mktemp("resume_a")))
    a.run_rounds(4, expire_keep=10)
    return _state(a)


@pytest.fixture(scope="module")
def after_round_2(spark, tmp_path_factory):
    """A store committed through round 2; each test crashes a copy."""
    wd = str(tmp_path_factory.mktemp("resume_r2") / "store")
    _bootstrapped(spark, wd).run_rounds(2, expire_keep=10)
    return wd


def _resume_and_finish(spark, workdir, expect_rid):
    c = Crawler(spark, workdir, _cfg())
    assert c.resume() == expect_rid
    c.run_rounds(4 - expect_rid, expire_keep=10)
    return _state(c)


def test_resume_equals_uninterrupted(spark, tmp_path, uninterrupted, after_round_2):
    # 2 committed rounds, then a simulated crash (half-written next round:
    # new frontier version without a manifest), then resume + 2
    wd = str(tmp_path / "b")
    shutil.copytree(after_round_2, wd)
    b = Crawler(spark, wd, _cfg())
    b.store.write("frontier", b.frontier_df().limit(3))  # torn write
    assert _resume_and_finish(spark, wd, 2) == uninterrupted


class _Crash(Exception):
    pass


# (store method, table it writes, round resume() returns): the crash hits
# round 3 right after that write; only the last point is past commit_round
CRASH_POINTS = {
    "frontier-merge": ("merge_upsert", "frontier", 2),
    "seen-append": ("append", "seen", 2),
    "documents-append": ("append", "documents", 2),
    "host_state-merge": ("merge_upsert", "host_state", 2),
    "lineage-append": ("append", "lineage", 2),
    "commit-then-expire": ("expire_snapshots", None, 3),
}


@pytest.mark.parametrize("point", list(CRASH_POINTS))
def test_resume_after_crash_at_write(spark, tmp_path, uninterrupted, after_round_2, point):
    method, table, expect_rid = CRASH_POINTS[point]
    wd = str(tmp_path / "b")
    shutil.copytree(after_round_2, wd)
    b = Crawler(spark, wd, _cfg())
    orig = getattr(b.store, method)

    def crash_after_write(*a, **kw):
        if table is None:  # expire_snapshots: commit_round already ran
            raise _Crash(point)
        out = orig(*a, **kw)
        if a[0] == table:
            raise _Crash(point)
        return out

    setattr(b.store, method, crash_after_write)
    with pytest.raises(_Crash):
        b.run_rounds(2, expire_keep=10)
    assert _resume_and_finish(spark, wd, expect_rid) == uninterrupted


def test_reprioritize_survives_resume(spark, tmp_path):
    """ADVICE r4: reprioritize_from_links re-commits the round manifest, so
    a crash between the refresh and the next round's commit no longer
    reverts the refresh on resume() — the resumed run sees the boosted
    priorities, keeping parity with a refsim run that has reprioritize set."""
    seeds = synth.seed_list(spark, 80, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    c = Crawler(spark, str(tmp_path / "r"), _cfg())
    c.bootstrap(seeds, hosts)
    c.run_rounds(2, expire_keep=10)
    c.reprioritize_from_links(boost_cap=2)
    before = {
        r["url_hash"]: r["priority"]
        for r in c.frontier_df().filter("state = 'pending'").collect()
    }
    c2 = Crawler(spark, str(tmp_path / "r"), _cfg())
    assert c2.resume() == 2
    after = {
        r["url_hash"]: r["priority"]
        for r in c2.frontier_df().filter("state = 'pending'").collect()
    }
    assert after == before
    # and the manifest still records the refresh next to the round tables
    import json as _json
    import os as _os

    with open(_os.path.join(str(tmp_path / "r"), "rounds", "round_000002.json")) as f:
        m = _json.load(f)
    assert m["reprioritized"] == 1
