"""Span tracing for the benchmark's traced run, applied from outside.

Nothing under ``spider_spark/`` is changed: ``instrument`` wraps the public
calls each layer exposes (the ``TableStore`` methods of one crawler, the
``run_round`` the crawl loop calls, the seen prefilter and the filter's
``update_from_df``) for the duration of a ``with`` block, and restores them
on exit.

A span's self time is its duration minus the time its child spans cover,
so the self times of every span under one root add up to the root's wall
time exactly.  A ``write`` issued by ``append``/``merge_upsert`` on the same
table (the table is new) is part of that call, not a span of its own.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections import defaultdict
from unittest import mock

from spider_spark import bloom as bloom_mod
from spider_spark import crawl as crawl_mod


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []  # finished spans, in end order
        self._open: list[dict] = []
        self._roots = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = {
            "name": name,
            "root": parent["root"] if parent else next(self._roots),
            "parent": parent["name"] if parent else None,
            "start": time.perf_counter(),
            "child_s": 0.0,
            **attrs,
        }
        self._open.append(s)
        try:
            yield s
        finally:
            self._open.pop()
            s["end"] = time.perf_counter()
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - s.pop("child_s")
            if parent is not None:
                parent["child_s"] += s["dur_s"]
            self.spans.append(s)

    def current(self) -> str | None:
        return self._open[-1]["name"] if self._open else None

    def last_tree(self) -> list[dict]:
        """The spans of the last finished root span, itself included."""
        root = self.spans[-1]["root"]
        return [s for s in self.spans if s["root"] == root]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["self_s"]
        return dict(out)


def _store_span_name(op: str, table: str) -> str:
    if op == "write" and table == "_round_results":
        # the pin Crawler._materialize writes: dequeue, the politeness gates,
        # the salted repartition and the mapInPandas fetch+parse run here
        return "fetch.materialize"
    return f"storage.{op}.{table}"


@contextlib.contextmanager
def instrument(tracer: Tracer, crawler):
    """Wrap one crawler's layer calls in spans while the block runs.

    The prefilter wrapper adds the one extra Spark count the traced run pays
    for ``filter.maybe_frac``: the number of candidates the prefilter sends
    on to the exact seen check (recorded on the ``trace.maybe_count`` span)."""
    store = crawler.store

    def table_op(op):
        orig = getattr(store, op)

        def wrapped(table, *a, **kw):
            if op == "write" and tracer.current() in (
                f"storage.append.{table}", f"storage.merge_upsert.{table}"
            ):
                return orig(table, *a, **kw)
            with tracer.span(_store_span_name(op, table)):
                return orig(table, *a, **kw)

        return wrapped

    def plain_op(attr, name):
        orig = getattr(store, attr)

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        return wrapped

    def read_partitions(table, values):
        values = list(values)
        with tracer.span(f"storage.read_partitions.{table}", n_values=len(values)):
            return orig_read_partitions(table, values)

    def run_round(*a, **kw):
        with tracer.span("round"):
            return orig_run_round(*a, **kw)

    def bloom_prefilter(spark, candidates, bloom):
        definite_new, maybe_seen, bc = orig_prefilter(spark, candidates, bloom)
        with tracer.span("trace.maybe_count") as s:
            s["maybe"] = maybe_seen.count()
        return definite_new, maybe_seen, bc

    def update_from_df(self, spark, delta):
        # a rebuild from the whole seen table happens only inside resume
        name = "filter.rebuild" if tracer.current() == "resume" else "filter.update"
        with tracer.span(name):
            return orig_update(self, spark, delta)

    orig_read_partitions = store.read_partitions
    orig_run_round = crawl_mod.run_round
    orig_prefilter = bloom_mod.bloom_prefilter
    patches = [(store, op, table_op(op)) for op in ("write", "append", "merge_upsert")]
    patches += [
        (store, "commit_round", plain_op("commit_round", "storage.commit_round")),
        (store, "expire_snapshots", plain_op("expire_snapshots", "storage.expire_snapshots")),
        (store, "compact", plain_op("compact", "storage.compact")),
        (store, "restore_last_committed", plain_op("restore_last_committed", "storage.restore")),
        (store, "read_partitions", read_partitions),
        (crawl_mod, "run_round", run_round),
        (bloom_mod, "bloom_prefilter", bloom_prefilter),
    ]
    if crawler.bloom is not None:
        orig_update = type(crawler.bloom).update_from_df
        patches.append((type(crawler.bloom), "update_from_df", update_from_df))
    with contextlib.ExitStack() as stack:
        for owner, attr, wrapper in patches:
            stack.enter_context(mock.patch.object(owner, attr, wrapper))
        yield tracer
