"""Committed-round crawl benchmark for spider_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload fresh_bfs --seed 1 --seconds 8 --trace 0

One process, one closed loop: a single driver starts a local Spark session
with at most four task slots, bootstraps a crawl from the seeded inputs of
``inputs.py``, then calls ``Crawler.run_rounds(1)`` back to back until
``--seconds`` have passed (at least one round, at most ``MAX_ROUNDS``).
Every engine setting stays at its ``CrawlConfig`` default.  Every round is
checked against ``refsim.simulate`` on the same inputs, outside the timed
window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the fixed
round schedule ``TRACE_SCHEDULE`` with the layer calls wrapped in spans
(``spans.py``), then times ``Crawler.resume`` on the committed store, and
prints the per-layer metrics.  The last stdout line is
the JSON result; the line before it holds the per-round detail.  README.md
documents the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_ROUNDS, MAX_ROUNDS = 1, 6
# traced run: "U" rounds run plain, "T" rounds under spans.instrument().
# Round 1 is a plain warm-up; the traced rounds 2 and 4 sit evenly around
# the plain round 3, so a steady drift in round cost cancels out of the
# tracing-overhead estimate.
TRACE_SCHEDULE = "UTUT"
TABLES = ("frontier", "seen", "documents", "host_state", "lineage", "_round_results")
# span name -> per-layer metric of its self time
SPAN_METRICS = {
    "crawl": "crawl.self_s",
    "round": "round.compute_s",
    "fetch.materialize": "fetch.materialize_s",
    "filter.update": "filter.update_s",
    "storage.read_partitions.seen": "storage.read_partitions.seen_s",
    "storage.merge_upsert.frontier": "storage.merge_upsert.frontier_s",
    "storage.merge_upsert.host_state": "storage.merge_upsert.host_state_s",
    "storage.append.seen": "storage.append.seen_s",
    "storage.append.documents": "storage.append.documents_s",
    "storage.append.lineage": "storage.append.lineage_s",
    "storage.commit_round": "storage.commit_round_s",
    "storage.expire_snapshots": "storage.expire_snapshots_s",
    "storage.compact": "storage.compact_s",
    "trace.maybe_count": "trace.maybe_count_s",
}


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def dir_bytes(path: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    )


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str):
    from spider_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{min(4, os.cpu_count() or 1)}]",
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed heap and young generation: G1's adaptive sizing
            # otherwise moves the JVM's peak RSS by 10-25% from run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn256m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin, held by this process, closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def expected_rounds(inputs, n_rounds: int):
    """Per-round (dequeued, fetched_ok, new_urls, dup_urls) and the final
    seen set of refsim.simulate on the same inputs.  New/dup counts follow
    the engine's definition: candidates are the distinct robots-allowed
    link targets of the round's ok fetches; new ones were not seen yet."""
    from spider_spark.refsim import SimConfig, _allowed, simulate

    hosts = inputs.hosts_dict()
    cfg = SimConfig(n_hosts=inputs.n_hosts, page_space=inputs.page_space)
    sim = simulate(inputs.seeds, hosts, cfg, n_rounds)
    seen = set(simulate(inputs.seeds, hosts, cfg, 0).seen)
    rows = []
    for batch in sim.crawl_order:
        ok = [u for u in batch if f"doc:{u}" in sim.docs]
        cand = {
            s["text"]
            for u in ok
            for s in sim.docs[f"doc:{u}"]
            if s["kind"] == "link" and _allowed(s["text"], hosts)
        }
        new = cand - seen
        seen |= new
        rows.append((len(batch), len(ok), len(new), len(cand) - len(new)))
    if seen != sim.seen:
        raise RuntimeError("refsim per-round accounting does not reproduce its seen set")
    return rows, sim.seen


def urls_of(rounds: list[dict]) -> int:
    return sum(r["dequeued"] + r["new_urls"] + r["dup_urls"] for r in rounds)


def rate(rounds: list[dict]) -> float:
    return urls_of(rounds) / sum(r["wall_s"] for r in rounds)


class Bench:
    """One run: a committed crawl plus the operation tally.  ``attempted``
    counts the bootstrap, each round and the resume; ``failed`` those that
    raised, left no committed manifest, or disagreed with refsim."""

    def __init__(self, spark, inputs, store_dir: str):
        from spider_spark.crawl import Crawler
        from spider_spark.round import CrawlConfig

        self.spark, self.inputs, self.store_dir = spark, inputs, store_dir
        self.cfg = CrawlConfig(n_hosts=inputs.n_hosts, page_space=inputs.page_space)
        self.crawler = Crawler(spark, store_dir, self.cfg)
        self.rounds: list[dict] = []
        self.attempted, self.failed = 0, 0

    def bootstrap(self) -> None:
        from spider_spark.schemas import HOSTS

        self.attempted += 1
        self.crawler.bootstrap(
            self.spark.createDataFrame(self.inputs.seeds, "url string, priority int"),
            self.spark.createDataFrame(self.inputs.hosts, HOSTS),
        )

    def round(self, tracer=None) -> dict | None:
        """Run and record the next round; None if it raised."""
        from spans import instrument

        round_id = len(self.rounds) + 1
        self.attempted += 1
        try:
            if tracer is None:
                t = time.perf_counter()
                res = self.crawler.run_rounds(1)
                wall = time.perf_counter() - t
            else:
                with instrument(tracer, self.crawler), tracer.span("crawl") as root:
                    res = self.crawler.run_rounds(1)
                wall = root["dur_s"]
            if len(res) != 1 or res[0].round_id != round_id:
                raise RuntimeError(f"round {round_id}: run_rounds returned {res!r}")
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        r = res[0]
        rec = {
            "round": round_id,
            "traced": tracer is not None,
            "wall_s": wall,
            "dequeued": r.dequeued,
            "fetched_ok": r.fetched_ok,
            "new_urls": r.new_urls,
            "dup_urls": r.dup_urls,
            "ok": self.crawler.store.last_committed_round() == round_id,
        }
        self.rounds.append(rec)
        return rec

    def check(self) -> None:
        """Compare every round and the final seen set with refsim."""
        if not self.rounds:
            return
        want, want_seen = expected_rounds(self.inputs, len(self.rounds))
        for r, w in zip(self.rounds, want + [None] * len(self.rounds)):
            r["refsim"] = w
            if (r["dequeued"], r["fetched_ok"], r["new_urls"], r["dup_urls"]) != w:
                r["ok"] = False
        if self.crawler.seen_urls() != want_seen:
            self.rounds[-1]["ok"] = False
            self.rounds[-1]["seen_set_mismatch"] = True
        self.failed += sum(1 for r in self.rounds if not r["ok"])

    def resume(self, tracer) -> float | None:
        """Time a fresh Crawler's resume() on the store, traced; None if it
        failed."""
        from spans import instrument

        from spider_spark.crawl import Crawler

        self.attempted += 1
        try:
            t = time.perf_counter()
            crawler = Crawler(self.spark, self.store_dir, self.cfg)
            with instrument(tracer, crawler), tracer.span("resume"):
                rid = crawler.resume()
            wall = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if rid != len(self.rounds):
            self.failed += 1
        return wall

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def run_timed(bench: Bench, seconds: float, setup_s: float, detail: dict) -> dict:
    bytes0 = dir_bytes(bench.store_dir)
    t_window = time.perf_counter()
    while len(bench.rounds) < MAX_ROUNDS and (
        len(bench.rounds) < MIN_ROUNDS or time.perf_counter() - t_window < seconds
    ):
        if bench.round() is None:
            break
    store_bytes = dir_bytes(bench.store_dir) - bytes0
    bench.check()
    jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    detail.update(rounds=bench.rounds, store_bytes=store_bytes)

    metrics = {"setup_s": metric(setup_s, "s"), "peak_rss_mb": metric(peak_rss_mb, "MB")}
    if bench.rounds:
        metrics["urls_per_s"] = metric(rate(bench.rounds), "urls/s")
        metrics["round_s_p50"] = metric(
            statistics.median(r["wall_s"] for r in bench.rounds), "s")
        metrics["store_bytes_per_url"] = metric(store_bytes / urls_of(bench.rounds), "B/url")
    return bench.result(metrics)


def run_traced(bench: Bench, detail: dict) -> dict:
    from spans import Tracer

    sc = bench.spark.sparkContext
    store = bench.crawler.store
    tracer = Tracer()
    for mode in TRACE_SCHEDULE:
        if mode == "U":
            if bench.round() is None:
                break
            continue
        live = store.count_rows("frontier", ["pending", "retry"])
        before = {t: dir_bytes(os.path.join(bench.store_dir, t)) for t in TABLES}
        group = f"perfbench-round-{len(bench.rounds) + 1}"
        sc.setJobGroup(group, group)
        try:
            r = bench.round(tracer)
        finally:
            sc.setJobGroup("perfbench-idle", "perfbench-idle")
        if r is None:
            break
        tree = tracer.last_tree()
        r["spans"] = Tracer.self_times(tree)
        r["maybe"] = sum(s.get("maybe", 0) for s in tree)
        r["buckets"] = sum(s.get("n_values", 0) for s in tree
                           if s["name"] == "storage.read_partitions.seen")
        r["live_rows"] = live
        r["bytes"] = {t: dir_bytes(os.path.join(bench.store_dir, t)) - before[t]
                      for t in TABLES}
        r["members"] = {t: members(store, t) for t in TABLES}
        r["manifest_bytes"] = dir_bytes(bench.store_dir, ".json")
        r["jobs"], r["tasks"] = job_counts(sc, group)
    bench.check()
    resume_s = bench.resume(tracer)
    resume_spans = Tracer.self_times(tracer.last_tree()) if resume_s is not None else {}
    detail.update(rounds=bench.rounds, resume_spans=resume_spans)

    traced = [r for r in bench.rounds if r["traced"]]
    plain = [r for r in bench.rounds if not r["traced"] and r["round"] > 1]
    metrics = layer_metrics(traced, resume_spans)
    if resume_s is not None:
        metrics["resume_s"] = metric(resume_s, "s")
    if traced and plain:
        metrics["trace.overhead_frac"] = metric(1.0 - rate(traced) / rate(plain), "ratio")
    return bench.result(metrics)


def members(store, table: str) -> int:
    if not store.exists(table):
        return 0
    return next(h["members"] for h in store.history(table) if h["current"])


def job_counts(sc, group: str) -> tuple[int, int]:
    """Jobs and completed tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else []:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def layer_metrics(traced: list[dict], resume_spans: dict) -> dict:
    """Per-layer metrics, each the mean over the traced rounds."""
    if not traced:
        return {}

    def mean(f) -> float:
        return sum(f(r) for r in traced) / len(traced)

    def cand(r) -> int:
        return r["new_urls"] + r["dup_urls"]

    out = {}
    for span, name in SPAN_METRICS.items():
        out[name] = metric(mean(lambda r: r["spans"].get(span, 0.0)), "s")
    out["round.wall_s"] = metric(mean(lambda r: r["wall_s"]), "s")
    out["trace.self_sum_frac"] = metric(
        mean(lambda r: sum(r["spans"].get(s, 0.0) for s in SPAN_METRICS) / r["wall_s"]),
        "ratio",
    )
    out["fetch.dequeued"] = metric(mean(lambda r: r["dequeued"]), "urls")
    out["fetch.ok_frac"] = metric(mean(lambda r: r["fetched_ok"] / r["dequeued"]), "ratio")
    out["round.candidates"] = metric(mean(cand), "urls")
    out["seen.dup_frac"] = metric(mean(lambda r: r["dup_urls"] / cand(r)), "ratio")
    out["seen.buckets_opened"] = metric(mean(lambda r: r["buckets"]), "count")
    out["filter.maybe_frac"] = metric(mean(lambda r: r["maybe"] / cand(r)), "ratio")
    out["frontier.live_rows"] = metric(mean(lambda r: r["live_rows"]), "rows")
    out["storage.manifest_bytes"] = metric(traced[-1]["manifest_bytes"], "B")
    for t in TABLES:
        out[f"storage.members.{t}"] = metric(traced[-1]["members"][t], "count")
        out[f"storage.bytes.{t}"] = metric(mean(lambda r: r["bytes"][t]), "B")
    out["spark.jobs_per_round"] = metric(mean(lambda r: r["jobs"]), "count")
    out["spark.tasks_per_round"] = metric(mean(lambda r: r["tasks"]), "count")
    out["filter.rebuild_s"] = metric(resume_spans.get("filter.rebuild", 0.0), "s")
    out["storage.restore_s"] = metric(resume_spans.get("storage.restore", 0.0), "s")
    return out


def run(args, work: str) -> tuple[dict, dict]:
    from inputs import generate

    inputs = generate(args.workload, args.seed)
    detail = {"inputs": inputs.summary()}
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        detail["session_s"] = time.perf_counter() - t0
        bench = Bench(spark, inputs, os.path.join(work, "store"))
        bench.bootstrap()
        setup_s = detail["setup_s"] = time.perf_counter() - t0
        if args.trace:
            return run_traced(bench, detail), detail
        return run_timed(bench, args.seconds, setup_s, detail), detail
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file the run writes stays under ``work``; the engine's python
    # workers import spider_spark from the repo root whatever the cwd
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            import spider_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
