#!/usr/bin/env python3
"""Dedup benchmark: drives the public API on seeded synthetic workloads,
checks every cluster table against an engine-independent oracle, and
prints one JSON result as its last line of stdout.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer metrics of a separate traced run. Workloads, metrics and
the environment pins are described in perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# pinned environment: a 4-core, 15 GiB host; inputs of a few thousand
# docs need far less than get_spark's 16g default heap
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
SETUP_LOADS = 3          # corpus generation + load repeats; median kept
# run_dedup calls timed per run, at least. The first call after the
# warm-up pass is still ~30% slow (JIT); the median of three drops it.
MIN_CALLS = 3

PREFIX = {"pipeline": "rep_map", "signatures": "signatures", "pairs": "pairs",
          "verify": "verify", "substring": "substring", "components": "cc",
          "checkpoints": "ckpt", "incremental": "inc"}


def pin_environment(work: str) -> dict:
    """Set before the JVM starts: heap, scratch dirs inside the checkout
    (not the RAM-backed /dev/shm default), and a PYTHONPATH that lets
    Spark's Python workers import lsh_apg_spark from any cwd."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    old_path = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--driver-java-options '" + " ".join([
                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                # the whole heap is committed up front, so peak RSS does
                # not wander with the collector's heap sizing
                f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch"]) + "'",
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return {**env, "master": f"local[{CORES}]",
            "spark.sql.shuffle.partitions": CORES}


class Engine:
    """The run's SparkSession; close() stops it and waits for the JVM
    and every Python worker it forked to exit."""

    def __init__(self):
        from lsh_apg_spark.session import get_spark
        t = time.monotonic()
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=CORES)
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.start_s = time.monotonic() - t

    def close(self) -> None:
        from pyspark import SparkContext

        from spans import descendants
        tree = descendants(self.jvm_pid)
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if gw.proc is not None:
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
        deadline = time.monotonic() + 20
        while any(os.path.exists(f"/proc/{p}") for p in tree) \
                and time.monotonic() < deadline:
            time.sleep(0.1)


def load(spark, pdf):
    return (spark.createDataFrame(pdf, schema="url string, text string")
            .repartition(CORES).localCheckpoint(eager=True))


def collect_rows(df) -> list[tuple[str, str]]:
    return sorted((r["url"], r["cluster_id"]) for r in df.collect())


class Run:
    """Per-run accounting shared by the workloads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}")


# --------------------------------------------------------------------------
# crawl_full / crawl_minhash
# --------------------------------------------------------------------------

def dedup_job(spark, pages, cfg, include_substring):
    """One production call: loaded pages -> counted cluster table."""
    from lsh_apg_spark.pipeline import run_dedup
    t = time.monotonic()
    res = run_dedup(spark, pages, cfg, include_substring=include_substring)
    res.clusters.count()
    wall = time.monotonic() - t
    return wall, collect_rows(res.clusters)


def crawl(engine: Engine, args, run: Run, work: str,
          include_substring: bool) -> tuple[dict, dict]:
    from lsh_apg_spark.config import DedupConfig

    from corpus import crawl_corpus
    from oracle import cached_pairs, score
    from spans import RssSampler, cpu_jiffies, steal_pct

    spark, cfg = engine.spark, DedupConfig()
    loads = []
    for _ in range(SETUP_LOADS):
        t = time.monotonic()
        corpus = crawl_corpus(args.seed)
        pages = load(spark, corpus.pages)
        loads.append(time.monotonic() - t)
    texts = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    urls = set(texts)
    pairs = cached_pairs(os.path.join(os.path.dirname(work), "oracle"),
                         f"crawl-{args.seed}-{len(urls)}", texts,
                         corpus.groups, cfg, include_substring)

    t = time.monotonic()
    _, rows = dedup_job(spark, pages, cfg, include_substring)
    warm_s = time.monotonic() - t
    if not score(rows, urls, pairs).ok:
        raise RuntimeError("warm-up pass failed the oracle check")
    setup = {"session_s": engine.start_s, "load_s": statistics.median(loads),
             "warmup_s": warm_s}

    def timed_calls(seconds: float):
        """Closed loop: at least MIN_CALLS calls, then until `seconds`
        have passed. -> (walls, scores, last rows)."""
        walls, scores, rows = [], [], None
        calls, t0 = 0, time.monotonic()
        while calls < MIN_CALLS or time.monotonic() - t0 < seconds:
            calls += 1
            run.attempted += 1
            try:
                wall, rows = dedup_job(spark, pages, cfg, include_substring)
            except Exception:
                traceback.print_exc()
                run.check(False, f"job {run.attempted} raised")
                continue
            s = score(rows, urls, pairs)
            run.check(s.ok, f"job {run.attempted} oracle check {s}")
            walls.append(wall)
            scores.append(s)
        if not walls:
            raise RuntimeError("every timed job failed")
        return walls, scores, rows

    if args.trace:
        return setup, crawl_traced(engine, run, timed_calls, pages, cfg, urls,
                                   pairs, include_substring)

    sampler = RssSampler(engine.jvm_pid).start()
    jiffies = cpu_jiffies()
    walls, scores, _ = timed_calls(args.seconds)
    peak = sampler.stop()
    p50 = statistics.median(walls)
    return setup, {
        "docs_per_s": len(urls) / p50,
        "batch_p50_s": p50,
        "peak_rss_mb": peak,
        "dup_recall": min(s.dup_recall for s in scores),
        "true_singleton_rate": 1.0 - max(s.false_merge_rate for s in scores),
        "steal_pct": steal_pct(jiffies),
        "walls": walls,
    }


def crawl_traced(engine: Engine, run: Run, timed_calls, pages, cfg, urls,
                 pairs, include_substring: bool) -> dict:
    from oracle import score
    from spans import Tracer, cpu_jiffies, steal_pct
    from traced import traced_dedup

    jiffies = cpu_jiffies()
    walls_u, _, rows_u = timed_calls(0.0)
    wall_u = statistics.median(walls_u)

    run.attempted += 1
    tracer = Tracer(engine.sc)
    t = time.monotonic()
    clusters = traced_dedup(tracer, pages, cfg, include_substring)
    wall_t = time.monotonic() - t
    rows_t = collect_rows(clusters)
    run.check(score(rows_t, urls, pairs).ok, "traced composition oracle check")
    run.check(rows_t == rows_u, "traced cluster table == run_dedup's")
    return layer_metrics(tracer, engine.sc, tracer.rows(), wall_t, wall_u,
                         steal_pct(jiffies))


# --------------------------------------------------------------------------
# incremental_ingest
# --------------------------------------------------------------------------

def ingest(spark, store, cfg, batch, metrics=None, span=None):
    """One micro-batch: handed to dedup_increment -> durable cluster
    table. -> (wall, new docs, rows)."""
    from lsh_apg_spark.streaming.incremental import dedup_increment
    before = store.lineage("docs")["rows"] if store.exists("docs") else 0
    t = time.monotonic()
    with span or nullcontext():
        out = dedup_increment(spark, batch, store, cfg, metrics=metrics)
    wall = time.monotonic() - t
    return wall, store.lineage("docs")["rows"] - before, collect_rows(out)


def restore(snapshot: str, state: str) -> None:
    shutil.rmtree(state, ignore_errors=True)
    shutil.copytree(snapshot, state)


def incremental_ingest(engine: Engine, args, run: Run,
                       work: str) -> tuple[dict, dict]:
    from lsh_apg_spark.config import DedupConfig
    from lsh_apg_spark.sources.checkpoints import CheckpointStore

    from corpus import incremental_split
    from oracle import cached_pairs, score
    from spans import RssSampler, cpu_jiffies, steal_pct

    spark, cfg = engine.spark, DedupConfig()
    loads = []
    for _ in range(SETUP_LOADS):
        t = time.monotonic()
        corpus, base_pd, batches_pd = incremental_split(args.seed)
        base = load(spark, base_pd)
        batches = [load(spark, b) for b in batches_pd]
        loads.append(time.monotonic() - t)
    texts = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    base_urls = set(base_pd["url"])
    pairs = cached_pairs(os.path.join(os.path.dirname(work), "oracle"),
                         f"inc-{args.seed}-{len(texts)}", texts,
                         corpus.groups, cfg, False)

    state, snapshot = os.path.join(work, "state"), os.path.join(work, "base")
    store = CheckpointStore(spark, state, cfg)
    base_s, _, rows = ingest(spark, store, cfg, base)
    if not score(rows, base_urls, pairs).ok:
        raise RuntimeError("base build failed the oracle check")
    shutil.copytree(state, snapshot)
    setup = {"session_s": engine.start_s, "load_s": statistics.median(loads),
             "base_build_s": base_s}

    inc_counts: dict = {}
    # the timed sequence: every batch in turn, then the last one
    # re-delivered (at-least-once delivery)
    plan = [(f"fresh-{i}", b, n)
            for i, (b, n) in enumerate(zip(batches, batches_pd))]
    plan.append(("redelivered", batches[-1], batches_pd[-1]))

    def sequence(span_for=None) -> list[tuple[str, float, int, object]]:
        """Runs the plan over the base state -> [(label, wall, new docs,
        score)]. `span_for` (traced run) wraps each batch in a span and
        collects the re-clustered subgraph sizes into inc_counts."""
        out, urls, last_rows = [], set(base_urls), None
        for label, batch, batch_pd in plan:
            run.attempted += 1
            fresh = label != "redelivered"
            m = {} if span_for is not None else None
            try:
                wall, new, rows = ingest(spark, store, cfg, batch, m,
                                         span_for and span_for(label))
            except Exception:
                traceback.print_exc()
                run.check(False, f"{label} batch raised")
                return out
            urls |= set(batch_pd["url"])
            s = score(rows, urls, pairs)
            run.check(s.ok and new == (len(batch_pd) if fresh else 0)
                      and (fresh or rows == last_rows),
                      f"{label} batch: {s}, new docs {new}")
            last_rows = rows
            out.append((label, wall, new, s))
            if m is not None:
                for k, v in m.items():
                    inc_counts[k] = inc_counts.get(k, 0) + v
        return out

    if args.trace:
        return setup, incremental_traced(engine, sequence, inc_counts,
                                         state, snapshot)

    done = []
    sampler = RssSampler(engine.jvm_pid).start()
    jiffies, t0 = cpu_jiffies(), time.monotonic()
    while not done or time.monotonic() - t0 < args.seconds:
        if done:
            restore(snapshot, state)
        got = sequence()
        done += got
        if len(got) < len(plan):
            break
    peak = sampler.stop()
    fresh = [wall for label, wall, _, _ in done if label != "redelivered"]
    if not fresh:
        raise RuntimeError("every timed batch failed")
    redelivered = [wall for label, wall, _, _ in done if label == "redelivered"]
    return setup, {
        "docs_per_s": (sum(new for _, _, new, _ in done)
                       / sum(wall for _, wall, _, _ in done)),
        "batch_p50_s": statistics.median(fresh),
        "peak_rss_mb": peak,
        "dup_recall": min(s.dup_recall for *_, s in done),
        "true_singleton_rate": 1.0 - max(s.false_merge_rate for *_, s in done),
        "steal_pct": steal_pct(jiffies),
        "walls": [wall for _, wall, _, _ in done],
        "redelivered_p50_s": (statistics.median(redelivered)
                              if redelivered else float("nan")),
    }


def incremental_traced(engine: Engine, sequence, inc_counts: dict,
                       state: str, snapshot: str) -> dict:
    from corpus import INC_BATCH_DOCS
    from spans import Tracer, cpu_jiffies, steal_pct
    from traced import traced_increment_layers

    jiffies = cpu_jiffies()
    untraced = sequence()
    restore(snapshot, state)
    tracer = Tracer(engine.sc)
    with traced_increment_layers(tracer):
        traced = sequence(
            lambda label: tracer.span("incremental", f"dedup_increment:{label}"))
    state_mb = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(state) for f in fs) / (1 << 20)
    counts = {
        "ckpt.state_mb": state_mb,
        "inc.new_docs": sum(new for label, _, new, _ in traced
                            if label != "redelivered"),
        "inc.redelivered_dropped": sum(
            INC_BATCH_DOCS - new for label, _, new, _ in traced
            if label == "redelivered"),
        "inc.cc_nodes": inc_counts.get("cc_nodes", 0),
        "inc.cc_edges": inc_counts.get("cc_edges", 0),
        "cc.nodes": inc_counts.get("cc_nodes", 0),
        "cc.edges_in": inc_counts.get("cc_edges", 0),
    }
    return layer_metrics(tracer, engine.sc, counts,
                         sum(wall for _, wall, _, _ in traced),
                         sum(wall for _, wall, _, _ in untraced),
                         steal_pct(jiffies))


# --------------------------------------------------------------------------
# per-layer metrics of a traced run
# --------------------------------------------------------------------------

def layer_metrics(tracer, sc, counts: dict, wall_t: float, wall_u: float,
                  steal: float) -> dict:
    from spans import COUNTERS
    selfs = tracer.layer_self_times()
    engine = tracer.layer_counters(sc)

    def named(name: str) -> float:
        return float(sum(tracer.self_time(s) for s in tracer.spans
                         if s.name == name))

    m = {f"{p}.{k}": engine.get(layer, {}).get(k, 0.0)
         for layer, p in PREFIX.items() for k in COUNTERS}
    m.update({f"{p}.wall_s": selfs.get(layer, 0.0)
              for layer, p in PREFIX.items()
              if layer not in ("checkpoints", "incremental")})
    m.update({
        "pairs.bucket_groups_s": named("bucket_groups"),
        "ckpt.write_s": named("write_many"),
        "ckpt.read_s": named("read"),
        "inc.batch_s": selfs.get("incremental", 0.0),
    })
    keys = ("rep_map.docs_out", "signatures.docs", "pairs.rows",
            "pairs.max_bucket", "pairs.salted_rows", "verify.pairs_in",
            "verify.edges_out", "substring.candidates", "substring.edges",
            "cc.edges_in", "cc.nodes", "ckpt.state_mb", "inc.new_docs",
            "inc.redelivered_dropped", "inc.cc_nodes", "inc.cc_edges")
    m.update({k: float(counts.get(k, 0)) for k in keys})
    m["verify.yield"] = (m["verify.edges_out"] / m["verify.pairs_in"]
                         if m["verify.pairs_in"] else 0.0)
    m["substring.yield"] = (m["substring.edges"] / m["substring.candidates"]
                            if m["substring.candidates"] else 0.0)
    m.update({
        "unattributed_s": wall_t - tracer.top_level_wall(),
        "trace.wall_s": wall_t,
        "trace.overhead_s": wall_t - wall_u,
        "host.steal_pct": steal,
    })
    return m


# --------------------------------------------------------------------------

WORKLOADS = {
    "crawl_full": lambda e, a, r, w: crawl(e, a, r, w, include_substring=True),
    "crawl_minhash": lambda e, a, r, w: crawl(e, a, r, w,
                                              include_substring=False),
    "incremental_ingest": incremental_ingest,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lsh_apg_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"run-{os.getpid()}")
    env = pin_environment(work)
    run = Run()
    try:
        engine = Engine()
        try:
            setup, got = WORKLOADS[args.workload](engine, args, run, work)
        finally:
            engine.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = sum(setup.values())
    if not args.trace:
        got["setup_s"] = setup_s
    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(f"# setup {json.dumps({k: round(v, 3) for k, v in setup.items()})}")
    if not args.trace:
        fmr = 1.0 - got["true_singleton_rate"]
        print(f"# {args.workload}: {len(got['walls'])} timed calls, walls "
              + " ".join(f"{w:.3f}" for w in got["walls"]) + " s")
        if "redelivered_p50_s" in got:
            print(f"# redelivered batch p50 = "
                  f"{got['redelivered_p50_s']:.6g} s")
        print(f"# false_merge_rate = {fmr:.6g} ratio")
    print(f"# failed_frac = {run.failed / run.attempted:.6g} ratio "
          f"({run.failed}/{run.attempted})")
    for note in run.notes:
        print(f"# {note}")
    steal = got["host.steal_pct" if args.trace else "steal_pct"]
    metrics = {}
    for d in declared:
        metrics[d["name"]] = {"value": got[d["name"]], "unit": d["unit"]}
        print(f"{d['name']} = {got[d['name']]:.6g} {d['unit']}"
              f"  (host steal {steal:.2f}%)")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
