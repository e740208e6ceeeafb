"""Benchmark of the crawl engine, one workload per invocation.

    python3 perfbench/run.py --workload crawl_discover --seed 1 \
        --seconds 10 --trace 0

Runs from the repository root.  One driver process, ``local[nproc]``,
one client in a closed loop: each crawl starts when the previous one
returned and was checked.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` adds a traced crawl, isolated calls into each layer, the
batch-query layer and the Spark event log, and prints the per-layer
metrics.  The last stdout line is the result object; the line before it
holds the run's context (session conf, host, per-op samples).  See
perfbench/README.md for what each metric means and should move.
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
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
START = time.perf_counter()
WORKLOADS = ("crawl_discover", "crawl_replay")
SETUP_REPS = 3


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def sandbox(work: Path) -> dict:
    """Keep every temp file of Python, the JVM and Spark under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.local.dir": str(tmp),
        # the package's own GC choice for local mode, plus a JVM temp dir
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def session_conf(n_cpus: int, ram_gb: float) -> dict:
    # a quarter of RAM for the one JVM that runs driver and tasks: the
    # package default (24g) is sized for a 128 GiB host
    return {"spark.driver.memory": f"{max(1, int(ram_gb // 4))}g"}


def fail(spark, failures: list[str]) -> int:
    """No operation completed: report on stderr, print no result."""
    stop_spark(spark)
    print(f"perfbench: no crawl completed: {failures}", file=sys.stderr)
    return 1


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    import observe

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = observe.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def main() -> int:
    args = parse_args()
    sys.path.insert(0, str(REPO))
    try:
        import board_game_scraper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    work_root = REPO / ".bench_work"
    work = work_root / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    extra = sandbox(work)
    try:
        return run(args, work, extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, extra: dict) -> int:
    import crawlwork
    import observe
    from board_game_scraper_spark import session
    from board_game_scraper_spark.plans.crawl import CrawlEngine

    shape = crawlwork.SHAPES[args.workload]
    trace = bool(args.trace)
    n_cpus, ram_gb = observe.cpus(), observe.mem_gb()
    conf = {**session_conf(n_cpus, ram_gb), **extra}
    if trace:
        conf.update(observe.eventlog_conf(work / "eventlog"))
    tracer = observe.Tracer()
    # round wall times come from this wrapper in every run
    tracer.wrap(CrawlEngine, "run_round", "crawl.round",
                on_result=lambda rec, m: rec.update(metrics=m))
    if trace:
        from board_game_scraper_spark import synth

        tracer.wrap(session, "get_spark", "session.get_spark")
        tracer.wrap(synth, "corpus", "corpus.gen")

    # ``failed`` counts operations; ``failures`` keeps every message
    attempted, failed, failures = 0, 0, []
    cpu0 = observe.cpu_times()
    tracer.op = "setup"
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}",
                              master=f"local[{n_cpus}]",
                              shuffle_partitions=n_cpus, extra_conf=conf)
    session_s = time.perf_counter() - t0

    # inputs: built and loaded SETUP_REPS times (the median counts)
    corpus_s, pages = [], None
    for rep in range(1 if trace else SETUP_REPS):
        t0 = time.perf_counter()
        seed_list, pages_pd, seeds_pd = crawlwork.make_inputs(shape, args.seed)
        if pages is not None:
            pages.unpersist()
        with tracer.span("corpus.load"):
            pages, seeds = crawlwork.load_inputs(
                spark, pages_pd, seeds_pd, work / f"corpus{rep}")
        corpus_s.append(time.perf_counter() - t0)
    want = crawlwork.expected(shape, seed_list, pages_pd)

    def op(name: str, snapshot: Path | None = None) -> dict | None:
        """One checked crawl; None when it raised (counted as failed)."""
        nonlocal attempted, failed
        attempted += 1
        tracer.op = name
        root = work / "roots" / name
        before = observe.cpu_times()
        try:
            with observe.MemSampler() as mem:
                res = crawlwork.crawl_op(spark, shape, root, pages, seeds,
                                         tracer, snapshot)
            res["steal_share"] = observe.steal_share(before,
                                                     observe.cpu_times())
            res["peak_rss_mb"] = mem.peak_mb
            res["store"] = crawlwork.store_bytes(root)
            bad = crawlwork.check(shape, res.pop("engine"), want)
        except Exception as exc:  # noqa: BLE001 - a failed op, not a crash
            traceback.print_exc()
            failed += 1
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        failed += bool(bad)
        failures.extend(f"{name}: {b}" for b in bad)
        return res

    snapshot = work / "snapshot" if trace else None
    warm = op("warmup", snapshot)
    if warm is None:
        return fail(spark, failures)
    setup_s = session_s + statistics.median(corpus_s) + warm["seconds"]

    # closed loop, one client: untimed checks between operations; a
    # traced run makes one untraced operation here and one after the
    # traced one, to set against it
    ops, measured, tries = [], 0.0, 0
    while not tries or (measured < args.seconds and not trace):
        tries += 1
        t0 = time.perf_counter()
        res = op(f"op{tries}")
        measured += time.perf_counter() - t0
        if res is not None:
            ops.append(res)
    if not ops:
        return fail(spark, failures)

    measured_ops = {o["op"] for o in ops}
    rounds = [s for s in tracer.of("crawl.round") if s["op"] in measured_ops]
    round_s = [s["end"] - s["start"] for s in rounds]
    urls = sum(s["metrics"]["scheduled"] + s["metrics"]["fetched"]
               for s in rounds)
    e2e = {
        "setup_s": (setup_s, "s"),
        "crawl_s": (statistics.median(o["seconds"] for o in ops), "s"),
        "urls_per_s": (urls / sum(round_s), "URL/s"),
        "peak_rss_mb": (statistics.median(o["peak_rss_mb"] for o in ops), "MB"),
        "store_mb": (statistics.median(o["store"][0] for o in ops) / 1e6, "MB"),
    }
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n_cpus, "mem_gb": round(ram_gb, 2),
        "conf": {k: v for k, v in spark.sparkContext.getConf().getAll()
                 if k in ("spark.master", "spark.sql.shuffle.partitions",
                          "spark.driver.memory",
                          "spark.driver.extraJavaOptions",
                          "spark.local.dir")},
        "setup": {"session_s": session_s, "corpus_s": corpus_s,
                  "warmup_s": warm["seconds"]},
        "round_s": round_s,
        "ops": [{k: o[k] for k in ("seconds", "steal_share", "peak_rss_mb",
                                   "spec_hits")}
                | {"rounds": [m["round"] for m in o["rounds"]]}
                for o in ops],
    }
    metrics = dict(e2e)
    if trace:
        metrics, n_queries, n_bad = traced(args, spark, shape, work, tracer,
                                           snapshot, op, ops[0]["seconds"],
                                           context, failures, n_cpus, pages)
        attempted += n_queries
        failed += n_bad
    else:
        stop_spark(spark)
    steal = observe.steal_share(cpu0, observe.cpu_times())
    context["steal_share"] = steal
    context["wall_s"] = time.perf_counter() - START
    context["error_rate"] = failed / attempted
    context["failures"] = failures
    if trace:
        metrics["host.steal_share"] = (steal, "ratio")
        metrics["host.cpus"] = (n_cpus, "count")
        metrics["host.mem_gb"] = (ram_gb, "GB")
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def traced(args, spark, shape, work, tracer, snapshot, op, first_s,
           context, failures, n_cpus, pages) -> tuple[dict, int, int]:
    """The traced operation between two untraced ones, the isolated
    layer calls and the batch layer; returns the per-layer metrics
    (value, unit) and the numbers of queries attempted and failed."""
    import batchwork
    import crawlwork
    import observe

    crawlwork.wrap_layers(tracer)
    res = op("traced")
    tracer.restore()
    if res is None:
        raise RuntimeError(f"traced crawl failed: {failures[-1]}")
    # the untraced crawls before and after the traced one: their mean
    # cancels the warm-up still in progress between them
    after = op("after")
    if after is None:
        raise RuntimeError(f"untraced crawl failed: {failures[-1]}")
    untraced = (first_s + after["seconds"]) / 2
    layer = crawlwork.layer_metrics(tracer, "traced", res)
    total, data, files, manifests = res["store"]
    layer.update({"tables.commits": manifests, "tables.data_files": files,
                  "tables.bytes_written_mb": data / 1e6})
    context["trace_overhead_s"] = res["seconds"] - untraced
    context["trace_overhead_share"] = context["trace_overhead_s"] / untraced

    tracer.op = "isolated"
    with tracer.span("bench.isolated"):
        layer.update(crawlwork.isolated(spark, shape, snapshot, pages, noop,
                                        n_cpus))

    tracer.op = "batch"
    batch, n_queries, bad = batchwork.run(
        spark, tracer, REPO, batchwork.TABLES, args.seed, noop, work / "tmp")
    layer.update(batch)
    failures.extend(f"batch {b}" for b in bad)

    stop_spark(spark)
    tasks, jobs = observe.read_eventlog(work / "eventlog")
    spark_m = observe.fold(tracer.of("crawl.round", "traced"), tasks, jobs)
    layer.update({f"spark.{k}": v for k, v in spark_m.items()})
    context["spark_queries"] = observe.fold(
        tracer.of("queries.query", "batch"), tasks, jobs)
    out = REPO / ".bench_work" / "trace" / f"{args.workload}-seed{args.seed}.jsonl"
    tracer.write(out)
    context["spans"] = str(out.relative_to(REPO))

    setup = {
        "session.start_s": tracer.total("session.get_spark", "setup"),
        "corpus.gen_s": tracer.total("corpus.gen", "setup"),
        "corpus.load_s": tracer.total("corpus.load", "setup"),
    }
    metrics = {k: (v, UNITS.get(k, _unit(k))) for k, v in
               {**setup, **layer}.items()}
    metrics["trace.overhead_share"] = (context["trace_overhead_share"], "ratio")
    return metrics, n_queries, len(bad)


UNITS = {
    "crawl.rounds": "count", "crawl.rounds_skipped": "count",
    "crawl.spec_hits": "count", "frontier.scheduled_rows": "count",
    "parse.rows_out": "count", "tables.commits": "count",
    "tables.data_files": "count", "tables.delete_files": "count",
    "spark.tasks": "count", "spark.jobs": "count",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_calls"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    raise SystemExit(main())
