"""The crawl workloads: seeded inputs, one operation (a whole crawl from
an empty root), its correctness check, and the isolated per-layer calls
on a snapshot of a representative round."""

from __future__ import annotations

import random
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from board_game_scraper_spark import schemas, synth
from board_game_scraper_spark.functions.canon import canonicalize_one
from board_game_scraper_spark.plans.crawl import CrawlEngine
from board_game_scraper_spark.plans.frontier import RETRYABLE, schedule
from board_game_scraper_spark.plans.parse import parse_page, run_parse_flat
from board_game_scraper_spark.plans.seen import filter_unseen
from board_game_scraper_spark.plans.simulator import simulate
from board_game_scraper_spark.sources.fetch import fetch_from_table

MAX_ATTEMPTS = 3  # CrawlEngine default, used for the replay ground truth


@dataclass(frozen=True)
class Shape:
    """One crawl workload.  ``resume_after``: rounds the first engine
    runs before a fresh engine resumes the same root (None: one engine).
    ``iso_after``: rounds committed before the snapshot the isolated
    layer calls run on (they then run round ``iso_after + 1``)."""
    n_browse: int
    n_users: int
    n_other: int
    comments: int
    rounds: int
    window_sec: float
    compact_every: int
    replay: bool
    resume_after: int | None
    iso_after: int


SHAPES = {
    # bench.py's discovery corpus at scale 0.05: browse-page and user
    # seeds, 2 comments per game.  Both rounds discover fresh URLs; a
    # fresh engine resumes the root after round 1, and the frontier
    # compaction (compact_every=2) lands in round 2.
    "crawl_discover": Shape(n_browse=60, n_users=125, n_other=20,
                            comments=2, rounds=2, window_sec=3600.0,
                            compact_every=2, replay=False,
                            resume_after=1, iso_after=1),
    # tools/bench_scaling.py's full-frontier replay at scale 0.01: every
    # URL seeded, 100 rating comments per game, one politeness window;
    # round 1 carries the corpus, rounds 3 and 7 retry.
    "crawl_replay": Shape(n_browse=30, n_users=15, n_other=1,
                          comments=100, rounds=8, window_sec=100000.0,
                          compact_every=8, replay=True,
                          resume_after=None, iso_after=0),
}


# ------------------------------------------------------------- inputs

def make_inputs(shape: Shape, seed: int):
    """(seed list, pages frame, seeds frame) for one seed.  The corpus
    itself is the generator's fixed universe; the seed draws the user
    seeds (discover) or the seed priorities (replay) and the seed order."""
    seeds_pd, pages_pd = synth.corpus(
        n_browse=shape.n_browse, n_users=shape.n_users,
        n_other=shape.n_other, comments_per_game=shape.comments)
    rng = random.Random(seed)
    if shape.replay:
        seed_list = [(u, rng.randint(0, 3)) for u in pages_pd.url_canon]
    else:
        seed_list = [(r.url, int(r.priority)) for r in seeds_pd.itertuples()
                     if "/xmlapi2/user" not in r.url]
        users = rng.sample(range(1, shape.n_users + 1), 10)
        seed_list += [(synth.user_url(f"user{u}"), 3) for u in users]
    rng.shuffle(seed_list)
    seeds = pd.DataFrame({"url": [u for u, _ in seed_list],
                          "source": "bench",
                          "priority": [p for _, p in seed_list]})
    return seed_list, pages_pd, seeds


def load_inputs(spark, pages_pd, seeds_pd, data_dir: Path):
    synth.write_corpus_parquet(pages_pd, seeds_pd, str(data_dir))
    pages = spark.read.schema(schemas.PAGES).parquet(
        str(data_dir / "pages")).cache()
    pages.count()
    seeds = spark.read.schema(schemas.SEEDS).parquet(str(data_dir / "seeds"))
    return pages, seeds


# ------------------------------------------------------------- oracle

def expected(shape: Shape, seed_list, pages_pd) -> dict:
    """What a correct crawl leaves behind, computed without the engine.

    discover: the pure-Python simulator's seen set and fetched-ok pages
    (the order-equality gate of tests/test_crawl.py).  replay: per-kind
    item counts counted off the generated bodies and statuses."""
    if not shape.replay:
        sim = simulate(seed_list, shape.rounds, shape.n_browse,
                       shape.n_users, window_sec=shape.window_sec,
                       comments_per_game=shape.comments)
        return {"seen": sim.seen, "documents": set(sim.fetched_ok)}
    # retryable URLs are fetched once per attempt the window allows
    attempts, rnd, a = 0, 1, 0
    while rnd <= shape.rounds:
        attempts += 1
        if a + 1 >= MAX_ATTEMPTS:
            break
        rnd, a = rnd + min(2 ** (a + 1), 4), a + 1
    seeded = {canonicalize_one(u) for u, _ in seed_list}
    counts = dict.fromkeys(("fetch", "page", "game", "user", "rating"), 0)
    for r in pages_pd.itertuples():
        if r.url_canon not in seeded:
            continue
        counts["fetch"] += attempts if r.status in RETRYABLE else 1
        if r.status != 200:
            continue
        counts["page"] += 1
        kind = synth.callback_kind_for(r.url_canon)
        if kind == "bgg_thing":
            counts["game"] += r.body.count('<item type="boardgame"')
            counts["rating"] += r.body.count("<comment ")
        elif kind == "bgg_collection":
            counts["rating"] += r.body.count('<item objecttype="thing"')
        elif kind == "bgg_user":
            counts["user"] += 1
        elif kind in ("luding_game", "spielen_game"):
            counts["game"] += 1
    return {"counts": counts}


def check(shape: Shape, eng: CrawlEngine, want: dict) -> list[str]:
    """Mismatches between the crawl root and ``want`` (empty: correct)."""
    bad = []
    if shape.replay:
        got = {r["item_kind"]: r["count"]
               for r in eng.items.read().groupBy("item_kind").count()
               .collect()}
        for kind, n in want["counts"].items():
            if got.get(kind, 0) != n:
                bad.append(f"{kind} items {got.get(kind, 0)} != {n}")
        return bad
    seen = {r["url_canon"] for r in eng.seen.read().select("url_canon")
            .collect()}
    docs = {r["doc_id"] for r in eng.documents.read().select("doc_id")
            .collect()}
    if seen != want["seen"]:
        bad.append(f"url_seen differs from the simulator in "
                   f"{len(seen ^ want['seen'])} urls")
    if docs != want["documents"]:
        bad.append(f"documents differ from the simulator's fetched-ok "
                   f"pages in {len(docs ^ want['documents'])} urls")
    return bad


# ---------------------------------------------------------- operation

def engine(spark, shape: Shape, root: Path, pages) -> CrawlEngine:
    return CrawlEngine(spark, root, pages, window_sec=shape.window_sec,
                       compact_every=shape.compact_every)


def crawl_op(spark, shape: Shape, root: Path, pages, seeds, tracer,
             snapshot: Path | None = None) -> dict:
    """Seed + crawl from an empty root; on discover a fresh engine
    resumes the root halfway.  With ``snapshot`` the root is copied once
    ``shape.iso_after`` rounds are committed (untimed callers only)."""
    t0 = time.perf_counter()
    eng = engine(spark, shape, root, pages)
    eng.seed(seeds)
    first = shape.resume_after or shape.rounds
    metrics, spec_hits, done = [], 0, 0
    if snapshot is not None:
        if shape.iso_after:
            metrics += eng.crawl(shape.iso_after)
        shutil.copytree(root, snapshot)
        done = shape.iso_after
    if first > done:
        metrics += eng.crawl(first - done)
    spec_hits += eng._spec_hits
    if shape.resume_after:
        with tracer.span("crawl.resume"):
            eng = engine(spark, shape, root, pages)
            eng.last_round()
            eng.frontier_rows()
        metrics += eng.crawl(shape.rounds - shape.resume_after)
        spec_hits += eng._spec_hits
    return {"op": tracer.op, "seconds": time.perf_counter() - t0,
            "rounds": metrics, "spec_hits": spec_hits, "engine": eng}


def store_bytes(root: Path) -> tuple[int, int, int, int]:
    """(all bytes, parquet bytes, parquet files, snapshot manifests)."""
    total = data = files = manifests = 0
    for p in root.rglob("*"):
        if not p.is_file():
            continue
        size = p.stat().st_size
        total += size
        if p.suffix == ".parquet":
            data, files = data + size, files + 1
        elif p.parent.name == "snapshots" and p.name not in (
                "CURRENT", ".commit.lock"):
            manifests += 1
    return total, data, files, manifests


def heavy(m: dict) -> bool:
    return m["round"] == 1 or (m.get("fresh") or 0) > 0


# ------------------------------------------------- isolated layer calls

def isolated(spark, shape: Shape, snapshot: Path, pages, noop,
             n_cpus: int) -> dict:
    """Time each lazy layer function once on the snapshot's next round,
    forced with the noop sink; its input is cached first, so each
    timing covers that layer alone."""
    out = {}
    eng = engine(spark, shape, snapshot, pages)
    rnd = eng.last_round() + 1
    out["tables.delete_files"] = eng.frontier.pending_delete_files()
    out["tables.frontier_read_s"] = noop(eng.frontier.read())
    cached = []

    def keep(df):
        df = df.cache()
        cached.append(df)
        return df, df.count()

    front, n_front = keep(eng.frontier.read())
    # the plan the engine runs on this round: a resumed engine knows no
    # pending count and takes the skew-safe plan; otherwise the pending
    # count (the frontier's rows) picks the lean plan below 100k rows
    hint = None if shape.resume_after == shape.iso_after else n_front
    sched_df = schedule(front, rnd, shape.window_sec, eng._current_budgets(),
                        eng.salt_buckets,
                        lean=(hint is not None and hint < 100_000))
    out["frontier.schedule_s"] = noop(sched_df)
    sched, out["frontier.scheduled_rows"] = keep(sched_df)
    fetched_df = fetch_from_table(sched, pages)
    out["fetch.join_s"] = noop(fetched_df)
    fetched, _ = keep(fetched_df)
    out["fetch.body_mb"] = (fetched.select(F.sum(F.length("body")))
                            .first()[0] or 0) / 1e6
    out["parse.kernel_s"] = noop(run_parse_flat(fetched))
    parsed, out["parse.rows_out"] = keep(run_parse_flat(fetched))

    bodies = (fetched.where(F.col("status") == 200)
              .select("url_canon", "callback_kind", "body").collect())
    cpu0 = time.process_time()
    for r in bodies:
        parse_page(r["url_canon"], r["callback_kind"], r["body"])
    out["parse.python_cpu_s"] = time.process_time() - cpu0
    out["parse.boundary_ratio"] = (
        out["parse.kernel_s"] * n_cpus / out["parse.python_cpu_s"])

    # the round's discoveries, one row per URL as in run_round
    cands, n_disc = keep(
        parsed.where(F.col("item_kind") == "page")
        .select(F.explode("discovered").alias("d"))
        .groupBy(F.col("d.url").alias("url_canon"))
        .agg(F.max("d.priority").alias("priority"),
             F.first("d.callback_kind").alias("callback_kind"))
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .withColumn("host", F.parse_url(F.col("url_canon"), F.lit("HOST"))))
    fresh_df = filter_unseen(cands, eng.seen.read(), eng.bloom)
    out["seen.filter_unseen_s"] = noop(fresh_df)
    n_fresh = fresh_df.count()
    n_maybe = (eng.bloom.prefilter(cands).where(F.col("maybe_seen"))
               .count())
    out["seen.fresh_ratio"] = n_fresh / n_disc if n_disc else 0.0
    out["seen.bloom_maybe_ratio"] = n_maybe / n_disc if n_disc else 0.0
    for df in cached:
        df.unpersist()
    return out


def layer_metrics(tracer, op: str, result: dict) -> dict:
    """Per-layer numbers of the traced operation, from its spans."""
    rounds = tracer.of("crawl.round", op)
    heavy_s = [s["end"] - s["start"] for s in rounds if heavy(s["metrics"])]
    tail_s = [s["end"] - s["start"] for s in rounds
              if not heavy(s["metrics"])]
    nums = [m["round"] for m in result["rounds"]]
    out = {
        "crawl.seed_s": tracer.total("crawl.seed", op),
        "crawl.round_p50_s": statistics.median(
            s["end"] - s["start"] for s in rounds),
        "crawl.round_heavy_s": statistics.median(heavy_s) if heavy_s else 0.0,
        "crawl.round_tail_s": statistics.median(tail_s) if tail_s else 0.0,
        "crawl.resume_s": tracer.total("crawl.resume", op),
        "crawl.rounds": len(nums),
        "crawl.rounds_skipped": max(nums) - min(nums) + 1 - len(nums),
        "crawl.spec_hits": result["spec_hits"],
        "seen.bloom_add_s": tracer.total("seen.bloom_add", op),
        "seen.bloom_compact_s": tracer.total("seen.bloom_compact", op),
    }
    for m in TABLE_METHODS.values():
        spans = tracer.of(f"tables.{m}", op)
        out[f"tables.{m}_s"] = sum(s["end"] - s["start"] for s in spans)
        out[f"tables.{m}_calls"] = len(spans)
    return out


# SnapshotTable method -> metric stem
TABLE_METHODS = {
    "add_files": "add_files", "append": "append", "overwrite": "overwrite",
    "prepare_delta": "prepare_delta", "commit_prepared_delta": "commit",
    "compact": "compact", "compact_minor": "compact_minor",
}


def wrap_layers(tracer) -> None:
    """Spans around the crawl layers' public entry points."""
    from board_game_scraper_spark.plans.seen import SnapshotBloom
    from board_game_scraper_spark.tables import SnapshotTable

    tracer.wrap(CrawlEngine, "seed", "crawl.seed")
    tracer.wrap(SnapshotBloom, "add", "seen.bloom_add")
    tracer.wrap(SnapshotBloom, "compact", "seen.bloom_compact")
    for method, stem in TABLE_METHODS.items():
        tracer.wrap(SnapshotTable, method, f"tables.{stem}")
