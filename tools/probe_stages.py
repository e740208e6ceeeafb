"""Per-stage scaling probe: one instrumented replay round at local[N],
printing STAGE lines (SPARK_GRAFT_STAGE_TIMING) so the anti-scaling
stage can be identified instead of guessed.

Usage: python tools/probe_stages.py <cpus> [scale]
"""

import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

os.environ["SPARK_GRAFT_STAGE_TIMING"] = "1"

import pandas as pd  # noqa: E402

from board_game_scraper_spark import schemas, synth  # noqa: E402
from board_game_scraper_spark.plans.crawl import CrawlEngine  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1])
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    data = sys.argv[3] if len(sys.argv) > 3 else None
    if data is None:
        data = tempfile.mkdtemp(prefix="probe_corpus_")
        _, pages_pd = synth.corpus(
            n_browse=int(3000 * scale), n_users=int(1500 * scale),
            n_other=int(150 * scale), comments_per_game=100)
        seeds_pd = pd.DataFrame(
            {"url": pages_pd.url_canon, "source": "replay", "priority": 0})
        synth.write_corpus_parquet(pages_pd, seeds_pd, data, n_files=64)
        print(f"CORPUS {data} pages={len(pages_pd)}", flush=True)

    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = get_spark(
        "probe", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": "48g",
                    "spark.local.dir": "/dev/shm/spark-local"})
    pages = spark.read.schema(schemas.PAGES).parquet(data + "/pages").cache()
    pages.count()
    seeds = spark.read.schema(schemas.SEEDS).parquet(data + "/seeds")
    root = tempfile.mkdtemp(prefix="probe_", dir="/dev/shm")
    eng = CrawlEngine(spark, root, pages, window_sec=100000.0)
    t0 = time.perf_counter()
    eng.seed(seeds)
    print(f"SEED {time.perf_counter()-t0:.1f}s", flush=True)
    t1 = time.perf_counter()
    m = eng.run_round(1)
    print(f"ROUND1 {time.perf_counter()-t1:.1f}s {m}", flush=True)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    print(f"DATA {data}")


if __name__ == "__main__":
    main()
