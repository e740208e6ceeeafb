from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from board_game_scraper_spark.session import get_spark  # noqa: E402

# The benchmark's in-repo copy of the sf0.01 oracle tables (500 documents,
# 500 embeddings; one row group per file).  Tests only read it.
SF_DIR = str(Path(__file__).resolve().parent.parent
             / "perfbench" / "data" / "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def corpus_small():
    from board_game_scraper_spark import synth

    return synth.corpus(n_browse=5, n_users=10, n_other=5)


def record_schedule(eng) -> dict[int, dict[str, list[str]]]:
    """Per-round schedule of ``eng`` for order-equality checks against
    the simulator: round -> {host: [url_canon in sched_rank order]}.

    Wraps the engine's ``_fused_stage`` and reads the cached
    ``scheduled`` frame it returns; rounds that schedule nothing are
    left out."""
    log: dict[int, dict[str, list[str]]] = {}
    fused_stage = eng._fused_stage

    def recording(round_no, frontier, hint):
        out = fused_stage(round_no, frontier, hint)
        hosts: dict[str, list[str]] = {}
        for row in out["scheduled"].select(
            "host", "sched_rank", "url_canon"
        ).orderBy("host", "sched_rank").collect():
            hosts.setdefault(row["host"], []).append(row["url_canon"])
        if hosts:
            log[round_no] = hosts
        return out

    eng._fused_stage = recording
    return log
