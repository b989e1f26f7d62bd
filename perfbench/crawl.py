"""``crawl`` workload: one ``CrawlEngine.run`` per timed operation.

Inputs come from ``--seed``: it picks the offset of a contiguous seed-id range
in the synthetic crawl universe (``sources/synthetic.py``), so every seed list
keeps the universe's 70% hot-host skew, 20% discovery fan-out and ~0.2%
permanent / ~2% transient failure mix.  Ids 10-19 ride along: the seven
of them on the hot host fall under its robots.txt Disallow, so the robots
path routes real URLs.

Every timed crawl is compared with ``streaming.simulator.run_crawl`` on the
same seeds and config: crawl order, seen set, errors and per-document spans.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

from hdx_metadata_crawler_spark.sources import synthetic
from hdx_metadata_crawler_spark.streaming import simulator
from hdx_metadata_crawler_spark.streaming.frontier import CrawlConfig, CrawlEngine

N_SEEDS = 500
PAGE_SIZE = 500  # the reference's CKAN page size: all seeds fit round 0
BODY_SCALE = 32  # ~100 KB metadata bodies, inside the reference dump's 10-200 KB
# Two rounds: the seed page (fetch-heavy), then the discovered URLs plus the
# first retries (control-plane bound).  Capping rounds keeps the round
# structure identical for every seed; pending retries stay in the frontier.
MAX_ROUNDS = 2
ROBOTS_IDS = range(10, 20)  # hot-host ids among them match Disallow: /dataset/0000001
SEQ_BASE = 2_000_000  # seed offsets stay below 10**8, far under DISCOVERED_BASE


@contextlib.contextmanager
def body_scale(scale: int):
    """Body scale seen by ``synthetic.metadata_body`` in this process.  The
    Spark workers inherit the value the JVM was launched with instead."""
    old = os.environ.get("SPARK_GRAFT_BODY_SCALE")
    os.environ["SPARK_GRAFT_BODY_SCALE"] = str(scale)
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_BODY_SCALE"]
        else:
            os.environ["SPARK_GRAFT_BODY_SCALE"] = old


def _seed_list(offset: int, n: int) -> list[str]:
    ids = list(ROBOTS_IDS) + list(range(offset, offset + n - len(ROBOTS_IDS)))
    return [synthetic.seed_url(i) for i in ids]


def _simulate(seeds: list[str], cfg: CrawlConfig) -> simulator.SimState:
    # extracted fields do not depend on the body scale, so the oracle
    # simulates at scale 1
    with body_scale(1):
        return simulator.run_crawl(
            seeds, page_size=cfg.page_size, rps=cfg.rps, max_retries=cfg.max_retries,
            max_rounds=cfg.max_rounds, politeness_salts=cfg.politeness_salts,
            respect_robots=cfg.respect_robots,
        )


@dataclass
class CrawlOp:
    wall_s: float
    rounds: list[dict]
    docs: int
    ckpt_bytes: int
    seen_store_files: int
    problems: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return not self.problems


def _dir_stats(path: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, name))
    return n_files, n_bytes


class Crawl:
    name = "crawl"
    body_scale = BODY_SCALE

    def __init__(self, seed: int):
        # bloom partitions sized to the host, as CrawlConfig advises
        self.cfg = CrawlConfig(page_size=PAGE_SIZE, max_rounds=MAX_ROUNDS, bloom_partitions=8)
        self.offset = SEQ_BASE + (seed % 90_000) * 1_000
        self.seeds = _seed_list(self.offset, N_SEEDS)
        self.expected = _simulate(self.seeds, self.cfg)

    def describe(self) -> dict:
        return {"seed_offset": self.offset, "n_seeds": len(self.seeds),
                "expected_docs": len(self.expected.manifest), "rounds": MAX_ROUNDS}

    def stage_inputs(self, op_dir: str) -> None:
        pass

    def run(self, spark, op_dir: str, spans) -> CrawlOp:
        ckpt = os.path.join(op_dir, "ckpt")
        engine = CrawlEngine(spark, ckpt, self.cfg)
        with spans("crawl"):
            t0 = time.perf_counter()
            out = engine.run(self.seeds)
            wall = time.perf_counter() - t0
        rounds = out["metrics"]
        problems = self._check(out["state"], rounds)
        _n, ckpt_bytes = _dir_stats(ckpt)
        store_files = sum(
            _dir_stats(os.path.join(op_dir, "warehouse", d))[0]
            for d in os.listdir(os.path.join(op_dir, "warehouse"))
            if d.startswith("seen_store_")
        )
        return CrawlOp(
            wall_s=wall, rounds=rounds, docs=sum(r["n_ok"] for r in rounds),
            ckpt_bytes=ckpt_bytes, seen_store_files=store_files, problems=problems,
        )

    def _check(self, state, rounds: list[dict]) -> list[str]:
        sim = self.expected
        problems = []
        manifest = [
            (r["round"], r["canon_url"], r["dataset_id"], r["title"], r["host"],
             r["time_slot"], r["attempt"])
            for r in state["manifest"].orderBy("round", "rank").collect()
        ]
        sim_manifest = [
            (m["round"], m["canon_url"], m["dataset_id"], m["title"], m["host"],
             m["time_slot"], m["attempt"])
            for m in sim.manifest
        ]
        if manifest != sim_manifest:
            problems.append("manifest order")
        if {r["canon_url"] for r in state["seen"].collect()} != sim.seen:
            problems.append("seen set")
        errors = {(r["round"], r["canon_url"], r["error"]) for r in state["errors"].collect()}
        if errors != {(e["round"], e["canon_url"], e["error"]) for e in sim.errors}:
            problems.append("errors")
        docs = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in state["documents"].collect()
        }
        if docs != sim.spans:
            problems.append("spans")
        if len(rounds) != sim.rounds or sum(r["n_ok"] for r in rounds) != len(sim.manifest):
            problems.append("round metrics")
        return problems

    @staticmethod
    def steps(op: CrawlOp) -> list[float]:
        return [r["wall_sec"] for r in op.rounds]

    @staticmethod
    def layers(op: CrawlOp, log) -> dict[str, float]:
        n_rounds = len(op.rounds)
        tot = log.totals()
        by_mod = log.exec_s_by_module(("bloom", "ranking", "frontier"))
        return {
            "frontier.fetch_phase_s": statistics.median(r["fetch_phase_sec"] for r in op.rounds),
            "frontier.checkpoint_s": statistics.median(r["checkpoint_sec"] for r in op.rounds),
            "frontier.jobs_per_round": tot["jobs"] / n_rounds,
            "frontier.stages_per_round": tot["stages"] / n_rounds,
            "frontier.tasks_per_round": tot["tasks"] / n_rounds,
            "frontier.fetch_task_max_mean": log.python_map_task_skew(),
            "frontier.ok_ratio": op.docs / sum(r["n_page"] for r in op.rounds),
            "bloom.exec_s": by_mod["bloom"],
            "ranking.exec_s": by_mod["ranking"],
            "frontier.exec_s": by_mod["frontier"],
            "other.exec_s": by_mod["other"],
            "unattributed.exec_s": by_mod["unattributed"],
            "sinks.ckpt_bytes_per_doc": op.ckpt_bytes / op.docs,
            "bucketing.seen_store_files": float(op.seen_store_files),
        }
