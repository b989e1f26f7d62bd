"""Iterative URL-frontier crawl engine (north rule core).

Re-expresses NB01's single-process crawl loop (``01…ipynb:738-830
run_dataset_crawl``) as a driver-side iteration of declarative per-round
Spark plans (SURVEY §3.1 'Spark re-expression'):

round r:
  1. candidates = frontier ∖ seen       — partitioned-Bloom probe + exact
                                          anti-join rescue (bloom.py)
  2. page      = top page_size by (priority, canon_url)  — the reference's
                                          deterministic id-asc page order
  3. schedule  = per-host fetch_seq/time_slot at rps     — politeness
                                          (window over salted host groups)
  4. fetch     = mapInPandas over host-hash-salted partitions calling the
                 deterministic resolver (sources/synthetic.fetch — the same
                 function the pure-Python oracle simulator calls)
  5. route     = ok → manifest+documents (+discovered → frontier′)
                 retry → frontier′ with attempt+1 (≤ max_retries)
                 else → errors
  6. commit    = parquet snapshot of {frontier, seen, manifest, errors,
                 documents} + atomic _COMMIT.json (metrics + lineage);
                 a killed run resumes from the last committed round with
                 identical state (tested in tests/test_crawl_engine.py).

Documents are written with interleaved text+media spans assembled
SPARK-SIDE (array/struct/transform with index lambdas — no Python), matching
the input_hint schema (doc_id, spans array<struct<kind,text,media_ref,
offset>>) plus per-partition lineage columns (round, partition_id, source).

Scale design: the only shuffles per round are (a) the co-partitioned bloom
probe (candidates repartitioned by pmod(url_hash, P)) plus the rescue
anti-join on bloom-positive candidates — the seen side of that join is a
catalog table bucketed on url_hash, so ONLY the round-sized candidate slice
exchanges, never the O(10^10) seen set — (b) the page top-k, (c) one
repartition by salted host-hash before the fetch stage.  The hot-host skew (≥70% of URLs on
one host) is broken by salting the repartition key with pmod(url_hash, S) —
politeness stays correct because fetch slots were assigned *before* the
salt split, per host globally.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..functions.url import url_hash
from ..operators import ranking
from ..operators.ranking import two_phase_rank
from ..sources import bucketing, synthetic
from . import bloom, robots

FRONTIER_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("priority", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("attempt", IntegerType()),
    ]
)

_FETCH_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("priority", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("attempt", IntegerType()),
        StructField("time_slot", LongType()),
        StructField("status", StringType()),
        StructField("dataset_id", StringType()),
        StructField("title", StringType()),
        StructField("notes", StringType()),
        StructField("tags", ArrayType(StringType())),
        StructField(
            "resources",
            ArrayType(
                StructType(
                    [StructField("name", StringType()), StructField("url", StringType())]
                )
            ),
        ),
        StructField("discovered", ArrayType(StringType())),
    ]
)

_STATE_TABLES = ("frontier", "seen", "manifest", "errors", "documents")
# Mutable tables are snapshotted in full every round (they change in place
# and stay O(frontier)); append-only tables write ONLY the round's delta —
# checkpoint cost is O(round output), not O(total crawl history).  blooms is
# the incrementally-maintained seen-set filter (bloom.merge_blooms): O(16
# bitsets) to snapshot, O(round additions) to update — never rebuilt from
# the full seen set.  `seen` is append-only too (round 2): URLs are only
# ever ADDED, so each round writes just the newly-finalized slice — the
# round-1 full-seen rewrite was the one checkpoint cost that grew with
# crawl history (O(10^10) per round at the design point).
_MUTABLE_TABLES = ("frontier", "blooms")
# read back with these schemas, never inferred: inference is a Spark job per
# read (after every commit and on resume), and an all-retries round can
# leave a table empty (no part files), which inference cannot read
_MUTABLE_SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "blooms": bloom.BLOOM_DDL,
}
_APPEND_TABLES = ("seen", "manifest", "errors", "documents")

_APPEND_SCHEMAS = {
    "seen": "url_hash long, canon_url string",
    "manifest": (
        "round int, rank int, canon_url string, dataset_id string, "
        "title string, host string, time_slot long, attempt int"
    ),
    "errors": "round int, canon_url string, dataset_id string, error string",
    "documents": (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, round int, partition_id int, "
        "source string"
    ),
}


@dataclass
class CrawlConfig:
    page_size: int = 500
    rps: float = 2.0
    max_retries: int = 6
    max_rounds: int = 100
    # Probe parallelism equals bloom_partitions (the co-partitioned probe
    # runs one task per bloom partition), so size it to a small multiple of
    # total cores — 4096 at the 10^10-key design point; 64 covers local[32].
    # Measured: P=16 capped the 16-core probe and cost ~15% of the round;
    # P=128 made the co-partitioned probe FASTER than the broadcast path.
    bloom_partitions: int = 64
    seen_buckets: int = 32  # bucket count of the catalog-bucketed seen store
    # Compact (rewrite) the seen store after this many per-round appends:
    # each append adds <= seen_buckets files, and a scan must list/open every
    # file of its bucket — unbounded appends turn the zero-Exchange join into
    # a small-file wall over a long crawl.  Rewriting every K rounds costs
    # O(|seen|) each time, so K trades append amplification (|seen| * rounds
    # / K total rewrite bytes) against per-round file count (<= K *
    # seen_buckets).  64 keeps both negligible at the design point.
    seen_compact_rounds: int = 64
    # (host_salt removed round 4: the fetch stage round-robins — politeness
    # lives in time_slot, and salted host-hash partitioning measurably skewed)
    fetch_partitions: int = 16
    politeness_salts: int = 8  # parallel sub-queues per host (see politeness_slots)
    respect_robots: bool = True  # robots.txt disallow + crawl-delay budgets


def politeness_slots(
    page: DataFrame,
    rps: float,
    n_salts: int,
    rps_col: Column | None = None,
) -> DataFrame:
    """Two-phase salted politeness schedule — skew-free slot assignment.

    A single ``Window.partitionBy(host)`` puts the hot host's entire page in
    ONE sort task (measured: 6x slower at 32 cores than 8 on a 1M-URL round,
    because the giant skewed partition spills once executor memory is shared
    by more concurrent tasks).  Instead each host is split into ``n_salts``
    sub-queues by ``crc32(canon_url) % n_salts`` (crc32 so the pure-Python
    oracle simulator computes the identical salt via ``zlib.crc32``), ranked
    independently, and interleaved round-robin:

        global_seq = local_rank * n_salts + salt
        time_slot  = floor(global_seq / rps)

    global_seq is injective per host (local_rank distinct within a sub-queue,
    salt distinct across), so every slot still gets at most ``rps`` fetches
    per host — the politeness budget of ``01…ipynb:390 _rate_limit`` holds
    exactly, while the sort parallelism is n_salts per host instead of 1.

    Per-host budgets (robots Crawl-delay overrides, streaming/robots.py)
    come in as ``rps_col`` — a per-row rps column already joined onto the
    page from the broadcast robots dim (the round loop's form; zero driver
    state).  The budget folds into the slot expression at no extra cost.
    (A legacy literal-map dict parameter was removed in round 3: no caller
    used it, and dead parity surface is drift risk.)
    """
    salt = F.pmod(F.crc32(F.encode("canon_url", "utf-8")), F.lit(n_salts)).cast("int")
    if rps_col is None:
        rps_col = F.lit(float(rps))
    w = Window.partitionBy("host", "salt").orderBy("priority", "canon_url")
    # Explicit repartition on the window keys with an explicit partition
    # count: the window's own Exchange satisfies the same distribution, but
    # AQE coalesces it by size (~64 MB advisory), which collapses a
    # million-row page's sort onto 1-2 tasks (measured ~1 s serialized at
    # 280k rows).  An explicit count is exempt from AQE coalescing, so the
    # per-sub-queue sorts keep full parallelism at every page size.
    n_shuffle = int(page.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        page.withColumn("salt", salt)
        .repartition(n_shuffle, "host", "salt")
        .withColumn(
            "time_slot",
            F.floor(
                ((F.row_number().over(w) - 1) * n_salts + F.col("salt")) / rps_col
            ).cast("long"),
        )
        .drop("salt")
    )


@dataclass
class CrawlMetrics:
    rounds: list[dict] = field(default_factory=list)

    @property
    def total_ok(self) -> int:
        return sum(r["n_ok"] for r in self.rounds)


def _fetch_batches(iterator):
    """mapInPandas fetch stage — Arrow-batched; calls the SAME deterministic
    resolver as the Python oracle simulator (no network)."""
    for pdf in iterator:
        out = {
            "canon_url": [], "url_hash": [], "host": [], "priority": [],
            "depth": [], "attempt": [], "time_slot": [], "status": [],
            "dataset_id": [], "title": [], "notes": [], "tags": [],
            "resources": [], "discovered": [],
        }
        for row in pdf.itertuples(index=False):
            res = synthetic.fetch(row.canon_url, row.attempt)
            out["canon_url"].append(row.canon_url)
            out["url_hash"].append(row.url_hash)
            out["host"].append(row.host)
            out["priority"].append(row.priority)
            out["depth"].append(row.depth)
            out["attempt"].append(row.attempt)
            out["time_slot"].append(row.time_slot)
            out["status"].append(res.status)
            out["dataset_id"].append(res.dataset_id)
            out["title"].append(res.title)
            out["notes"].append(res.notes)
            out["tags"].append(res.tags)
            out["resources"].append(res.resources)
            out["discovered"].append(res.discovered)
        yield pd.DataFrame(out)


def build_spans(fetched_ok: DataFrame) -> DataFrame:
    """Interleaved text+media spans, assembled with pure column expressions
    (input_hint invariant: kind/text/media_ref/offset sequence equality).
    Span structs come from the shared constructors in operators/spans so the
    crawled shape and the analytics-side synthesized shape cannot drift."""
    from ..operators.spans import media_span, stamp_offsets, text_span

    raw = F.concat(
        F.array(text_span(F.col("title"))),
        F.transform(F.col("tags"), lambda t: text_span(t)),
        F.flatten(
            F.transform(
                F.col("resources"),
                lambda r: F.array(text_span(r["name"]), media_span(r["url"])),
            )
        ),
        F.array(text_span(F.col("notes"))),
    )
    return fetched_ok.select(
        F.col("dataset_id").alias("doc_id"),
        stamp_offsets(raw).alias("spans"),
        F.col("round"),
        F.spark_partition_id().alias("partition_id"),
        F.lit("synthetic_ckan").alias("source"),
    )


class CrawlEngine:
    def __init__(self, spark: SparkSession, ckpt_dir: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        self.cfg = config or CrawlConfig()
        self.metrics = CrawlMetrics()
        # Catalog-bucketed seen store (one per checkpoint dir): the rescue
        # anti-join and the discovered anti-join hit the FULL seen set every
        # round, and a plain-parquet seen side re-shuffles O(|seen|) per
        # round — at the 10^10-key design point that shuffle IS the round
        # cost.  A table bucketed on url_hash exposes hashpartitioning to
        # the scan, so only the (round-sized) candidate side exchanges.
        self._seen_table = "seen_store_" + hashlib.md5(
            os.path.abspath(ckpt_dir).encode()
        ).hexdigest()[:12]
        self._seen_appends = 0  # appends since the last rebuild/compaction

    # ------------------------------------------------------------------ state
    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.ckpt_dir, f"round_{rnd:04d}")

    # \d{4,}: the writer's {rnd:04d} widens past 4 digits at round 10000,
    # and a fixed-width match would make every later round invisible to
    # resume (silent re-run from stale state after a crash)
    _ROUND_DIR_RE = re.compile(r"^round_(\d{4,})$")

    def latest_committed_round(self) -> int | None:
        if not os.path.isdir(self.ckpt_dir):
            return None
        rounds = []
        for name in os.listdir(self.ckpt_dir):
            # STRICT name match: _write_state writes _COMMIT.json inside the
            # .tmp staging dir BEFORE the atomic rename, so a crash in that
            # window leaves round_NNNN.tmp/_COMMIT.json on disk — a loose
            # startswith('round_') match would both misclassify that
            # uncommitted round as committed AND crash int('NNNN.tmp').
            m = self._ROUND_DIR_RE.match(name)
            if m and os.path.exists(
                os.path.join(self.ckpt_dir, name, "_COMMIT.json")
            ):
                rounds.append(int(m.group(1)))
        return max(rounds) if rounds else None

    def _write_state(
        self,
        rnd: int,
        mutable: dict[str, DataFrame],
        deltas: dict[str, DataFrame],
        metrics: dict,
    ) -> None:
        """Per-round checkpoint + atomic commit marker (reference analogue:
        write_json tmp+os.replace, 01…ipynb:557 — here the marker rename is
        the atomic commit point; uncommitted round dirs are ignored on
        resume).  frontier/seen are full snapshots; manifest/errors/
        documents write only this round's delta, so a round's checkpoint
        cost never grows with crawl history (the Iceberg-append analogue)."""
        rdir = self._round_dir(rnd)
        tmp = rdir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        # The five table writes are independent Spark jobs — submit them
        # concurrently (cluster schedulers overlap their stages; the commit
        # marker below is still the single serial point).
        jobs = [
            (mutable[name], os.path.join(tmp, name)) for name in _MUTABLE_TABLES
        ] + [
            (deltas[name], os.path.join(tmp, f"{name}_delta"))
            for name in _APPEND_TABLES
        ]
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = [
                pool.submit(
                    lambda df, path: df.write.mode("overwrite").parquet(path),
                    df,
                    path,
                )
                for df, path in jobs
            ]
            for fut in futures:
                fut.result()
        with open(os.path.join(tmp, "_COMMIT.json"), "w") as f:
            json.dump({"round": rnd, "metrics": metrics}, f, indent=2)
        if os.path.exists(rdir):
            shutil.rmtree(rdir)
        os.replace(tmp, rdir)

    def _committed_rounds(self, up_to: int) -> list[int]:
        return [
            r
            for r in range(up_to + 1)
            if os.path.exists(os.path.join(self._round_dir(r), "_COMMIT.json"))
        ]

    def _read_state(self, rnd: int) -> dict[str, DataFrame]:
        rdir = self._round_dir(rnd)
        state: dict[str, DataFrame] = {}
        for name in _MUTABLE_TABLES:
            state[name] = self.spark.read.schema(_MUTABLE_SCHEMAS[name]).parquet(
                os.path.join(rdir, name)
            )
        delta_dirs = {
            name: [
                os.path.join(self._round_dir(r), f"{name}_delta")
                for r in self._committed_rounds(rnd)
            ]
            for name in _APPEND_TABLES
        }
        for name, dirs in delta_dirs.items():
            # Explicit schema: a round with zero output writes an empty
            # delta dir (no part files), which schema inference would choke on.
            state[name] = self.spark.read.schema(_APPEND_SCHEMAS[name]).parquet(*dirs)
        return state

    # ------------------------------------------------- bucketed seen store
    # The committed per-round seen deltas remain the source of truth; the
    # bucketed table is a derived join accelerator.  It is REBUILT from the
    # committed deltas at the start of every run (fresh or resume), so a
    # crash between a checkpoint commit and the store append can never leave
    # phantom "seen" rows that would silently drop URLs.

    def _rebuild_seen_store(self, seen: DataFrame) -> DataFrame:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._seen_table}")
        # a killed run's warehouse directory, invisible to the DROP, is
        # cleared by write_bucketed (the table is absent from the catalog)
        bucketing.write_bucketed(
            seen, self._seen_table, "url_hash", n_buckets=self.cfg.seen_buckets
        )
        self._seen_appends = 0
        return self.spark.table(self._seen_table)

    def _append_seen_store(self, rnd: int) -> DataFrame:
        """Append round ``rnd``'s COMMITTED seen delta (read back from the
        checkpoint, not recomputed from lineage) into the bucketed store.

        Every ``cfg.seen_compact_rounds`` appends the store is compacted — a
        full rewrite from the committed deltas (NOT from the table being
        replaced, so the DROP inside the rebuild can never pull the rug from
        under its own input plan).  Each append adds up to seen_buckets
        files; without compaction a long crawl's store degrades into a
        small-file listing wall.  Crash-safety is inherited: the store is a
        derived accelerator rebuilt from committed deltas at every run
        start, so a crash mid-compaction costs nothing."""
        delta = self.spark.read.schema(_APPEND_SCHEMAS["seen"]).parquet(
            os.path.join(self._round_dir(rnd), "seen_delta")
        )
        delta.write.mode("append").bucketBy(
            self.cfg.seen_buckets, "url_hash"
        ).sortBy("url_hash").saveAsTable(self._seen_table)
        self._seen_appends += 1
        if self._seen_appends >= self.cfg.seen_compact_rounds:
            full = self.spark.read.schema(_APPEND_SCHEMAS["seen"]).parquet(
                *[
                    os.path.join(self._round_dir(r), "seen_delta")
                    for r in self._committed_rounds(rnd)
                ]
            )
            return self._rebuild_seen_store(full)
        return self.spark.table(self._seen_table)

    # ------------------------------------------------------------------- run
    def seed_state(self, seed_urls: list[str]) -> dict[str, DataFrame]:
        spark = self.spark
        seeds = (
            spark.createDataFrame(
                [(u.strip(),) for u in seed_urls], "canon_url string"
            )
            .select(
                "canon_url",
                url_hash(F.col("canon_url")).alias("url_hash"),
                F.regexp_extract("canon_url", r"^https?://([^/]+)", 1).alias("host"),
                F.lit(0).alias("priority"),
                F.lit(0).alias("depth"),
                F.lit(0).alias("attempt"),
            )
            # the simulator's frontier is a dict keyed on the canonical URL,
            # so a duplicated seed fetches once — without this dedup the
            # engine pages BOTH copies (bloom_anti_join preserves dups),
            # double-fetching the URL and double-spending its host budget
            .dropDuplicates(["url_hash"])
        )
        # empty state frames come from the ONE schema table _read_state uses
        # on resume — fresh-run and resumed-run state cannot drift
        empty = {
            "frontier": seeds,
            "blooms": spark.createDataFrame([], _MUTABLE_SCHEMAS["blooms"]),
        }
        for name, ddl in _APPEND_SCHEMAS.items():
            empty[name] = spark.createDataFrame([], ddl)
        return empty

    def run(self, seed_urls: list[str] | None = None, resume: bool = False) -> dict:
        cfg = self.cfg
        last = self.latest_committed_round() if resume else None
        if last is not None:
            state = self._read_state(last)
            start_round = last + 1
            # Reload prior rounds' metrics from their commit markers so a
            # resumed run()['metrics'] covers the whole crawl, not just the
            # post-crash rounds.  (The marker is written before the round's
            # wall timing exists, so reloaded entries carry counts but not
            # wall_sec — in-session timings remain in-session.)
            if not self.metrics.rounds:
                for r in self._committed_rounds(last):
                    with open(
                        os.path.join(self._round_dir(r), "_COMMIT.json")
                    ) as f:
                        self.metrics.rounds.append(json.load(f)["metrics"])
        else:
            assert seed_urls is not None, "seed_urls required for a fresh run"
            state = self.seed_state(seed_urls)
            start_round = 0
            if os.path.isdir(self.ckpt_dir):
                shutil.rmtree(self.ckpt_dir)
            os.makedirs(self.ckpt_dir, exist_ok=True)

        # Bucketed seen store: rebuilt once per run from the committed
        # deltas (O(|seen|) once, amortized across the whole run), then
        # appended per round — every per-round anti-join against it reads
        # the bucketing as output partitioning, no seen-side Exchange.
        seen_store = self._rebuild_seen_store(state["seen"])

        # Robots policy dim, built ONCE per run (not per round): explicit
        # rows for hosts with a non-default robots.txt + the default policy
        # for everything else.  The page joins this broadcast-side — no
        # driver-side collect of data-derived hosts anywhere in the loop.
        robots_dim = None
        robots_default: tuple[list[str], float] | None = None
        if cfg.respect_robots:
            rows, robots_default = robots.policy_table(cfg.rps)
            robots_dim = self.spark.createDataFrame(
                rows, "host string, r_prefixes array<string>, r_rps double"
            )

        try:
            state = self._run_rounds(
                state, start_round, seen_store, robots_dim, robots_default
            )
        finally:
            # a round releases its probe/rank frames when it commits; this
            # covers the empty-frontier break and a failed round, so no frame
            # stays registered past this session
            bloom.release_persisted()
            ranking.release_persisted()

        final_round = self.latest_committed_round()
        return {
            "final_round": final_round,
            "metrics": self.metrics.rounds,
            "state": state,
        }

    def _run_rounds(
        self,
        state: dict[str, DataFrame],
        start_round: int,
        seen_store: DataFrame,
        robots_dim: DataFrame | None,
        robots_default: tuple[list[str], float] | None,
    ) -> dict[str, DataFrame]:
        """Rounds ``start_round``.. until max_rounds or an empty frontier;
        returns the state read back from the last commit."""
        cfg = self.cfg
        for rnd in range(start_round, cfg.max_rounds):
            t0 = time.time()
            frontier, seen = state["frontier"], state["seen"]

            # 1. candidates = frontier ∖ seen — probe the incrementally-
            # maintained bloom state (never rebuilt from the full seen set)
            # + exact rescue for bloom-positives
            blooms = state["blooms"]
            candidates = bloom.bloom_anti_join(
                frontier, seen_store, blooms, n_partitions=cfg.bloom_partitions
            )

            # 2. deterministic page: top page_size by (priority, canon_url)
            page = (
                candidates.orderBy("priority", "canon_url")
                .limit(cfg.page_size)
                .cache()
            )
            n_page = page.count()
            if n_page == 0:
                page.unpersist()
                break

            # 3a. robots budgeting: Disallow prefixes route to errors+seen,
            # Crawl-delay overrides the per-host rps (north rule).  The page
            # broadcast-joins the run-level robots dim on host (hosts absent
            # from the dim get the default policy) — the exact shape that
            # holds at 10^10 scale, with zero driver-side data dependency
            # inside the round loop.
            if cfg.respect_robots:
                def_prefixes, def_rps = robots_default
                def_prefix_arr = (
                    F.array(*[F.lit(p) for p in def_prefixes])
                    if def_prefixes
                    else F.array().cast("array<string>")
                )
                # path-less URL => '/', matching robots.url_path: a
                # Disallow prefix of '/' (disallow-all) must block
                # 'https://host' too — the bare regex yields '' there,
                # which startswith('/') would miss (parity + policy bug).
                raw_path = F.regexp_extract(
                    "canon_url", r"^https?://[^/]+([^?#]*)", 1
                )
                path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
                disallowed_flag = F.exists(
                    F.coalesce(F.col("r_prefixes"), def_prefix_arr),
                    lambda p: path.startswith(p),
                )
                flagged_page = (
                    page.join(F.broadcast(robots_dim), "host", "left")
                    .withColumn("_disallowed", disallowed_flag)
                    .withColumn("_rps_host", F.coalesce("r_rps", F.lit(def_rps)))
                    .drop("r_prefixes", "r_rps")
                    .cache()
                )
                blocked = flagged_page.filter(F.col("_disallowed")).drop(
                    "_disallowed", "_rps_host"
                )
                allowed = flagged_page.filter(~F.col("_disallowed")).drop("_disallowed")
                rps_col = F.col("_rps_host")
            else:
                flagged_page = None
                blocked = page.filter(F.lit(False))
                allowed = page
                rps_col = None

            # 3b. politeness: salted per-host sub-queues → time_slot at the
            # per-host rps budget
            scheduled = politeness_slots(
                allowed, cfg.rps, cfg.politeness_salts, rps_col=rps_col
            )
            if rps_col is not None:
                scheduled = scheduled.drop("_rps_host")

            # 4. fetch over round-robin partitions (balanced by
            # construction).  Politeness is fully encoded in time_slot by
            # this point, so partitioning is purely a load-balancing choice:
            # the earlier (host, url_hash % host_salt) hash partitioning put
            # 70%-hot-host traffic behind ~host_salt keys hashed into
            # n_fetch bins — balls-into-bins gave some tasks 3x the mean
            # (measured max/mean 3.30 at 64 salts / 128 tasks), a straggler
            # tail that costs ~25% of 4N-core scaling efficiency while
            # N-core runs amortize it over more waves.  RoundRobin gets
            # max/mean 1.002.  (A connection-pooling fetcher that wants
            # host affinity should group WITHIN a partition — pandas
            # groupby inside the batch — not skew the partitioning.)
            # Partition count adapts to the page: retry-tail rounds with a
            # handful of URLs would otherwise spin up cfg.fetch_partitions
            # Python workers for nothing (~2.5 s fixed cost per near-empty
            # round, measured); n_page is already known from the page count.
            n_fetch = max(1, min(cfg.fetch_partitions, (n_page + 63) // 64))
            fetched = (
                scheduled.repartition(n_fetch)
                .mapInPandas(_fetch_batches, _FETCH_SCHEMA)
                .withColumn("round", F.lit(rnd))
                .cache()
            )

            ok = fetched.filter(F.col("status") == "ok")
            retry = fetched.filter(F.col("status") == "retry")
            err_now = fetched.filter(F.col("status") == "error")
            err_exhausted = retry.filter(F.col("attempt") + 1 > cfg.max_retries)
            retry_next = retry.filter(F.col("attempt") + 1 <= cfg.max_retries)

            # 5a. manifest (crawl-order contract: rank by (priority,
            # canon_url)).  Two-phase rank: a bare Window.orderBy would pull
            # the whole page through ONE task; range-partition + local
            # row_number + prefix-sum offsets gives the identical ranking
            # N-way parallel (operators/ranking.py).
            manifest_new = two_phase_rank(
                ok.select(
                    "round", "canon_url", "dataset_id", "title", "host",
                    "time_slot", "attempt", "priority",
                ),
                ["priority", "canon_url"],
                num_partitions=max(2, cfg.fetch_partitions // 4),
            ).select(
                "round",
                # bounded by page_size — safe to narrow the operator's long
                F.col("rank").cast("int").alias("rank"),
                "canon_url", "dataset_id", "title", "host",
                "time_slot", "attempt",
            )

            robots_blocked = blocked.select(
                F.lit(rnd).alias("round"),
                "canon_url",
                F.regexp_extract("canon_url", r"/(?:dataset|hdx)/([^/]+)", 1).alias(
                    "dataset_id"
                ),
                F.lit("robots_disallowed").alias("error"),
            )
            errors_new = err_now.select(
                "round", "canon_url", "dataset_id",
                F.lit("permanent_fetch_error").alias("error"),
            ).unionByName(
                err_exhausted.select(
                    "round", "canon_url", "dataset_id",
                    F.lit("max_retries_exceeded").alias("error"),
                )
            ).unionByName(robots_blocked)

            docs_new = build_spans(ok)

            # 5b. frontier′ = (frontier ∖ page) ∪ retries(attempt+1) ∪ discovered
            remaining = frontier.join(
                page.select("url_hash"), "url_hash", "left_anti"
            )
            retry_rows = retry_next.select(
                "canon_url", "url_hash", "host", "priority", "depth",
                (F.col("attempt") + 1).alias("attempt"),
            )
            # min-depth aggregation, NOT dropDuplicates: when one URL is
            # discovered by parents at different depths in the same round,
            # dropDuplicates keeps an arbitrary task's row (crawl order then
            # varies run-to-run), while the simulator keeps the first
            # parent in manifest rank order — which is exactly the min-depth
            # parent (rank leads with priority = depth).  min() is the
            # deterministic engine equivalent.
            discovered = (
                ok.select(F.explode("discovered").alias("raw_url"), "depth")
                .select(
                    F.trim("raw_url").alias("canon_url"),
                    url_hash(F.trim("raw_url")).alias("url_hash"),
                    F.regexp_extract(F.trim("raw_url"), r"^https?://([^/]+)", 1).alias("host"),
                    (F.col("depth") + 1).alias("depth"),
                )
                .groupBy("url_hash", "canon_url", "host")
                .agg(F.min("depth").alias("depth"))
                .select(
                    "canon_url", "url_hash", "host",
                    F.col("depth").alias("priority"), "depth",
                    F.lit(0).alias("attempt"),
                )
                .join(frontier.select("url_hash"), "url_hash", "left_anti")
                .join(seen_store.select("url_hash"), "url_hash", "left_anti")
            )
            frontier_next = remaining.unionByName(retry_rows).unionByName(
                discovered.select(*[f.name for f in FRONTIER_SCHEMA.fields])
            )

            # 5c. seen′ = seen ∪ finalized (ok + permanent/exhausted errors
            # + robots-disallowed, so blocked URLs can never requeue);
            # blooms′ = blooms OR bloom(finalized) — incremental, O(round)
            finalized = (
                ok.select("url_hash", "canon_url")
                .unionByName(err_now.select("url_hash", "canon_url"))
                .unionByName(err_exhausted.select("url_hash", "canon_url"))
                .unionByName(blocked.select("url_hash", "canon_url"))
            )
            seen_next = seen.unionByName(finalized)
            blooms_next = bloom.merge_blooms(
                blooms, finalized, n_partitions=cfg.bloom_partitions,
                seen=seen_next,
            )

            new_mutable = {
                "frontier": frontier_next,
                "blooms": blooms_next,
            }
            deltas = {
                # seen is append-only: persist ONLY this round's finalized
                # URLs; _read_state unions the per-round deltas back into
                # the full seen set (write cost O(round), not O(history)).
                "seen": finalized.dropDuplicates(["url_hash"]),
                "manifest": manifest_new,
                "errors": errors_new,
                "documents": docs_new,
            }

            status_counts = {
                (r["status"], r["exhausted"]): r["cnt"]
                for r in fetched.groupBy(
                    "status", (F.col("attempt") + 1 > cfg.max_retries).alias("exhausted")
                ).agg(F.count("*").alias("cnt")).collect()
            }
            n_ok = sum(v for (s, _e), v in status_counts.items() if s == "ok")
            n_retry = status_counts.get(("retry", False), 0)
            n_err = sum(
                v for (s, e), v in status_counts.items()
                if s == "error" or (s == "retry" and e)
            )
            n_blocked = blocked.count() if cfg.respect_robots else 0
            t_fetch_done = time.time()

            # 6. atomic checkpoint (resume point)
            metrics = {
                "round": rnd,
                "n_page": n_page,
                "n_robots_blocked": n_blocked,
                "n_ok": n_ok,
                "n_retry": n_retry,
                "n_error": n_err,
                "politeness_rps": cfg.rps,
            }
            self._write_state(rnd, new_mutable, deltas, metrics)
            # append THIS round's committed seen delta into the bucketed
            # store (read back from the checkpoint — exact committed rows,
            # and counted inside the round's wall time)
            seen_store = self._append_seen_store(rnd)
            wall = time.time() - t0
            metrics.update(
                {
                    "wall_sec": round(wall, 3),
                    "fetch_phase_sec": round(t_fetch_done - t0, 3),
                    "checkpoint_sec": round(wall - (t_fetch_done - t0), 3),
                    "urls_per_sec": round(n_page / wall, 2) if wall > 0 else None,
                }
            )
            self.metrics.rounds.append(metrics)
            state = self._read_state(rnd)  # re-root lineage on the snapshot
            fetched.unpersist()
            page.unpersist()
            if flagged_page is not None:
                flagged_page.unpersist()
            bloom.release_persisted()
            ranking.release_persisted()
        return state
