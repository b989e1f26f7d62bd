#!/usr/bin/env python3
"""Benchmark of the crawl engine and the analytics board on a 4-core host.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout.  One process, one closed-loop
client, ``local[4]``.  A run:

1. builds its inputs from ``--seed`` and the outputs they must produce;
2. runs timed operations back to back while the next one is expected to
   end within ``--seconds``, at least one.  Each operation is one batch job:
   it stages its inputs and launches its own JVM and Spark session (that
   set-up is ``setup_s``), so every process-level memo starts cold.  Each
   gets its own warehouse and checkpoint directories, removed after;
3. checks every operation's output against an independent oracle, outside
   the timed region.  An operation that raises or fails its check counts in
   ``failed``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs the same operations with the Spark event log on (one job
group per query) and prints the per-layer metrics, each with the end-to-end
metric it should move; ``trace.op_wall_s`` minus the untraced ``op_wall_s``
of the same seed is the tracing overhead.  The last stdout line is the JSON
result; earlier ``info`` lines carry the host-ceiling probe, load average
and raw samples.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
MASTER = "local[4]"
CORES = 4
DRIVER_MEM = "1g"

# per-layer metric -> (end-to-end metric it should move, workload)
SHOULD_MOVE = {
    "frontier.fetch_phase_s": ("op_wall_s", "crawl"),
    "frontier.checkpoint_s": ("step_p50_s", "crawl"),
    "frontier.jobs_per_round": ("step_p50_s", "crawl"),
    "frontier.stages_per_round": ("step_p50_s", "crawl"),
    "frontier.tasks_per_round": ("step_p50_s", "crawl"),
    "frontier.fetch_task_max_mean": ("op_wall_s", "crawl"),
    "frontier.ok_ratio": (None, None),
    "bloom.exec_s": ("step_p50_s", "crawl"),
    "ranking.exec_s": ("step_p50_s", "crawl"),
    "frontier.exec_s": ("step_p50_s", "crawl"),
    "other.exec_s": ("step_p50_s", "crawl"),
    "unattributed.exec_s": ("step_p50_s", "crawl"),
    "sinks.ckpt_bytes_per_doc": ("step_p50_s", "crawl"),
    "bucketing.seen_store_files": ("step_p50_s", "crawl"),
}
# metric prefixes that should move the metric of the workload being run
_OWN_WORKLOAD = {"spark.": "op_wall_s", "query.": "op_wall_s"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl", "analytics_board"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path, body_scale: int) -> None:
    """Process environment fixed before the JVM starts; the JVM and its
    Python workers inherit it.  All scratch space stays inside ``work``."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM (the launcher and the driver): temp files in the checkout,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_BODY_SCALE"] = str(body_scale)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


class Sessions:
    """Launches a JVM and Spark session per operation, and shuts both down."""

    def __init__(self):
        self.spark = None

    def start(self, op_dir: str, event_dir: str | None = None):
        from hdx_metadata_crawler_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(op_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false",
        }
        if event_dir:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                # zstd is the default codec and zstandard is not installed
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", master=MASTER, shuffle_partitions=CORES, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        from hdx_metadata_crawler_spark.operators import ranking
        from hdx_metadata_crawler_spark.streaming import bloom

        if self.spark is not None:
            # frames the engine pinned in its process-level registries belong
            # to this JVM; release them before it goes away
            bloom.release_persisted()
            ranking.release_persisted()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class SpanLog:
    """Wall-clock spans around each call, kept in memory and written out as
    JSONL when the run ends."""

    def __init__(self, path: Path):
        self.path = path
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"span": name, "start": start, "end": time.time()})

    def close(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        with open(self.path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in self.spans)


def _workload_class(name: str):
    if name == "crawl":
        from crawl import Crawl

        return Crawl
    from board import Board

    return Board


def _info(**kw) -> None:
    print(json.dumps({"info": kw}, default=str), flush=True)


def run(args, work: Path, spec: dict) -> dict:
    from host import PeakPss, cpu_probe, load_1m, steal_s, tree_cpu_s

    probe_before, load_before = cpu_probe(), load_1m()
    cls = _workload_class(args.workload)
    _environment(work, cls.body_scale)
    wl = cls(args.seed)
    _info(workload=wl.name, seed=args.seed, inputs=wl.describe(),
          cpu_probe_s=probe_before, load_1m=load_before)

    spans = SpanLog(WORK / "spans" / f"{wl.name}-seed{args.seed}-trace{args.trace}.jsonl")
    sessions = Sessions()
    n_op = 0

    def op_dir() -> str:
        nonlocal n_op
        n_op += 1
        path = str(work / f"op{n_op}")
        os.makedirs(path)
        return path

    # Each operation is one batch job in its own JVM: memo-cold, JIT-cold,
    # with its own warehouse and checkpoint directories.
    ops, setups, peaks, cpus, steals, logs, problems = [], [], [], [], [], [], []
    attempted = failed = 0
    while True:
        t_req = time.perf_counter()
        d = op_dir()
        wl.stage_inputs(d)
        event_dir = os.path.join(d, "events") if args.trace else None
        spark = sessions.start(d, event_dir)
        setups.append(time.perf_counter() - t_req)
        attempted += 1
        op = None
        try:
            cpu0, steal0 = tree_cpu_s(), steal_s()
            with PeakPss() as pss:
                op = wl.run(spark, d, spans)
            cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        except Exception as exc:  # an operation that raises counts as failed
            problems.append(f"op {attempted}: {type(exc).__name__}: {exc}"[:300])
        sessions.shutdown()
        if op is None or not op.correct:
            failed += 1
            if op is not None:
                problems.append(f"op {attempted}: wrong output: {op.problems}")
        else:
            ops.append(op)
            cpus.append(cpu)
            steals.append(steal)
            peaks.append(pss.peak_mb)
            if event_dir:
                from eventlog import load

                logs.append(load(glob.glob(os.path.join(event_dir, "*"))[0]))
        shutil.rmtree(d)
        # start another operation only if it is expected to end in time
        measured = sum(o.wall_s for o in ops)
        if failed or measured + ops[-1].wall_s > args.seconds:
            break
    spans.close()

    probe_after, load_after = cpu_probe(), load_1m()
    steps = [s for o in ops for s in wl.steps(o)]
    _info(op_wall_s=[o.wall_s for o in ops], steps_s=steps, setup_s=setups,
          op_cpu_s=cpus, peak_pss_mb=peaks, steal_s=steals,
          cpu_probe_s=probe_after, load_1m=load_after,
          attempted=attempted, failed=failed, fail_ratio=failed / attempted,
          problems=problems, docs=[getattr(o, "docs", None) for o in ops])
    if not ops:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    if args.trace:
        values = {f"spark.{k}": float(v) for k, v in logs[0].totals().items()}
        values.update(wl.layers(ops[0], logs[0]))
        values.update({
            # minus the untraced op_wall_s of the same seed: tracing overhead
            "trace.op_wall_s": ops[0].wall_s,
            "host.cpu_probe_s": statistics.median([probe_before, probe_after]),
            "host.load_1m": load_after,
            "host.steal_s": steals[0],
        })
        entries = spec["per_layer"]
    else:
        values = {
            "op_wall_s": statistics.median(o.wall_s for o in ops),
            "op_cpu_s": statistics.median(cpus),
            "step_p50_s": statistics.median(steps),
            "setup_s": statistics.median(setups),
            "peak_pss_mb": max(peaks),
        }
        entries = spec["end_to_end"]
    metrics = {}
    for m in entries:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    if args.trace:
        _print_layers(wl.name, metrics, missing=[m["name"] for m in entries if m["name"] not in values])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _print_layers(workload: str, metrics: dict, missing: list[str]) -> None:
    for name, m in metrics.items():
        if name in missing:
            continue
        target, where = SHOULD_MOVE.get(name, (None, None))
        for prefix, own in _OWN_WORKLOAD.items():
            if name.startswith(prefix):
                target, where = own, workload
        moves = f"{target} @ {where}" if target else "-"
        print(f"layer {name:44s} {m['value']:>14.6f} {m['unit']:8s} moves {moves}")
    _info(not_exercised_by=workload, zero_filled=missing)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "hdx_metadata_crawler_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))  # the engine; this directory is already on it
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, work, spec)
    finally:
        from host import reap_children

        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
