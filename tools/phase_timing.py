#!/usr/bin/env python
"""Per-phase wall timing of the crawl-round bench dataflow at one core
count — a diagnostic for the scaling gate, NOT a graded benchmark.  The
inputs are bench.py's (``crawl_round_inputs``).  Each phase is
materialized in sequence, so phase walls include that phase's work only
(upstream phases are cached first).

Usage: python tools/phase_timing.py --cores 32 [--n-urls 200000] [--body-scale 64]
"""

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--n-urls", type=int, default=200_000)
    ap.add_argument("--body-scale", type=int, default=64)
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_BODY_SCALE"] = str(args.body_scale)

    import pyspark.sql.functions as F

    from bench import ROUND_TASKS, crawl_round_inputs
    from hdx_metadata_crawler_spark.session import get_spark
    from hdx_metadata_crawler_spark.streaming import bloom
    from hdx_metadata_crawler_spark.streaming.frontier import (
        _FETCH_SCHEMA,
        _fetch_batches,
        build_spans,
        politeness_slots,
    )

    spark = get_spark(
        "phase-timing", master=f"local[{args.cores}]",
        shuffle_partitions=max(args.cores, 8),
    )
    frontier, seen, blooms = crawl_round_inputs(spark, args.n_urls)

    # warmup (small) to pay codegen/python-worker startup outside the timers
    warm = politeness_slots(frontier.limit(2000), rps=2.0, n_salts=64)
    warm.repartition(8).mapInPandas(_fetch_batches, _FETCH_SCHEMA) \
        .write.mode("overwrite").format("noop").save()

    phases: dict[str, float] = {}

    t = time.time()
    candidates = bloom.bloom_anti_join(
        frontier, seen, blooms, n_partitions=ROUND_TASKS
    ).cache()
    candidates.count()
    phases["probe"] = round(time.time() - t, 2)

    t = time.time()
    scheduled = politeness_slots(candidates, rps=2.0, n_salts=64).cache()
    scheduled.count()
    phases["politeness"] = round(time.time() - t, 2)

    t = time.time()
    fetched = (
        scheduled.repartition(ROUND_TASKS)
        .mapInPandas(_fetch_batches, _FETCH_SCHEMA)
        .withColumn("round", F.lit(0))
    ).cache()
    fetched.count()
    phases["fetch"] = round(time.time() - t, 2)

    t = time.time()
    docs = build_spans(fetched.filter(F.col("status") == "ok"))
    out_dir = tempfile.mkdtemp(prefix="phase_docs_")
    docs.write.mode("overwrite").parquet(out_dir)
    phases["spans_write"] = round(time.time() - t, 2)

    phases["total"] = round(sum(phases.values()), 2)
    phases["cores"] = args.cores
    print(json.dumps(phases))
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
