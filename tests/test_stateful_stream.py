"""applyInPandasWithState first-seen dedup: state must persist in the
checkpointed state store ACROSS micro-batches and across restarts — a value
emitted in run 1 is suppressed in run 2 even though the process restarted the
query."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from hdx_metadata_crawler_spark.streaming.stateful import (
    first_seen_dedup_stream,
    media_first_seen_stream,
)


def _run_stateful_once(spark, src_dir: str, ckpt: str, out_dir: str, schema: str, stream_fn):
    # parquet sink: unlike the memory sink it SUPPORTS checkpoint recovery,
    # which is the point of these tests (state survives a query restart)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        stream_fn(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).collect()


def _run_once(spark, src_dir: str, ckpt: str, out_dir: str):
    schema = "user_id long, event_type string, event_id long, ts timestamp, value double"
    return _run_stateful_once(
        spark, src_dir, ckpt, out_dir, schema, first_seen_dedup_stream
    )


def test_state_survives_across_runs(spark):
    src = tempfile.mkdtemp(prefix="stateful_src_")
    ckpt = tempfile.mkdtemp(prefix="stateful_ckpt_")
    out = tempfile.mkdtemp(prefix="stateful_out_")
    try:
        batch1 = pd.DataFrame(
            {
                "user_id": [1, 1, 2],
                "event_type": ["click", "view", "click"],
                "event_id": [10, 11, 12],
                "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:01", "2024-01-01 10:02"]),
                "value": [1.0, 2.0, 3.0],
            }
        )
        spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(src)
        out1 = _run_once(spark, src, ckpt, out)
        assert {(r["user_id"], r["event_type"]) for r in out1} == {
            (1, "click"), (1, "view"), (2, "click"),
        }

        # run 2: a NEW query process, SAME checkpoint — duplicates of run-1
        # values must be suppressed by the restored state; new values emit.
        batch2 = pd.DataFrame(
            {
                "user_id": [1, 1, 2, 3],
                "event_type": ["click", "buy", "click", "view"],
                "event_id": [20, 21, 22, 23],
                "ts": pd.to_datetime(["2024-01-01 11:00", "2024-01-01 11:01", "2024-01-01 11:02", "2024-01-01 11:03"]),
                "value": [4.0, 5.0, 6.0, 7.0],
            }
        )
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src)
        all_rows = _run_once(spark, src, ckpt, out)
        run1_ids = {r["event_id"] for r in out1}
        emitted2 = {
            (r["user_id"], r["event_type"], r["event_id"])
            for r in all_rows
            if r["event_id"] not in run1_ids
        }
        assert (1, "buy", 21) in emitted2, "new value must emit"
        assert (3, "view", 23) in emitted2, "new key must emit"
        assert (1, "click", 20) not in emitted2, "cross-run duplicate suppressed"
        assert (2, "click", 22) not in emitted2, "cross-run duplicate suppressed"
        assert len(emitted2) == 2
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def _run_media_once(spark, src_dir: str, ckpt: str, out_dir: str):
    schema = "media_ref string, doc_id long, ts_epoch long"
    return _run_stateful_once(
        spark, src_dir, ckpt, out_dir, schema, media_first_seen_stream
    )


def test_media_firstseen_state_survives_across_runs(spark):
    """The per-ref 'already scheduled' bit must suppress a ref re-surfacing
    in a later run, and the emitted occurrence must be the batch minimum by
    (ts_epoch, doc_id) — including the equal-timestamp doc_id tie-break."""
    src = tempfile.mkdtemp(prefix="media_src_")
    ckpt = tempfile.mkdtemp(prefix="media_ckpt_")
    out = tempfile.mkdtemp(prefix="media_out_")
    try:
        batch1 = pd.DataFrame(
            {
                # m7 arrives from docs 9 and 4 at the SAME epoch -> doc 4 wins
                "media_ref": ["m7.png", "m7.png", "m3.png"],
                "doc_id": [9, 4, 5],
                "ts_epoch": [1000, 1000, 2000],
            }
        )
        spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(src)
        out1 = {r["media_ref"]: (r["first_doc"], r["first_epoch"])
                for r in _run_media_once(spark, src, ckpt, out)}
        assert out1 == {"m7.png": (4, 1000), "m3.png": (5, 2000)}

        batch2 = pd.DataFrame(
            {
                # m7 again (earlier epoch!) -> still suppressed: first-seen is
                # an arrival-order contract, not a global argmin re-compute;
                # m9 is new and must emit.
                "media_ref": ["m7.png", "m9.png"],
                "doc_id": [1, 2],
                "ts_epoch": [500, 3000],
            }
        )
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src)
        rows = _run_media_once(spark, src, ckpt, out)
        assert len(rows) == 3, "exactly one emission per ref, ever"
        all_rows = {r["media_ref"]: (r["first_doc"], r["first_epoch"])
                    for r in rows}
        assert all_rows == {
            "m7.png": (4, 1000),
            "m3.png": (5, 2000),
            "m9.png": (2, 3000),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def _run_gate_once(spark, src_dir: str, ckpt: str, out_dir: str):
    from hdx_metadata_crawler_spark.streaming.stateful import quality_gate_stream

    schema = "source string, keep boolean"
    return _run_stateful_once(
        spark, src_dir, ckpt, out_dir, schema, quality_gate_stream
    )


def test_quality_gate_state_survives_across_runs(spark):
    """The per-source cumulative keep/drop counters must be restored from
    the checkpointed state store on restart: run 2's emitted rows report
    run-1 + run-2 TOTALS, and the circuit-breaker trips exactly when the
    cumulative (not per-batch) counters cross the rule."""
    from hdx_metadata_crawler_spark.streaming.stateful import (
        TRIP_KEEP_BP_FLOOR,
        TRIP_MIN_DOCS,
    )

    src = tempfile.mkdtemp(prefix="qgate_src_")
    ckpt = tempfile.mkdtemp(prefix="qgate_ckpt_")
    out = tempfile.mkdtemp(prefix="qgate_out_")
    try:
        # run 1: srcA sends 15 docs, 12 keep (80%) — below TRIP_MIN_DOCS,
        # cannot trip yet regardless of rate.  srcB sends 15 docs, all drop.
        batch1 = pd.DataFrame(
            {
                "source": ["srcA"] * 15 + ["srcB"] * 15,
                "keep": [True] * 12 + [False] * 3 + [False] * 15,
            }
        )
        spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(src)
        out1 = {r["source"]: r for r in _run_gate_once(spark, src, ckpt, out)}
        assert out1["srcA"]["n_docs"] == 15 and out1["srcA"]["n_keep"] == 12
        assert out1["srcB"]["n_docs"] == 15 and out1["srcB"]["n_keep"] == 0
        assert not out1["srcA"]["tripped"], "under the doc floor — no verdict"
        assert not out1["srcB"]["tripped"], "under the doc floor — no verdict"

        # run 2 (restart, same checkpoint): 10 more docs each.  srcA stays
        # healthy (cumulative 20/25 = 8000 bp); srcB crosses TRIP_MIN_DOCS
        # with cumulative 2/25 = 800 bp and MUST trip — but only because
        # run-1 counters were restored (its run-2 batch alone is 2/10).
        batch2 = pd.DataFrame(
            {
                "source": ["srcA"] * 10 + ["srcB"] * 10,
                "keep": [True] * 8 + [False] * 2 + [True] * 2 + [False] * 8,
            }
        )
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src)
        rows = _run_gate_once(spark, src, ckpt, out)
        # parquet sink accumulates: pick each source's highest-n_docs row
        latest = {}
        for r in rows:
            if r["source"] not in latest or r["n_docs"] > latest[r["source"]]["n_docs"]:
                latest[r["source"]] = r
        a, b = latest["srcA"], latest["srcB"]
        assert (a["n_docs"], a["n_keep"], a["keep_bp"]) == (25, 20, 8000)
        assert (b["n_docs"], b["n_keep"], b["keep_bp"]) == (25, 2, 800)
        assert not a["tripped"]
        assert b["tripped"], (
            f"cumulative 800 bp over {TRIP_MIN_DOCS}+ docs must trip "
            f"(floor {TRIP_KEEP_BP_FLOOR})"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming near-dup ingestion gate
# ---------------------------------------------------------------------------

_ND_SCHEMA = "doc_id long, simhash long, chunk_idx long, chunk_val long"


def _chunk_rows(doc_id: int, fp: int):
    return [
        {
            "doc_id": doc_id,
            "simhash": fp,
            "chunk_idx": c,
            "chunk_val": (fp >> (16 * c)) & 0xFFFF,
        }
        for c in range(4)
    ]


def _run_ndgate_once(spark, src_dir: str, ckpt: str, out_dir: str):
    from hdx_metadata_crawler_spark.streaming.stateful import neardup_gate_stream

    return _run_stateful_once(
        spark, src_dir, ckpt, out_dir, _ND_SCHEMA, neardup_gate_stream
    )


def test_neardup_gate_state_survives_across_runs(spark):
    """Run-2 docs must be verified against run-1 fingerprints restored
    from the checkpointed state store: doc 4 (hamming 1 from doc 1,
    hamming 1 from doc 2) emits BOTH partners although neither arrived in
    its own run."""
    base = 0x0BCDEF0123456789
    fp_a = base                      # doc 1
    fp_b = base ^ 0b101              # doc 2: hamming 2 from A -> near-dup
    fp_c = base ^ ((1 << 16) | (1 << 32) | (1 << 48) | (1 << 59))
    # doc 3: one flipped bit in each chunk -> hamming 4 from A, never a dup
    fp_d = base ^ 0b001              # doc 4: hamming 1 from A, 1 from B

    src = tempfile.mkdtemp(prefix="ndgate_src_")
    ckpt = tempfile.mkdtemp(prefix="ndgate_ckpt_")
    out = tempfile.mkdtemp(prefix="ndgate_out_")
    try:
        batch1 = pd.DataFrame(
            _chunk_rows(1, fp_a) + _chunk_rows(2, fp_b) + _chunk_rows(3, fp_c)
        )
        spark.createDataFrame(batch1).coalesce(1).write.mode("append").parquet(src)
        out1 = {(r["doc_id"], r["partner_id"]) for r in _run_ndgate_once(spark, src, ckpt, out)}
        assert out1 == {(2, 1)}  # B caught against A; C clean

        batch2 = pd.DataFrame(_chunk_rows(4, fp_d))
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(src)
        out2 = {(r["doc_id"], r["partner_id"]) for r in _run_ndgate_once(spark, src, ckpt, out)}
        # parquet sink accumulates run-1 rows; run 2 adds BOTH partners of
        # doc 4 — provable only if run-1 state was restored
        assert out2 == {(2, 1), (4, 1), (4, 2)}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_neardup_gate_credits_larger_doc_id_across_batches(spark):
    """A later batch may carry a SMALLER doc_id than a near-dup already in
    state.  The pair is still (doc_id = max, partner_id = min): the oracle
    orders arrival by doc_id, so the larger id is the one suppressed, and
    per-doc counts do not depend on how the stream was split into batches."""
    base = 0x0BCDEF0123456789
    src = tempfile.mkdtemp(prefix="ndgate_src_")
    ckpt = tempfile.mkdtemp(prefix="ndgate_ckpt_")
    out = tempfile.mkdtemp(prefix="ndgate_out_")
    try:
        spark.createDataFrame(pd.DataFrame(_chunk_rows(5, base))).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert _run_ndgate_once(spark, src, ckpt, out) == []

        # doc 3 arrives after doc 5, hamming 1 from it
        spark.createDataFrame(pd.DataFrame(_chunk_rows(3, base ^ 0b1))).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        got = {(r["doc_id"], r["partner_id"]) for r in _run_ndgate_once(spark, src, ckpt, out)}
        assert got == {(5, 3)}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_neardup_gate_matches_batch_pair_tier(spark):
    """On the real corpus the gate's suppression set must equal the batch
    simhash tier's: suppressed == {id_b of some hamming<=3 pair} (first
    arrival by doc_id survives, every later member is flagged)."""
    from hdx_metadata_crawler_spark.operators import dedup
    from hdx_metadata_crawler_spark.plans.queries_streaming import (
        stream_neardup_gate,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]
        for r in stream_neardup_gate(spark, sf).collect()
        if r["suppressed"]
    }
    d = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = dedup.simhash_hamming_pairs(
        d, "doc_id", "text", max_distance=3, hash_fn=dedup.md5_hash60
    ).collect()
    expect = {r["id_b"] for r in pairs}
    assert got == expect
    assert expect, "corpus must contain near-dups or the test is vacuous"
