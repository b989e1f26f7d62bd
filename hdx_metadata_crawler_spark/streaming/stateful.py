"""Custom stateful streaming operator: first-seen dedup suppression via
``applyInPandasWithState``.

The crawl engine's seen-set is batch-iterative (frontier rounds); this is the
same dedup-state concept expressed as a TRUE Structured Streaming stateful
operator — per-key state lives in the checkpointed state store, survives
across micro-batches AND across restarts, and suppresses any value already
emitted in an earlier batch.  This is the ``applyInPandasWithState`` shape a
100 TB event pipeline uses for custom dedup / sessionization the built-in
``dropDuplicates``-with-watermark cannot express (here: emit the FIRST full
row per (key, value), not just drop later ones; arbitrary state payloads
follow the same pattern).

State schema: one array<string> of seen values per key (in production the
per-key set is bounded by a TTL timeout — GroupStateTimeout.ProcessingTime —
exactly like the bloom partitions' eviction story; NoTimeout here keeps the
sandbox test deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

OUTPUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts timestamp, value double"
)
STATE_SCHEMA = "seen array<string>"


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen: set[str] = set(state.get[0]) if state.exists else set()
    out: list[dict[str, Any]] = []
    # Materialize ALL of this key's Arrow chunks before sorting: a key whose
    # batch exceeds arrow.maxRecordsPerBatch arrives as MULTIPLE pdfs, and
    # sorting each chunk independently would emit the wrong 'first' row
    # whenever the true minimum lives in a later chunk (the (ts, event_id)
    # total order is the registered oracle's contract).  Per-key batch data
    # is bounded by the micro-batch, not the stream, so this is safe.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        merged = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for row in merged.itertuples(index=False):
            if row.event_type not in seen:
                seen.add(row.event_type)
                out.append(
                    {
                        "user_id": row.user_id,
                        "event_type": row.event_type,
                        "event_id": row.event_id,
                        "ts": row.ts,
                        "value": row.value,
                    }
                )
    # sort on a NULL-proof key: a NULL event_type arrives as None, and
    # sorted({None, 'click'}) raises TypeError INSIDE the state function,
    # failing the whole streaming query (the state just needs a canonical
    # order, not a semantic one)
    state.update((sorted(seen, key=lambda t: (t is None, t)),))
    yield pd.DataFrame(
        out,
        columns=["user_id", "event_type", "event_id", "ts", "value"],
    )


MEDIA_OUTPUT_SCHEMA = "media_ref string, first_doc long, first_epoch long"
MEDIA_STATE_SCHEMA = "emitted boolean"


def _media_first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cols = ["media_ref", "first_doc", "first_epoch"]
    if state.exists:
        # ref already emitted in an earlier micro-batch — suppress
        for _ in pdfs:
            pass
        yield pd.DataFrame(columns=cols)
        return
    chunks = [pdf for pdf in pdfs if len(pdf)]
    out: list[dict[str, Any]] = []
    if chunks:
        # all of this key's chunks before picking the minimum (same
        # multi-chunk hazard as _first_seen_fn above)
        merged = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_epoch", "doc_id"]
        )
        first = merged.iloc[0]
        out.append(
            {
                "media_ref": key[0],
                # pd.isna guard: int(None/NaN) raises inside the state fn,
                # failing the whole query on one malformed occurrence row
                "first_doc": int(first.doc_id) if pd.notna(first.doc_id) else -1,
                "first_epoch": (
                    int(first.ts_epoch) if pd.notna(first.ts_epoch) else -1
                ),
            }
        )
        state.update((True,))
    yield pd.DataFrame(out, columns=cols)


def media_first_seen_stream(occurrences: DataFrame) -> DataFrame:
    """Streaming media-asset dedup: occurrences(media_ref, doc_id, ts_epoch)
    readStream -> exactly one row per ref, carrying its earliest
    (arrival, doc) occurrence.  The second-tier-fetch frontier expressed as
    TRUE streaming state: the per-ref 'already scheduled' bit lives in the
    checkpointed state store, so a ref re-surfacing in any later micro-batch
    is suppressed without re-reading history.  Shuffle key = media_ref; state
    is one boolean per distinct ref (TTL-bounded in production, like the
    bloom partitions' eviction story)."""
    return occurrences.groupBy("media_ref").applyInPandasWithState(
        _media_first_seen_fn,
        outputStructType=MEDIA_OUTPUT_SCHEMA,
        stateStructType=MEDIA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def first_seen_dedup_stream(events: DataFrame) -> DataFrame:
    """events readStream -> first row per (user_id, event_type), stateful
    across micro-batches.  Shuffle key = user_id (the state key); state store
    I/O is per-key, never a global structure."""
    return events.groupBy("user_id").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming quality gate: per-source cumulative Gopher keep/drop counters
# ---------------------------------------------------------------------------

QUALITY_OUTPUT_SCHEMA = (
    "source string, n_docs long, n_keep long, keep_bp long, tripped boolean"
)
QUALITY_STATE_SCHEMA = "n_docs long, n_keep long"

# Circuit-breaker rule: a source trips once it has delivered enough docs to
# judge (TRIP_MIN_DOCS) and its cumulative keep rate sits below the floor.
# Shared constants — the registry oracle interpolates THESE (never retyped).
TRIP_MIN_DOCS = 20
TRIP_KEEP_BP_FLOOR = 3500


def _quality_gate_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_docs, n_keep = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        if len(pdf):
            n_docs += int(len(pdf))
            # keep arrives pre-computed JVM-side; treat NULL as drop so one
            # malformed row can never fail the whole streaming query
            n_keep += int(pdf["keep"].fillna(False).astype(bool).sum())
    state.update((n_docs, n_keep))
    keep_bp = (n_keep * 10000) // n_docs if n_docs else 0
    yield pd.DataFrame(
        [
            {
                "source": key[0],
                "n_docs": n_docs,
                "n_keep": n_keep,
                "keep_bp": keep_bp,
                "tripped": bool(
                    n_docs >= TRIP_MIN_DOCS and keep_bp < TRIP_KEEP_BP_FLOOR
                ),
            }
        ],
        columns=["source", "n_docs", "n_keep", "keep_bp", "tripped"],
    )


def quality_gate_stream(flagged: DataFrame) -> DataFrame:
    """Streaming Gopher quality gate: flagged(source, keep) readStream ->
    one cumulative row per source per micro-batch that contained it, with
    running keep/drop totals and a circuit-breaker verdict.

    This is the live form of ``quality_keep_rates``: the per-doc Gopher
    verdict is pure column algebra computed in the map stage BEFORE this
    operator (shared builders in operators/curation.py — the stream and the
    batch report can never drift), so the stateful shuffle carries only
    (source, boolean) and the checkpointed state is two longs per source.
    A source whose cumulative keep rate collapses below the floor trips the
    gate in the same micro-batch its counters cross the rule — the signal
    an ingest pipeline uses to quarantine a feed, without re-scanning
    history (state survives micro-batches AND restarts; see the restart
    test).  Shuffle key = source; state size is O(#sources), not O(docs)."""
    return flagged.groupBy("source").applyInPandasWithState(
        _quality_gate_fn,
        outputStructType=QUALITY_OUTPUT_SCHEMA,
        stateStructType=QUALITY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming near-dup ingestion gate: per-chunk-bucket fingerprint state
# ---------------------------------------------------------------------------

NEARDUP_OUTPUT_SCHEMA = "doc_id long, partner_id long"
NEARDUP_STATE_SCHEMA = "ids array<long>, fps array<long>"

# Hamming radius of the gate — MUST stay the simhash tier's distance so the
# pigeonhole routing (max_distance + 1 chunks) remains exact.
NEARDUP_MAX_DISTANCE = 3


# 8-bit popcount lookup — vectorizes the per-row hamming verify (numpy
# 1.x has no bitwise_count; a hot bucket otherwise costs a python-int
# popcount per (arrival, state-member) pair, the fn's measured hot path)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
_MASK64 = (1 << 64) - 1


def _hamming_vec(fps_u64: "np.ndarray", fp: int) -> "np.ndarray":
    x = np.bitwise_xor(fps_u64, np.uint64(fp & _MASK64))
    return _POP8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)


def _neardup_gate_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    ids: list[int]
    fps: list[int]
    ids, fps = (
        (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
    )
    known = set(ids)
    # Materialize every Arrow chunk before sorting (same multi-chunk hazard
    # as _first_seen_fn): the canonical arrival order is doc_id, the
    # registered oracle's contract.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    out: list[dict[str, Any]] = []
    if chunks:
        merged = (
            pd.concat(chunks, ignore_index=True)
            .sort_values("doc_id")
            .drop_duplicates("doc_id")
        )
        # replayed doc_ids (restart re-delivery) were already judged
        merged = merged[~merged["doc_id"].isin(known)]
        b_ids = merged["doc_id"].to_numpy(dtype=np.int64)
        b_fps_i = [int(v) for v in merged["simhash"]]
        b_fps = np.array(
            [f & _MASK64 for f in b_fps_i], dtype=np.uint64
        )
        state_ids = np.array(ids, dtype=np.int64)
        state_fps = np.array([f & _MASK64 for f in fps], dtype=np.uint64)
        for k in range(len(b_ids)):
            doc_id = int(b_ids[k])
            fp = b_fps_i[k]
            if len(state_ids):
                hits = state_ids[
                    _hamming_vec(state_fps, fp) <= NEARDUP_MAX_DISTANCE
                ]
                # an earlier batch may hold a LARGER doc_id: orient every
                # pair (max, min) so the later doc_id is credited, as the
                # oracle's arrival order by doc_id does
                out.extend(
                    {"doc_id": max(doc_id, int(p)), "partner_id": min(doc_id, int(p))}
                    for p in hits
                )
            if k:
                hits = b_ids[:k][
                    _hamming_vec(b_fps[:k], fp) <= NEARDUP_MAX_DISTANCE
                ]
                out.extend(
                    {"doc_id": doc_id, "partner_id": int(p)} for p in hits
                )
        ids.extend(int(i) for i in b_ids)
        fps.extend(b_fps_i)
    state.update((ids, fps))
    yield pd.DataFrame(out, columns=["doc_id", "partner_id"])


def neardup_gate_stream(chunk_rows: DataFrame) -> DataFrame:
    """Streaming NEAR-dup ingestion gate: the live form of
    ``incremental_dedup``'s simhash tier.  Input rows are
    (doc_id, simhash, chunk_idx, chunk_val) — fingerprints computed
    JVM-side in the map stage (``operators/dedup.simhash64``) and routed
    by ``simhash_chunk_rows``'s pigeonhole chunks, which is EXACT for
    hamming <= NEARDUP_MAX_DISTANCE: any such pair is bit-identical in at
    least one of the 4 chunks, so grouping by (chunk_idx, chunk_val)
    never drops a true near-dup.

    Each bucket's checkpointed state holds the (doc_id, fingerprint) list
    seen so far; an arriving doc is verified with the exact popcount
    against its bucket's state (bucket occupancy bounds the compare cost,
    the streaming analogue of the batch tier's bucketed join) and emits
    one (doc_id, partner_id) row per near-duplicate, oriented (max, min)
    so the larger doc_id is credited even when a later batch carries the
    smaller one — dedup across the 4 buckets a pair may share is a
    distinct() downstream.  Replayed doc_ids are idempotently skipped.
    State size is O(docs) total but sharded per bucket — the shuffle key is
    (chunk_idx, chunk_val), never the corpus."""
    return chunk_rows.groupBy("chunk_idx", "chunk_val").applyInPandasWithState(
        _neardup_gate_fn,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
