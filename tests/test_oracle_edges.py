"""Edge-input parity fixtures for divergences found in the round-3 review:
cases the driver's sf corpora never exercise (negative sums, NULL / empty
text) run the REGISTERED query and its REGISTERED oracle on a fixture dir
and require exact agreement."""

from __future__ import annotations

import datetime
import os
import sys

import duckdb
import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402


def _parity(spark, tmp_path, name, round_floats=4):
    out = entry.queries()[name](spark, str(tmp_path))
    cols = sorted(out.columns)

    def norm(rows):
        o = []
        for r in rows:
            vals = []
            for c in cols:
                v = r[c]
                if isinstance(v, float):
                    v = round(v, round_floats)
                vals.append(v)
            o.append(tuple(vals))
        return sorted(o, key=lambda t: tuple(str(x) for x in t))

    spark_rows = norm([row.asDict() for row in out.collect()])
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        p = tmp_path / f"{t}.parquet"
        if p.exists():
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{p}/*.parquet')"
            )
    orc = con.sql(entry.oracle_sql()[name])
    oracle_rows = norm([dict(zip(orc.columns, row)) for row in orc.fetchall()])
    assert spark_rows == oracle_rows


def test_events_hourly_negative_sums_parity(spark, tmp_path):
    """pmod-floor vs //-truncate diverged on negative hourly sums (e.g.
    x=-26598, d=4: -6650 vs -6649); both sides now truncate."""
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    vals = [-1.23, -0.10, -5.55, 2.50, -0.005, 0.015, -99.99]
    for i, v in enumerate(vals):
        rows.append((i, base + datetime.timedelta(minutes=7 * i), i % 3,
                     f"t{i % 2}", float(v), "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    _parity(spark, tmp_path, "events_hourly")


def test_media_features_null_and_empty_text_parity(spark, tmp_path):
    """NULL text crashed extract_features (len(None)); empty text gave
    byte_sum_mod 0 vs oracle NULL.  Both are pinned: NULL==''
    and the empty-payload checksum is 0 on both sides."""
    rows = [
        (0, None, "src1", "en", 0),
        (1, "", "src2", "en", 0),
        (2, "abc def", "src1", "en", 7),
        (3, "x" * 50, "src3", "fr", 50),
        (4, "short", "src1", "en", 5),
        (5, "media payload bytes", "src2", "en", 19),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    _parity(spark, tmp_path, "media_features")
    _parity(spark, tmp_path, "frame_offsets")


def test_ngram_jaccard_null_text_parity(spark, tmp_path):
    """A NULL-text document must behave exactly like an empty one in BOTH
    engines (round-3 review: Spark folded NULL to [''] while the oracle's
    array_to_string yielded [NULL] — one NULL row silently diverged every
    sketch oracle before the coalesce guards)."""
    rows = [
        (0, None, "src1", "en", 0),
        (1, "", "src2", "en", 0),
        (2, "alpha beta gamma delta epsilon", "src1", "en", 30),
        (3, "alpha beta gamma delta epsilon", "src3", "en", 30),
        (4, "totally different words here now", "src1", "en", 32),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    _parity(spark, tmp_path, "ngram_jaccard_pairs")
    _parity(spark, tmp_path, "minhash_lsh_dedup")
    _parity(spark, tmp_path, "simhash_fingerprints")


def test_cosine_gate_band_parity(spark, tmp_path):
    """A pair whose raw cosine sits in [t - 0.00005, t) rounds up to t at
    4 dp.  The kernels gate on the 4-dp value, so the oracles must too, or
    Spark keeps the pair and DuckDB drops it.  One pair just under the
    sweep's 0.30 floor, one just under the 0.40 near-dup threshold (the
    second pair shares an LSH bucket, so cosine_neardup_lsh scores it)."""
    dim = 64
    basis = np.eye(dim)
    vecs = []
    for i, cos in enumerate((0.29997, 0.39997)):
        a, b = basis[4 * i], basis[4 * i + 1]
        vecs += [a, cos * a + np.sqrt(1.0 - cos * cos) * b]
    vecs = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for i, t in enumerate((0.30, 0.40)):
        cos = float(unit[2 * i] @ unit[2 * i + 1])
        assert t - 0.00005 <= cos < t, cos
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    _parity(spark, tmp_path, "neardup_threshold_sweep")
    _parity(spark, tmp_path, "cosine_neardup_exact")
    _parity(spark, tmp_path, "cosine_neardup_lsh")
    lsh = entry.queries()["cosine_neardup_lsh"](spark, str(tmp_path)).collect()
    assert [(r["id_a"], r["id_b"]) for r in lsh] == [(2, 3)]
