"""Dedup queries over the `documents` corpus (SURVEY A7/A8 + engine-new
MinHash-LSH / SimHash for training-data curation)."""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, sampling
from ..sources.tables import load_table
from .registry import register


@register(
    "exact_dedup_groups",
    """
    SELECT lang, n_chars, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents
    GROUP BY lang, n_chars
    """,
    doc="Exact dedup by key with first-seen keep policy (SURVEY A7/A8, "
        "07…ipynb first-seen maps).",
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, ["lang", "n_chars"], "doc_id")


@register(
    "exact_text_dedup",
    f"""
    SELECT {dedup.MD5_HASH60_SQL.format(x="coalesce(text, '')")} AS text_digest,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY text_digest
    """,
    doc="Exact CONTENT dedup — the wide-key path of exact_dedup: the "
        "grouping key is a 60-bit portable md5 digest of the full document "
        "text computed in the map stage, so the one hash shuffle carries "
        "8 bytes per row instead of the document (operators/dedup.py "
        "exact_dedup digest_text=True).  keep_id is the first-seen (min "
        "doc_id) survivor a pipeline joins back to fetch the text.",
)
def exact_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, ["text"], "doc_id", digest_text=True).select(
        F.col("key_digest").alias("text_digest"), "keep_id", "n_dups"
    )


def _shingle_idx_cte(src: str = "documents") -> str:
    """The (doc, shingle, shingle-digest) inverted-index CTE — single
    source shared by the Jaccard-join oracle and hot_shingle_report, so
    the shingle rule (3-gram, short-doc fallback) can never drift."""
    return f"""idx AS (
  SELECT _id, shingle, {dedup.MD5_HASH60_SQL.format(x='shingle')} AS sh_h
  FROM (
    SELECT doc_id AS _id, unnest(shingles) AS shingle
    FROM (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM {src})
    )
  )
)"""


_JACCARD_ORACLE = f"""
WITH {_shingle_idx_cte()},
sizes AS (SELECT _id, count(*) AS n_sh FROM idx GROUP BY _id),
inter AS (
  SELECT a._id AS id_a, b._id AS id_b, count(*) AS n_inter
  FROM idx a JOIN idx b ON a.sh_h = b.sh_h AND a._id < b._id
  GROUP BY a._id, b._id
)
SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa._id
JOIN sizes sb ON inter.id_b = sb._id
WHERE round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.2
"""


@register(
    "ngram_jaccard_pairs",
    _JACCARD_ORACLE,
    doc="Exact 3-gram Jaccard similarity join via shingle inverted index "
        "(engine-new; verifies the MinHash-LSH path).",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)


def _minhash_ctes(src: str = "documents") -> str:
    """MinHash(32) + banded LSH(8x4) CTE chain (prefixed ``mh_``), shared
    by ``minhash_lsh_dedup`` and the consensus-components oracle — ends in
    ``mh_scored(id_a, id_b, est_jaccard)``.  Same expressions the round-2
    oracle conversion proved hash-identical to the Spark operators."""
    sig_terms = ', '.join(
        "list_min(list_transform(bh, "
        f"h -> (h * {dedup.affine_consts(i)[0]} + {dedup.affine_consts(i)[1]}) % {dedup.MINHASH_PRIME}))"
        for i in range(32))
    bucket = dedup.MD5_HASH60_SQL.format(x='''
               CAST(sig[b*4+1] AS VARCHAR) || ',' || CAST(sig[b*4+2] AS VARCHAR)
               || ',' || CAST(sig[b*4+3] AS VARCHAR) || ',' || CAST(sig[b*4+4] AS VARCHAR)
             ''')
    return f"""
    mh_sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM {src})
    ),
    mh_bases AS (
      SELECT doc_id,
             list_transform(shingles,
                            s -> {dedup.MD5_BASE28_SQL.format(x='s')}) AS bh
      FROM mh_sh
    ),
    mh_sigs AS (
      SELECT doc_id, [{sig_terms}] AS sig
      FROM mh_bases
    ),
    mh_banded AS (
      SELECT doc_id, b, {bucket} AS bucket
      FROM mh_sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
    ),
    mh_cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM mh_banded x JOIN mh_banded y
        ON x.b = y.b AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ),
    mh_scored AS (
      SELECT id_a, id_b,
             round(list_sum(list_transform(range(1, 33),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) / 32.0,
                   4) AS est_jaccard
      FROM mh_cands
      JOIN mh_sigs a ON mh_cands.id_a = a.doc_id
      JOIN mh_sigs b ON mh_cands.id_b = b.doc_id
    )"""


@register(
    "minhash_lsh_dedup",
    f"""
    WITH {_minhash_ctes()}
    SELECT id_a, id_b, est_jaccard FROM mh_scored
    """,
    doc="MinHash(32) + banded LSH(8×4) near-dup candidates with estimated "
        "Jaccard — the 100 TB-scale dedup path (bucket-join, never "
        "all-pairs). Portable-hash form: ONE md5 base digest per shingle + "
        "32 affine universal-hash mins (no per-seed digests), so DuckDB "
        "recomputes the signatures, band buckets, candidate set AND "
        "estimates independently (round-2 no_oracle row converted; "
        "production keeps seeded xxhash64 — operators/dedup.py hash "
        "params). Recall vs the exact n-gram Jaccard join remains asserted "
        "in tests/test_dedup.py.",
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared memoized signature frame (already lineage-free via its own
    # eager localCheckpoint) — no per-query cache/unpersist needed, and a
    # suite that also runs neardup_consensus / minhash_accuracy_report
    # pays the signature scan once
    sig = _minhash_sig_frame(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(
        sig, bands=8, rows_per_band=4, num_hashes=32,
        bucket_hash_fn=dedup.md5_hash60,
    )
    return dedup.minhash_jaccard_estimate(sig, pairs)


# list_dot_product form, same shape as every other cosine oracle (the
# round-3 review retired this file's unnest/self-join variant: ~3x the SQL
# and N^2/2 x 64 intermediate rows for the identical result).
_COSINE_NEARDUP_ORACLE = f"""
WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {dedup.COSINE_SQL.format(a="a.ve", b="b.ve")} AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {dedup.COSINE_SQL.format(a="a.ve", b="b.ve")} >= 0.40
"""


@register(
    "cosine_neardup_exact",
    _COSINE_NEARDUP_ORACLE,
    doc="Embedding-cosine near-duplicate pairs (threshold 0.40) — the exact "
        "baseline for embedding dedup (engine-new training-data op): "
        "self-join on id_a < id_b, zip_with dot product, JVM-side. The "
        "LSH-bucketed variant (knn_lsh machinery) is the 100 TB path; this "
        "exact form is the recall oracle.",
)
def cosine_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pairs_block

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_block(e, threshold=0.40)


def _neardup_lsh_oracle(threshold: float = 0.40) -> str:
    from ..operators.dedup import COSINE_SQL
    from .queries_similarity import _lsh_sketch_ctes

    cos = COSINE_SQL.format(a="va", b="vb")
    return f"""
    WITH {_lsh_sketch_ctes()},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, a.ve AS va,
                      b.vec_id AS id_b, b.ve AS vb
      FROM bt a JOIN bt b ON a.t = b.t AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {cos} AS cos_sim
    FROM cand
    WHERE {cos} >= {threshold}
    """


@register(
    "cosine_neardup_lsh",
    _neardup_lsh_oracle(),
    doc="Embedding-cosine near-duplicate pairs (threshold 0.40) via the "
        "LSH prefilter — the 100 TB path cosine_neardup_exact's docstring "
        "promises: (table, bucket) bucket-join candidate generation "
        "(constant fan-out per vector, never all-pairs), exact cosine only "
        "within colliding buckets. Output is a strict subset of the exact "
        "all-pairs result (~0.97 candidate recall at 12×3; subset + recall "
        "floor asserted in tests/test_similarity.py). Oracle-checked: the "
        "seed-derived hyperplanes are inlined as SQL literals and DuckDB "
        "independently recomputes buckets, candidates and cosines.",
)
def cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_neardup_lsh as _op

    e = load_table(spark, sf_dir, "embeddings")
    return _op(e, threshold=0.40, dim=64)


def _simhash_oracle_cte(src: str = "documents") -> str:
    """Fingerprint CTE over the portable md5-derived 60-bit token hash —
    DuckDB's hex cast equals Spark's conv(substring(md5,1,15),16,10).
    ``src`` is any relation exposing (doc_id, text) — the curation funnel
    passes its survivor CTE so the closure runs over the filtered set."""
    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(60)
    )
    return f"""
    toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'), t -> t <> ''))
               AS toks
      FROM {src}),
    hashes AS (
      SELECT doc_id,
             list_transform(toks, t -> {dedup.MD5_HASH60_SQL.format(x='t')})
               AS hs
      FROM toks),
    fps AS (
      SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
      FROM hashes)
    """


@register(
    "simhash_fingerprints",
    f"WITH {_simhash_oracle_cte()} SELECT doc_id, simhash FROM fps",
    doc="64-bit SimHash fingerprint per document (engine-new near-dup "
        "sketch), keyed on the PORTABLE md5-derived 60-bit token hash so "
        "DuckDB can recompute every fingerprint bit-for-bit (round-2 "
        "no_oracle row converted). The production operator default stays "
        "xxhash64 (operators/dedup.py simhash64 hash_fn param — the bit "
        "algebra is hash-agnostic); hamming-recall equivalence of the "
        "bucketed pair path is additionally asserted in tests/test_dedup.py.",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup.simhash64(d, "doc_id", "text", hash_fn=dedup.md5_hash60).select(
        F.col("_id").alias("doc_id"), "simhash"
    )


@register(
    "simhash_hamming_pairs",
    f"""
    WITH {_simhash_oracle_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup PAIRS at hamming <= 3 via pigeonhole chunk "
        "bucketing (4 x 16-bit chunks: a pair within distance 3 must share "
        "one exact chunk; 16-bit chunks measured fewer hot-bucket "
        "candidates than 15-bit over the 60 effective hash bits — "
        "correlated fingerprint bits, see operators/dedup.py) — shuffle on "
        "(chunk_idx, chunk_value), constant "
        "fan-out 4 per doc, never all-pairs; exact bit_count(xor) verify "
        "inside buckets. Keyed on the portable md5 hash so the DuckDB "
        "oracle can brute-force ALL pairs independently — the value-hash "
        "match PROVES the pigeonhole path's exact recall on the corpus "
        "(round-2 no_oracle row converted); production keeps xxhash64.",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # this query IS the pair tier the CC family memoizes — serve the shared
    # frame (identical computation, identical schema incl. hamming; cold
    # standalone builds it exactly as before)
    return _simhash_pair_tier(spark, sf_dir)


def _components_oracle_ctes(src: str = "documents") -> str:
    """Transitive-closure CTE chain shared by the cluster/keep-list oracles
    AND the curation funnel (single source of truth per the oracle-parity
    rules): brute-force hamming<=3 pairs over the simhash fingerprints,
    symmetrize, close with a recursive reachability CTE, take min-id per
    node as the component."""
    return f"""{_simhash_oracle_cte(src)},
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION
      SELECT id_b AS a, id_a AS b FROM prs
    ),
    reach AS (
      SELECT a AS id, a AS r FROM sym
      UNION
      SELECT reach.id, sym.b AS r FROM reach JOIN sym ON sym.a = reach.r
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id)"""


# Process-level share of the simhash pair tier and its component labels
# (round 5): neardup_components, dedup_keep_list and neardup_consensus each
# derive from the SAME deterministic pair frame, and the first two from the
# same CC labels — a process that runs the whole board (bench, the grading
# driver, verify_local) used to pay the pair tier up to three times and the
# CC loop twice for bit-identical results.  Entries are localCheckpoint- or
# checkpoint-backed (lineage-free) and keyed by (frame kind, sf_dir) with
# the OWNING SESSION stored alongside: a replaced/stopped session can never
# serve another session's RDDs (identity check, not id()).  Each query
# remains independently correct standalone — a fresh process recomputes
# from scratch; memoization only collapses repeated identical work.
_CC_SHARE_LOCK = threading.Lock()
_CC_SHARE: dict = {}


def _source_stamp(sf_dir: str, table: str = "documents") -> tuple:
    """Freshness stamp of a source table under sf_dir: (mtime_ns, size)
    of the parquet file, or of every direct child for a directory layout.
    Part of the memo key so a process that rewrites the data under the same
    path never gets served the previous corpus's pair/label frames."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in os.scandir(path)
                )
            )
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def _cc_share(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    key = (kind, sf_dir, _source_stamp(sf_dir))
    with _CC_SHARE_LOCK:
        hit = _CC_SHARE.get(key)
        if hit is not None and hit[0] is spark:
            return hit[1]
    df = build()
    with _CC_SHARE_LOCK:
        # one live entry per (kind, sf_dir): a stale same-path entry would
        # otherwise pin its checkpointed RDD blocks for the process lifetime
        for k in [k for k in _CC_SHARE if k[:2] == key[:2] and k != key]:
            del _CC_SHARE[k]
        _CC_SHARE[key] = (spark, df)
    return df


def _simhash_pair_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized simhash hamming<=3 pair frame (id_a, id_b, hamming)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents", fan_out=True)
        return dedup.simhash_hamming_pairs(
            d, "doc_id", "text", max_distance=3, hash_fn=dedup.md5_hash60
        ).localCheckpoint(eager=True)

    return _cc_share(spark, sf_dir, "sh_pairs", build)


def _minhash_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized portable MinHash(32) signature frame (_id, signature),
    shared by minhash_lsh_dedup, neardup_consensus's minhash tier and
    minhash_accuracy_report — the signatures are a pure deterministic
    function of the corpus, so one eager localCheckpoint per process
    serves all three (same ownership/freshness rules as the pair tier;
    see _cc_share).  ~32 longs/doc, so the pinned blocks are corpus-row
    sized, not corpus-byte sized."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents", fan_out=True)
        return dedup.minhash_signatures(
            d, "doc_id", "text", n=3, num_hashes=32,
            base_hash_fn=dedup.md5_base28,
        ).localCheckpoint(eager=True)

    return _cc_share(spark, sf_dir, "mh_sigs", build)


def _simhash_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark side of the cluster/keep-list queries: simhash pair tier
    -> connected-components labels (id, comp).  Both frames are memoized
    per process (see _cc_share)."""
    return _cc_share(
        spark,
        sf_dir,
        "sh_labels",
        lambda: dedup.connected_components(_simhash_pair_tier(spark, sf_dir)),
    )


@register(
    "neardup_components",
    f"""
    WITH RECURSIVE {_components_oracle_ctes()},
    sizes AS (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id)
    SELECT c.doc_id, c.component_id, s.n_members,
           c.doc_id = c.component_id AS is_canonical
    FROM comp c JOIN sizes s USING (component_id)
    """,
    doc="Near-dup CLUSTERS from the simhash pair tier: connected components "
        "over hamming<=3 pairs via iterative min-label propagation + "
        "pointer jumping (O(log n) rounds, shuffles carry (node, label) "
        "only — operators/dedup.py connected_components), then component "
        "size + canonical-survivor flag (min doc_id). The dedup ladder's "
        "missing last step: pair tiers say a~b and b~c, a keep/drop "
        "decision needs the transitive group {a,b,c} with ONE survivor. "
        "Oracle-checked end-to-end: DuckDB brute-forces the pairs and "
        "closes them with a recursive transitive-closure CTE, so the value "
        "hash proves the distributed propagation reaches the exact "
        "fixpoint (schedule-independent: component_id = min node id).",
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _simhash_component_labels(spark, sf_dir)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        "n_members",
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


# MinHash pairs entering the consensus closure must clear this estimated
# Jaccard (k/32 — exact binary fractions, identical in both engines); raw
# band collisions alone are too noisy to merge clusters.
MH_CONSENSUS_MIN_EST = 0.5


def _mh_consensus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized MinHash consensus pair tier (id_a, id_b at est_jaccard >=
    MH_CONSENSUS_MIN_EST), shared by neardup_consensus and
    dedup_stage_attribution — rides the memoized signature frame, eager
    localCheckpoint cuts the banded candidate join out of every consumer's
    lineage (same ownership/freshness rules as the pair tier)."""

    def build() -> DataFrame:
        sig = _minhash_sig_frame(spark, sf_dir)
        cands = dedup.minhash_lsh_candidates(
            sig, bands=8, rows_per_band=4, num_hashes=32,
            bucket_hash_fn=dedup.md5_hash60,
        )
        return (
            dedup.minhash_jaccard_estimate(sig, cands)
            .filter(F.col("est_jaccard") >= MH_CONSENSUS_MIN_EST)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    return _cc_share(spark, sf_dir, "mh_cons_pairs", build)


def _consensus_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized consensus CC labels (id, comp) over the UNION of the
    simhash and MinHash tiers — neardup_consensus and
    dedup_stage_attribution otherwise each pay the O(log n) CC loop."""
    return _cc_share(
        spark,
        sf_dir,
        "cons_labels",
        lambda: dedup.connected_components(
            _simhash_pair_tier(spark, sf_dir)
            .select("id_a", "id_b")
            .unionByName(_mh_consensus_pairs(spark, sf_dir))
        ),
    )


@register(
    "neardup_consensus",
    f"""
    WITH RECURSIVE {_simhash_oracle_cte('documents')},
    {_minhash_ctes('documents')},
    sh_prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    mh_prs AS (
      SELECT id_a, id_b FROM mh_scored
      WHERE est_jaccard >= {MH_CONSENSUS_MIN_EST}
    ),
    allp AS (
      SELECT id_a, id_b FROM sh_prs
      UNION
      SELECT id_a, id_b FROM mh_prs
    ),
    csym AS (
      SELECT id_a AS a, id_b AS b FROM allp
      UNION
      SELECT id_b AS a, id_a AS b FROM allp
    ),
    creach AS (
      SELECT a AS id, a AS r FROM csym
      UNION
      SELECT creach.id, csym.b AS r FROM creach JOIN csym ON csym.a = creach.r
    ),
    ccomp AS (SELECT id AS doc_id, min(r) AS component_id FROM creach GROUP BY id),
    csizes AS (SELECT component_id, count(*) AS n_members FROM ccomp GROUP BY component_id)
    SELECT c.doc_id, c.component_id, s.n_members,
           c.doc_id = c.component_id AS is_canonical
    FROM ccomp c JOIN csizes s USING (component_id)
    """,
    doc="Multi-sketch CONSENSUS clusters: the transitive closure over the "
        "UNION of the simhash tier (hamming<=3 pairs) and the MinHash-LSH "
        "tier (band candidates at estimated Jaccard >= 0.5) — the two "
        "sketches catch different near-dup shapes (bit-flip similarity vs "
        "shingle-set overlap), and a production ladder merges both before "
        "choosing survivors. Pair generation stays bucketed on both tiers "
        "(never all-pairs); the union is edge-sized and feeds the same "
        "O(log n) min-label + pointer-jump loop. Oracle: DuckDB recomputes "
        "BOTH sketch tiers from the shared CTE builders and closes the "
        "union with a recursive reachability CTE — the value hash proves "
        "the merged fixpoint exactly.",
)
def neardup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized union-tier CC labels (shared with dedup_stage_attribution);
    # the mh tier rides the memoized signature frame and its checkpoint
    # keeps the banded candidate join out of the CC loop's lineage
    labels = _consensus_component_labels(spark, sf_dir)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        "n_members",
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


@register(
    "dedup_keep_list",
    f"""
    WITH RECURSIVE {_components_oracle_ctes()},
    dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
    SELECT d.doc_id, d.source, d.lang, length(coalesce(d.text, '')) AS text_len
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    doc="The dedup ladder's terminal output — the KEEP LIST: the corpus "
        "minus every non-canonical member of a near-dup cluster (one "
        "survivor per transitive group, the min doc_id).  This is the "
        "operation a training-data pipeline actually runs at 100 TB: "
        "sketch (map-only) -> banded pairs (bucket shuffle) -> components "
        "((node,label)-only iterations) -> one left_anti join back to the "
        "corpus, streamed — no driver materialization anywhere.  Oracle "
        "recomputes the closure brute-force and NOT-IN-filters, so the "
        "value hash pins both the cluster math AND the survivor policy.",
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _simhash_component_labels(spark, sf_dir)
    dropped = labels.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    return d.join(dropped, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        "lang",
        F.length(F.coalesce("text", F.lit(""))).alias("text_len"),
    )


def _repetition_ctes(src: str = "documents") -> str:
    """Per-doc repeated-3-gram CTE chain (prefixed ``rep_``), shared by
    ``doc_repetition_score`` and the curation funnel — ends in
    ``rep(doc_id, n_grams, n_distinct_grams, rep_bp, top_gram_count)``."""
    return f"""
    rep_toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                         t -> t <> '') AS toks
      FROM {src}
    ),
    rep_grams AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        ELSE [coalesce(array_to_string(toks, ' '), '')] END) AS gram
      FROM rep_toks
    ),
    rep_cnts AS (
      SELECT doc_id, {dedup.MD5_HASH60_SQL.format(x='gram')} AS gram_h,
             count(*) AS c
      FROM rep_grams GROUP BY doc_id, gram_h
    ),
    rep AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             count(*) AS n_distinct_grams,
             CAST((sum(c) - count(*)) * 10000 // sum(c) AS BIGINT) AS rep_bp,
             CAST(max(c) AS BIGINT) AS top_gram_count
      FROM rep_cnts GROUP BY doc_id
    )"""


@register(
    "doc_repetition_score",
    f"""
    WITH {_repetition_ctes()}
    SELECT doc_id, n_grams, n_distinct_grams, rep_bp, top_gram_count FROM rep
    """,
    doc="Intra-document repetition scoring over token 3-grams WITH "
        "multiplicity (boilerplate / generator-loop quality filter — the "
        "check a training pipeline runs BEFORE cross-doc dedup, which only "
        "sees distinct shingles). Repeated fraction emitted in exact "
        "integer basis points so both engines agree on halves "
        "(operators/dedup.py repetition_scores).",
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup.repetition_scores(d, "doc_id", "text", n=3).select(
        F.col("_id").alias("doc_id"),
        "n_grams",
        "n_distinct_grams",
        "rep_bp",
        "top_gram_count",
    )


# Deterministic held-out eval split — 1 doc in EVAL_SPLIT_MOD by portable
# md5 ticket. Shared by benchmark_decontamination AND the curation funnel
# (the funnel's heldout stage must be the SAME split the decontamination
# dictionary is built from, or the two stages silently diverge).
EVAL_SPLIT_MOD = 20
EVAL_SPLIT_SQL = (
    f"({dedup.MD5_BASE28_SQL.format(x='CAST(doc_id AS VARCHAR)')}"
    f" % {EVAL_SPLIT_MOD} = 0)"
)


def eval_split_col() -> "F.Column":
    """Spark twin of EVAL_SPLIT_SQL — explicit string cast: md5 over a
    BIGINT would digest the 8-byte binary form in Spark but the rendered
    decimal in DuckDB."""
    return dedup.md5_base28(F.col("doc_id").cast("string")) % EVAL_SPLIT_MOD == 0


def _decontam_ctes(src: str = "documents") -> str:
    """Decontamination CTE chain (prefixed ``dc_``), shared by
    ``benchmark_decontamination`` and the curation funnel — ends in
    ``dc(doc_id, n_shingles, n_overlap, contam_bp, contaminated)`` over
    the NON-eval docs of ``src``."""
    return f"""
    dc_sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 5 THEN
               list_distinct(list_transform(range(1, len(toks) - 3),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3] || ' ' || toks[i+4]))
             ELSE [coalesce(array_to_string(toks, ' '), '')] END AS shingles
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM {src})
    ),
    dc_flagged AS (
      SELECT doc_id, shingles, {EVAL_SPLIT_SQL} AS is_eval
      FROM dc_sh
    ),
    dc_eval_sh AS (
      SELECT DISTINCT shingle FROM (
        SELECT unnest(shingles) AS shingle FROM dc_flagged WHERE is_eval
      ) WHERE shingle <> ''
    ),
    dc_corpus AS (SELECT doc_id, shingles FROM dc_flagged WHERE NOT is_eval),
    dc_idx AS (SELECT doc_id, unnest(shingles) AS shingle FROM dc_corpus),
    dc_hits AS (
      SELECT dc_idx.doc_id, count(*) AS n_overlap
      FROM dc_idx JOIN dc_eval_sh USING (shingle)
      GROUP BY dc_idx.doc_id
    ),
    dc AS (
      SELECT c.doc_id,
             CAST(len(c.shingles) AS BIGINT) AS n_shingles,
             CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(coalesce(h.n_overlap, 0) * 10000 // len(c.shingles) AS BIGINT)
               AS contam_bp,
             coalesce(h.n_overlap, 0) > 0 AS contaminated
      FROM dc_corpus c LEFT JOIN dc_hits h ON c.doc_id = h.doc_id
    )"""


@register(
    "benchmark_decontamination",
    f"""
    WITH {_decontam_ctes()}
    SELECT doc_id, n_shingles, n_overlap, contam_bp, contaminated FROM dc
    """,
    doc="Benchmark decontamination: per corpus doc, distinct word 5-grams "
        "shared with a held-out eval split (portable md5 1-in-20 doc "
        "split), zero-overlap docs included — the leakage worksheet a "
        "training pipeline strips benchmarks with. Eval shingle dictionary "
        "is broadcast (benchmarks are tiny vs a 100 TB corpus); the only "
        "corpus shuffle is the map-side-combined per-doc hit count "
        "(operators/dedup.py ngram_decontaminate).",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    is_eval = eval_split_col()
    out = dedup.ngram_decontaminate(
        d.filter(~is_eval), d.filter(is_eval), "doc_id", "text", n=5
    )
    return out.select(
        F.col("_id").alias("doc_id"),
        "n_shingles",
        "n_overlap",
        "contam_bp",
        "contaminated",
    )


PASSAGE_N = 8
TOP_PASSAGES = 25


@register(
    "duplicate_passages",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {PASSAGE_N - 2}),
                    i -> array_to_string(toks[i:i+{PASSAGE_N - 1}], ' '))) AS passage
      FROM toks WHERE len(toks) >= {PASSAGE_N}
    ),
    hashed AS (
      SELECT doc_id, {dedup.MD5_HASH60_SQL.format(x='passage')} AS p_h, passage
      FROM grams
    ),
    per_doc AS (
      SELECT p_h, doc_id, count(*) AS c FROM hashed GROUP BY p_h, doc_id
    ),
    topk AS (
      SELECT p_h,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(c) AS BIGINT) AS n_occurrences
      FROM per_doc
      GROUP BY p_h
      HAVING count(*) >= 2
      ORDER BY n_docs DESC, n_occurrences DESC, p_h ASC
      LIMIT {TOP_PASSAGES}
    ),
    disp AS (
      SELECT h.p_h, min(h.passage) AS passage
      FROM hashed h JOIN topk USING (p_h)
      GROUP BY h.p_h
    )
    SELECT d.passage, t.n_docs, t.n_occurrences
    FROM topk t JOIN disp d USING (p_h)
    ORDER BY t.n_docs DESC, t.n_occurrences DESC, d.passage ASC
    """,
    doc="Cross-document repeated passages: word 8-grams WITH positions "
        "collapsed to (passage, doc) counts, kept when shared by >= 2 "
        "distinct docs, top-25 by spread — the memorization-risk / "
        "boilerplate diagnostic that doc-level sketches cannot see "
        "(two mostly-different docs sharing one verbatim paragraph). "
        "Digest-first plan (round 5): passages are projected to 60-bit "
        "portable md5 digests in the map stage, so BOTH count shuffles "
        "carry (8-byte digest, doc) rows and never text; the 25 survivor "
        "digests are broadcast back against a second scan to recover "
        "display text (min(passage) per digest — ASCII-only tokens, so "
        "min agrees across engines).  Selection tie-break is the digest; "
        "display order is by passage text.",
)
def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokenize(F.coalesce(F.col("text"), F.lit("")))
    exploded = (
        d.select(F.col("doc_id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= PASSAGE_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - PASSAGE_N),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, PASSAGE_N)),
                )
            ).alias("passage"),
        )
    )
    hashed = exploded.select(
        "doc_id", dedup.md5_hash60(F.col("passage")).alias("p_h")
    )
    per_doc = hashed.groupBy("p_h", "doc_id").agg(F.count("*").alias("c"))
    topk = (
        per_doc.groupBy("p_h")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("p_h"))
        .limit(TOP_PASSAGES)
        # <= 25 rows, consumed TWICE (disp's broadcast filter + the final
        # join) — without the checkpoint the second consumer re-runs the
        # whole digest count chain including its corpus text pass
        .localCheckpoint(eager=True)
    )
    # Recover display text for the <=25 survivors: broadcast the digest set
    # against a second map-stage scan (no wide shuffle — only matching rows
    # reach the tiny min(passage) aggregate).
    disp = (
        exploded.select(
            dedup.md5_hash60(F.col("passage")).alias("p_h"), "passage"
        )
        .join(F.broadcast(topk.select("p_h")), "p_h")
        .groupBy("p_h")
        .agg(F.min("passage").alias("passage"))
    )
    return (
        topk.join(F.broadcast(disp), "p_h")
        .select("passage", "n_docs", "n_occurrences")
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("passage"))
    )


# Deterministic new-batch / existing-corpus split for the incremental
# dedup query: 1 doc in INC_SPLIT_MOD is "newly ingested", the rest are the
# standing corpus.  Salted ('inc:' prefix) so it cannot correlate with the
# eval split above.
INC_SPLIT_MOD = 4
INC_SPLIT_SALT = "inc:"
INC_MAX_DISTANCE = 3
_INC_KEY_SQL = f"'{INC_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)"
INC_SPLIT_SQL = (
    f"({dedup.MD5_BASE28_SQL.format(x=_INC_KEY_SQL)} % {INC_SPLIT_MOD} = 0)"
)


def inc_split_col() -> "F.Column":
    """Spark twin of INC_SPLIT_SQL (explicit string cast, see eval_split_col)."""
    return (
        dedup.md5_base28(F.concat(F.lit(INC_SPLIT_SALT), F.col("doc_id").cast("string")))
        % INC_SPLIT_MOD
        == 0
    )


@register(
    "incremental_dedup",
    f"""
    WITH base AS (
      SELECT doc_id, text, {INC_SPLIT_SQL} AS is_new FROM documents
    ),
    {_simhash_oracle_cte('base')},
    dg AS (
      SELECT b.doc_id, md5(coalesce(b.text, '')) AS digest, b.is_new FROM base b
    ),
    nf AS (SELECT f.doc_id, f.simhash FROM fps f JOIN base b USING (doc_id)
           WHERE b.is_new),
    ef AS (SELECT f.doc_id, f.simhash FROM fps f JOIN base b USING (doc_id)
           WHERE NOT b.is_new),
    ex_hit AS (
      SELECT DISTINCT n.doc_id
      FROM dg n JOIN dg e ON n.digest = e.digest
      WHERE n.is_new AND NOT e.is_new
    ),
    near AS (
      SELECT nf.doc_id,
             CAST(count(DISTINCT ef.doc_id) AS BIGINT) AS n_near,
             CAST(min(bit_count(xor(nf.simhash, ef.simhash))) AS INT)
               AS min_hamming
      FROM nf JOIN ef
        ON bit_count(xor(nf.simhash, ef.simhash)) <= {INC_MAX_DISTANCE}
      GROUP BY nf.doc_id
    )
    SELECT b.doc_id,
           (eh.doc_id IS NOT NULL) AS is_exact,
           CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near,
           CAST(coalesce(nr.min_hamming, -1) AS INT) AS min_hamming,
           CASE WHEN eh.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN coalesce(nr.n_near, 0) > 0 THEN 'near_dup'
                ELSE 'novel' END AS verdict
    FROM base b
    LEFT JOIN ex_hit eh ON b.doc_id = eh.doc_id
    LEFT JOIN near nr ON b.doc_id = nr.doc_id
    WHERE b.is_new
    """,
    doc="Cross-snapshot incremental dedup: every newly-ingested doc (salted "
        "md5 1-in-4 split) classified exact_dup / near_dup / novel against "
        "the standing corpus — the ingestion-time shape that avoids "
        "re-deduplicating 100 TB per snapshot. Exact tier = digest "
        "left-semi; near tier = simhash pigeonhole chunk join (constant "
        "fan-out, never all-pairs) with exact bit_count verify, emitting "
        "per-doc distinct-match count and min hamming. Oracle brute-forces "
        "new x existing pairs over the SAME portable md5-keyed fingerprint "
        "CTE as the simhash queries (operators/dedup.py incremental_dedup).",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    is_new = inc_split_col()
    return dedup.incremental_dedup(
        d.filter(is_new),
        d.filter(~is_new),
        "doc_id",
        "text",
        max_distance=INC_MAX_DISTANCE,
        hash_fn=dedup.md5_hash60,
    ).select(
        F.col("_id").alias("doc_id"),
        "is_exact",
        "n_near",
        "min_hamming",
        "verdict",
    )


def _mix_ticket_rate_sql() -> tuple[str, str]:
    """Oracle twins of the mix ticket/rate expressions, built from the SAME
    constants module as the Spark plan (CLAUDE.md shared-constants rule)."""
    ticket = sampling.mix_ticket_sql("doc_id", sampling.MIX_SALT)
    rate = sampling.rate_bp_case_sql(
        "source", sampling.MIX_WEIGHTS_BP, sampling.DEFAULT_MIX_BP
    )
    return ticket, rate


_MIX_TICKET_SQL, _MIX_RATE_SQL = _mix_ticket_rate_sql()


@register(
    "corpus_mix_sample",
    f"""
    SELECT doc_id, source, lang, ticket, rate_bp
    FROM (
      SELECT doc_id, source, lang,
             {_MIX_TICKET_SQL} AS ticket,
             {_MIX_RATE_SQL} AS rate_bp
      FROM documents
    )
    WHERE ticket < rate_bp
    """,
    doc="Deterministic source-weighted corpus mix: keep a doc iff its "
        "salted md5 id-ticket falls under its source's basis-point rate "
        "(operators/sampling.py). Map-only (no shuffle, no count pass, "
        "composes with pushdown), reproducible across runs/engines/cluster "
        "sizes, and monotone in the weights (ablation mixes are supersets)."
        " The ticket and rate columns make the output its own audit "
        "worksheet.",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return sampling.hash_stratified_sample(d, "source", "doc_id").select(
        "doc_id", "source", "lang", "ticket", "rate_bp"
    )


@register(
    "mix_rate_report",
    f"""
    WITH ticketed AS (
      SELECT source,
             {_MIX_TICKET_SQL} AS ticket,
             {_MIX_RATE_SQL} AS rate_bp
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN ticket < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           min(rate_bp) AS target_bp,
           CAST(sum(CASE WHEN ticket < rate_bp THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
             AS achieved_bp
    FROM ticketed GROUP BY source
    """,
    doc="Per-source audit of the corpus mix: total vs sampled counts, "
        "target rate vs achieved rate in exact integer basis points — the "
        "report a pipeline owner reads to confirm a mix spec landed "
        "(hash sampling is exact in expectation, not per-stratum, so the "
        "achieved column is the thing to look at).",
)
def mix_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        sampling.mix_ticket(F.col("doc_id"), sampling.MIX_SALT).alias("ticket"),
        sampling.rate_bp_column(
            F.col("source"), sampling.MIX_WEIGHTS_BP, sampling.DEFAULT_MIX_BP
        ).alias("rate_bp"),
    )
    kept = F.sum(F.when(F.col("ticket") < F.col("rate_bp"), 1).otherwise(0))
    return t.groupBy("source").agg(
        F.count("*").alias("n_total"),
        kept.cast("long").alias("n_sampled"),
        F.min("rate_bp").alias("target_bp"),
        F.expr(
            "CAST(div(sum(CASE WHEN ticket < rate_bp THEN 1 ELSE 0 END) * 10000, count(*)) AS BIGINT)"
        ).alias("achieved_bp"),
    )


# ---------------------------------------------------------------------------
# leakage-safe train/eval split (round 5): the split is assigned per
# NEAR-DUP COMPONENT, not per document, so two near-duplicate documents can
# never land on opposite sides of the train/held-out boundary (the leakage
# mode that inflates eval scores when a doc-level split — eval_split_col
# above — is used on an un-deduplicated corpus).  Salted independently of
# every other split/mix in the repo.
SPLIT_SALT = "split1"
SPLIT_EVAL_BP = 1000  # 10% of COMPONENTS (not docs) held out


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_components_oracle_ctes()},
    lab AS (
      SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component_id,
           {sampling.mix_ticket_sql('component_id', SPLIT_SALT)} AS ticket,
           CASE WHEN {sampling.mix_ticket_sql('component_id', SPLIT_SALT)}
                     < {SPLIT_EVAL_BP}
                THEN 'eval' ELSE 'train' END AS split
    FROM lab
    """,
    doc="Leakage-proof train/eval split: every document inherits the salted "
        "md5 ticket of its near-dup COMPONENT (simhash hamming<=3 pairs -> "
        "connected components, shared _simhash_component_labels frame; "
        "singletons are their own component), so near-duplicates always "
        "land on the SAME side of the split — the property a doc-level "
        "ticket cannot give on an un-deduplicated corpus.  Plan: the "
        "component-label frame (paired docs only, a small fraction of the "
        "corpus) left-joins the id spine on doc_id; the ticket is map-side "
        "column algebra, so beyond the CC loop the split costs one join "
        "keyed on the id.  Oracle closes the pairs with the shared "
        "recursive transitive-closure CTE and recomputes the identical "
        "ticket, proving component inheritance end-to-end.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    labels = _simhash_component_labels(spark, sf_dir).withColumnRenamed(
        "id", "doc_id"
    )
    j = d.select("doc_id").join(labels, "doc_id", "left")
    comp = F.coalesce(F.col("comp"), F.col("doc_id"))
    ticket = sampling.mix_ticket(comp, SPLIT_SALT)
    return j.select(
        "doc_id",
        comp.alias("component_id"),
        ticket.alias("ticket"),
        F.when(ticket < SPLIT_EVAL_BP, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# cross-snapshot corpus diff (round 5).  The two snapshots are synthesized
# deterministically from the documents table with independently-salted md5
# tickets (same device as INC_SPLIT_SQL): a doc absent from the PREVIOUS
# snapshot but present now is 'added', present before but dropped now is
# 'removed', present in both with revised text is 'changed'.
SNAP_PREV_SALT = "snapP:"
SNAP_CURR_SALT = "snapC:"
SNAP_MUT_SALT = "snapM:"
SNAP_PREV_MOD = 5   # 1 in 5 docs missing from the previous snapshot
SNAP_CURR_MOD = 6   # 1 in 6 docs dropped from the current snapshot
SNAP_MUT_MOD = 4    # 1 in 4 of the docs present in both got revised text
SNAP_REV_SUFFIX = " [rev2]"


def _snap_ticket_sql(salt: str) -> str:
    key = f"'{salt}' || CAST(doc_id AS VARCHAR)"
    return dedup.MD5_BASE28_SQL.format(x=key)


def _snap_ticket_col(salt: str) -> "F.Column":
    return dedup.md5_base28(
        F.concat(F.lit(salt), F.col("doc_id").cast("string"))
    )


@register(
    "snapshot_diff",
    f"""
    WITH base AS (
      SELECT doc_id,
             ({_snap_ticket_sql(SNAP_PREV_SALT)} % {SNAP_PREV_MOD} <> 0) AS in_prev,
             ({_snap_ticket_sql(SNAP_CURR_SALT)} % {SNAP_CURR_MOD} <> 0) AS in_curr,
             ({_snap_ticket_sql(SNAP_MUT_SALT)} % {SNAP_MUT_MOD} = 0) AS mutated,
             coalesce(text, '') AS t
      FROM documents
    ),
    p AS (
      SELECT doc_id, {dedup.MD5_HASH60_SQL.format(x='t')} AS prev_digest
      FROM base WHERE in_prev
    ),
    c AS (
      SELECT doc_id,
             {dedup.MD5_HASH60_SQL.format(x=f"CASE WHEN mutated THEN t || '{SNAP_REV_SUFFIX}' ELSE t END")}
               AS curr_digest
      FROM base WHERE in_curr
    )
    SELECT * FROM (
      SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             CASE WHEN p.doc_id IS NULL THEN 'added'
                  WHEN c.doc_id IS NULL THEN 'removed'
                  WHEN p.prev_digest <> c.curr_digest THEN 'changed'
             END AS status,
             coalesce(p.prev_digest, -1) AS prev_digest,
             coalesce(c.curr_digest, -1) AS curr_digest
      FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
    ) WHERE status IS NOT NULL
    """,
    doc="Cross-snapshot corpus diff: added / removed / changed documents "
        "between two crawl snapshots by 60-bit content digest "
        "(operators/dedup.py snapshot_diff) — digests computed in each "
        "side's map stage, ONE full-outer join on the id shuffling 16 "
        "bytes/row, unchanged rows dropped before the caller.  Snapshots "
        "are salted-ticket projections of the documents table (prev drops "
        "1-in-5 ids => 'added' now; curr drops 1-in-6 => 'removed'; 1-in-4 "
        "of the intersection gets revised text => 'changed').  Keyed on "
        "the portable md5 twin so DuckDB recomputes both digest columns "
        "and the full-outer status algebra independently; production "
        "default is xxhash64.",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    prev = d.filter(_snap_ticket_col(SNAP_PREV_SALT) % SNAP_PREV_MOD != 0).select(
        "doc_id", txt.alias("text")
    )
    mutated = _snap_ticket_col(SNAP_MUT_SALT) % SNAP_MUT_MOD == 0
    curr = d.filter(_snap_ticket_col(SNAP_CURR_SALT) % SNAP_CURR_MOD != 0).select(
        "doc_id",
        F.when(mutated, F.concat(txt, F.lit(SNAP_REV_SUFFIX)))
        .otherwise(txt)
        .alias("text"),
    )
    return dedup.snapshot_diff(
        prev, curr, "doc_id", "text", hash_fn=dedup.md5_hash60
    ).select(F.col("_id").alias("doc_id"), "status", "prev_digest", "curr_digest")


# ---------------------------------------------------------------------------
# cross-source near-dup contamination matrix (round 5): which SOURCES
# duplicate each other?  A mixture owner reads this before setting
# MIX_WEIGHTS_BP — two sources that are largely near-duplicates of each
# other should not both get full weight, and a source that near-duplicates
# an eval source is a leakage channel.
@register(
    "cross_source_neardup_matrix",
    f"""
    WITH {_simhash_oracle_cte()},
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    lab AS (SELECT doc_id, coalesce(source, '') AS s FROM documents)
    SELECT least(la.s, lb.s) AS source_a,
           greatest(la.s, lb.s) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM prs
    JOIN lab la ON prs.id_a = la.doc_id
    JOIN lab lb ON prs.id_b = lb.doc_id
    GROUP BY 1, 2
    """,
    doc="Cross-source near-dup contamination matrix: simhash hamming<=3 "
        "pairs (shared memoized _simhash_pair_tier — the same frame the "
        "component/keep-list queries consume) labeled with each side's "
        "source and normalized to an unordered (least, greatest) source "
        "pair, counted.  The provenance report a mixture owner reads "
        "before weighting sources: off-diagonal mass = inter-source "
        "duplication (a leakage channel when one side is an eval source); "
        "diagonal mass = intra-source redundancy.  Plan: beyond the pair "
        "tier, two id equi-joins against a (doc_id, source) projection "
        "(pairs are the small side — broadcast-able at scale) and one "
        "strata-sized aggregate; document text never moves.",
)
def cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _simhash_pair_tier(spark, sf_dir).select("id_a", "id_b")
    lab = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("source"), F.lit("")).alias("s")
    )
    j = (
        pairs.join(lab.withColumnRenamed("doc_id", "id_a").withColumnRenamed("s", "sa"), "id_a")
        .join(lab.withColumnRenamed("doc_id", "id_b").withColumnRenamed("s", "sb"), "id_b")
    )
    return (
        j.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# MinHash sketch-accuracy report (round 5): the MinHash analogue of
# ann_recall_report — per equal-slot count k (the raw statistic the
# estimator divides by 32), how far is the estimate from the EXACT Jaccard
# of the very shingle sets the sketch summarizes?  All columns are exact
# integers (basis points via the (x - x%d)/d floor-division parity form),
# so the oracle comparison involves no float rounding at all.
MH_ACC_BP = 10_000


def _floor_bp_col(num: "F.Column", den: "F.Column") -> "F.Column":
    prod = num * F.lit(MH_ACC_BP)
    return ((prod - prod % den) / den).cast("long")


@register(
    "minhash_accuracy_report",
    f"""
    WITH {_minhash_ctes()},
    ssets AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
                           s -> {dedup.MD5_HASH60_SQL.format(x='s')})) AS shs
      FROM mh_sh
    ),
    slots AS (
      SELECT c.id_a, c.id_b,
             CAST(list_sum(list_transform(range(1, 33),
                  i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
               AS BIGINT) AS est_slots
      FROM mh_cands c
      JOIN mh_sigs a ON c.id_a = a.doc_id
      JOIN mh_sigs b ON c.id_b = b.doc_id
    ),
    ex AS (
      SELECT s.est_slots,
             CAST(len(list_filter(pa.shs, x -> list_contains(pb.shs, x)))
               AS BIGINT) AS n_inter,
             CAST(len(pa.shs) + len(pb.shs) AS BIGINT) AS n_ab
      FROM slots s
      JOIN ssets pa ON s.id_a = pa.doc_id
      JOIN ssets pb ON s.id_b = pb.doc_id
    ),
    bp AS (
      SELECT est_slots,
             CAST((est_slots * {MH_ACC_BP}
                   - (est_slots * {MH_ACC_BP}) % 32) / 32 AS BIGINT) AS est_bp,
             CAST((n_inter * {MH_ACC_BP}
                   - (n_inter * {MH_ACC_BP}) % (n_ab - n_inter))
                  / (n_ab - n_inter) AS BIGINT) AS exact_bp
      FROM ex
    )
    SELECT est_slots,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(est_bp - exact_bp)) AS BIGINT) AS sum_err_bp,
           CAST(max(abs(est_bp - exact_bp)) AS BIGINT) AS max_err_bp
    FROM bp GROUP BY est_slots
    """,
    doc="MinHash sketch-accuracy report — the sketch-QA twin of "
        "ann_recall_report: for every LSH candidate pair, the equal-slot "
        "count k (est Jaccard = k/32) vs the EXACT Jaccard of the same "
        "3-gram shingle sets the signatures summarize, binned by k with "
        "pair count, summed and max absolute error.  Errors are exact "
        "integer basis points (floor division via the (x - x%d)/d parity "
        "form), so no float ever enters the value hash.  Plan: signatures "
        "and candidates reuse the minhash_lsh_dedup operators (cached "
        "signature frame, banded bucket join — never all-pairs); the exact "
        "side joins shingle-DIGEST arrays only for candidate pairs "
        "(candidate-sized, LSH-bounded — NOT the corpus-sized inverted-"
        "index self-join ngram_jaccard_pairs pays), intersecting JVM-side "
        "via array_intersect.  Output is <= 29 rows (k in 4..32: one band "
        "of 4 equal slots is the collision precondition).",
)
def minhash_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    # shared memoized signature frame (lineage-free; see _minhash_sig_frame)
    sig = _minhash_sig_frame(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(
        sig, bands=8, rows_per_band=4, num_hashes=32,
        bucket_hash_fn=dedup.md5_hash60,
    )
    slots = (
        pairs.join(sig.select(F.col("_id").alias("id_a"), F.col("signature").alias("sig_a")), "id_a")
        .join(sig.select(F.col("_id").alias("id_b"), F.col("signature").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("long").alias("est_slots"),
        )
    )
    ssets = d.select(
        "doc_id",
        F.array_distinct(
            F.transform(dedup.shingles(F.col("text"), 3), dedup.md5_hash60)
        ).alias("shs"),
    )
    ex = (
        slots.join(ssets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a")), "id_a")
        .join(ssets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b")), "id_b")
        .select(
            "est_slots",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias("n_inter"),
            (F.size("shs_a") + F.size("shs_b")).cast("long").alias("n_ab"),
        )
    )
    bp = ex.select(
        "est_slots",
        _floor_bp_col(F.col("est_slots"), F.lit(32)).alias("est_bp"),
        _floor_bp_col(F.col("n_inter"), F.col("n_ab") - F.col("n_inter")).alias("exact_bp"),
    )
    err = F.abs(F.col("est_bp") - F.col("exact_bp"))
    return bp.groupBy("est_slots").agg(
        F.count("*").alias("n_pairs"),
        F.sum(err).alias("sum_err_bp"),
        F.max(err).alias("max_err_bp"),
    )


@register(
    "neardup_cluster_histogram",
    f"""
    WITH RECURSIVE {_components_oracle_ctes()},
    lab AS (
      SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sizes AS (
      SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM lab GROUP BY component_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM lab),
    hist AS (
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM sizes GROUP BY cluster_size
    )
    SELECT cluster_size, n_clusters,
           cluster_size * n_clusters AS n_docs,
           CAST((cluster_size * n_clusters * 10000
                 - (cluster_size * n_clusters * 10000) % t) / t AS BIGINT)
             AS doc_share_bp
    FROM hist CROSS JOIN tot
    """,
    doc="Near-dup cluster-size distribution: how the corpus mass splits "
        "across duplicate-cluster sizes (singletons included via the "
        "leakage_safe_split spine device — docs outside every simhash "
        "pair are their own component).  THE dedup QA report: a long tail "
        "of mega-clusters means boilerplate/mirror content dominates and "
        "the keep-list will cut deep; doc_share_bp is exact integer basis "
        "points of total docs per size bucket.  Plan: the memoized "
        "component-label frame (paired docs only) left-joins the id spine, "
        "then two tiny aggregates (component-count-sized, then "
        "size-bucket-sized); the normalizer rides a broadcast 1-row cross "
        "join.  Oracle closes the pairs with the shared recursive "
        "transitive-closure CTE, so the histogram proves the distributed "
        "CC fixpoint end-to-end at one more level of aggregation.",
)
def neardup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    labels = _simhash_component_labels(spark, sf_dir).withColumnRenamed(
        "id", "doc_id"
    )
    lab = d.select("doc_id").join(labels, "doc_id", "left").select(
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("component_id")
    )
    sizes = lab.groupBy("component_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    # normalizer as a window over the size-bucket histogram (handful of
    # rows): sum(cluster_size * n_clusters) over the buckets IS the corpus
    # total, so the spine join + sizes aggregate run exactly once — a
    # crossJoin(broadcast(sizes.agg(...))) would recompute that lineage
    # for the total's branch (no ReusedExchange across differing shapes)
    from pyspark.sql import Window

    t = F.sum(F.col("cluster_size") * F.col("n_clusters")).over(
        Window.partitionBy(F.lit(1))
    )
    num = F.col("cluster_size") * F.col("n_clusters") * F.lit(10000)
    return hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        ((num - num % t) / t).cast("long").alias("doc_share_bp"),
    )


def _dup_quality_oracle() -> str:
    from ..operators.curation import gopher_metrics_sql, gopher_pass_sql

    m = gopher_metrics_sql("toks")
    keep = gopher_pass_sql()["keep"]
    return f"""
    WITH RECURSIVE {_components_oracle_ctes()},
    gm AS (
      SELECT doc_id, source,
             {m['n_words']} AS n_words,
             {m['mean_word_len']} AS mean_word_len,
             {m['alpha_ratio']} AS alpha_ratio,
             {m['stop_hits']} AS stop_hits
      FROM (SELECT doc_id, coalesce(source, '') AS source,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '[^a-z0-9]+'),
                               t -> t <> '') AS toks
            FROM documents)
    ),
    g AS (SELECT doc_id, source, {keep} AS keep FROM gm),
    j AS (
      SELECT g.source, g.keep, (c.doc_id IS NOT NULL) AS is_neardup
      FROM g LEFT JOIN comp c USING (doc_id)
    ),
    per AS (
      SELECT source, is_neardup,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      FROM j GROUP BY source, is_neardup
    )
    SELECT source, is_neardup, n_docs, n_keep,
           CAST((n_keep * 10000 - (n_keep * 10000) % n_docs) / n_docs
                AS BIGINT) AS keep_bp
    FROM per
    """


@register(
    "dup_quality_interaction",
    _dup_quality_oracle(),
    doc="Quality x duplication cross-signal: per (source, has-a-near-dup) "
        "stratum, how many docs the Gopher rules keep (exact-bp keep "
        "rate).  The report that tells a curation owner whether "
        "near-duplicated content is also low-quality content (drop "
        "ordering then matters little) or high-quality boilerplate (dedup "
        "and quality filters remove DIFFERENT mass and both are needed).  "
        "Reuses the two existing verdicts wholesale: the memoized simhash "
        "pair-tier labels mark duplication, the shared gopher_metrics/"
        "gopher_pass builders mark quality — no third definition to "
        "drift.  Plan: one corpus scan for the metrics, one left join "
        "against the (small) label frame, strata-sized aggregate.  Oracle "
        "recomputes both verdicts (recursive closure + Gopher SQL twins) "
        "from scratch.",
)
def dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize
    from ..operators.curation import gopher_metrics, gopher_pass

    d = load_table(spark, sf_dir, "documents")
    m = gopher_metrics(tokenize(F.coalesce(F.col("text"), F.lit(""))))
    g = d.select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        gopher_pass(m)["keep"].alias("keep"),
    )
    labels = _simhash_component_labels(spark, sf_dir).withColumnRenamed(
        "id", "doc_id"
    )
    j = g.join(labels, "doc_id", "left")
    per = j.groupBy(
        "source", F.col("comp").isNotNull().alias("is_neardup")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_keep"),
    )
    num = F.col("n_keep") * F.lit(10000)
    return per.select(
        "source",
        "is_neardup",
        "n_docs",
        "n_keep",
        ((num - num % F.col("n_docs")) / F.col("n_docs"))
        .cast("long")
        .alias("keep_bp"),
    )


def _recrawl_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT coalesce(source, '') AS source,
             ({_snap_ticket_sql(SNAP_PREV_SALT)} % {SNAP_PREV_MOD} <> 0) AS in_prev,
             ({_snap_ticket_sql(SNAP_CURR_SALT)} % {SNAP_CURR_MOD} <> 0) AS in_curr,
             ({_snap_ticket_sql(SNAP_MUT_SALT)} % {SNAP_MUT_MOD} = 0) AS mutated
      FROM documents
    ),
    per AS (
      SELECT source,
             CAST(sum(CASE WHEN in_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
             CAST(sum(CASE WHEN in_curr THEN 1 ELSE 0 END) AS BIGINT) AS n_curr,
             CAST(sum(CASE WHEN in_curr AND NOT in_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN in_prev AND NOT in_curr THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN in_prev AND in_curr THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
             CAST(sum(CASE WHEN in_prev AND in_curr AND mutated THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      FROM base GROUP BY source
    ),
    rated AS (
      SELECT *,
             CAST((n_changed * 10000 - (n_changed * 10000) % greatest(n_common, 1))
                  / greatest(n_common, 1) AS BIGINT) AS change_bp,
             CAST(((n_added + n_removed + n_changed) * 10000
                   - ((n_added + n_removed + n_changed) * 10000) % greatest(n_curr, 1))
                  / greatest(n_curr, 1) AS BIGINT) AS churn_bp
      FROM per
    )
    SELECT source, n_prev, n_curr, n_added, n_removed, n_common, n_changed,
           change_bp, churn_bp,
           CAST(row_number() OVER (ORDER BY churn_bp DESC, source) AS BIGINT)
             AS priority
    FROM rated
    """


@register(
    "recrawl_priority",
    _recrawl_oracle(),
    doc="Per-source recrawl scheduling report (incremental-crawl revisit "
        "policy): from the SAME two salted-ticket snapshot projections "
        "snapshot_diff compares, the per-source added/removed/changed "
        "volumes, the change rate over the common subset and the total "
        "churn rate over the current snapshot (both exact integer bp), "
        "and a total-ordered recrawl priority (churn desc, source "
        "tie-break — highest-churn sources get refetched first).  "
        "'Changed' counts common-and-mutated directly: a mutation always "
        "appends SNAP_REV_SUFFIX, so it equals snapshot_diff's "
        "digest-inequality verdict by construction (the digest itself is "
        "oracle-proven in snapshot_diff).  Plan: map-only flag algebra, "
        "one strata-sized aggregate; the rank window runs over one row "
        "per source — driver-safe at any corpus size since sources, not "
        "docs, bound the frame.",
)
def recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        (_snap_ticket_col(SNAP_PREV_SALT) % SNAP_PREV_MOD != 0).alias("in_prev"),
        (_snap_ticket_col(SNAP_CURR_SALT) % SNAP_CURR_MOD != 0).alias("in_curr"),
        (_snap_ticket_col(SNAP_MUT_SALT) % SNAP_MUT_MOD == 0).alias("mutated"),
    )

    def _n(c) -> "F.Column":
        return F.sum(c.cast("int")).cast("long")

    per = base.groupBy("source").agg(
        _n(F.col("in_prev")).alias("n_prev"),
        _n(F.col("in_curr")).alias("n_curr"),
        _n(F.col("in_curr") & ~F.col("in_prev")).alias("n_added"),
        _n(F.col("in_prev") & ~F.col("in_curr")).alias("n_removed"),
        _n(F.col("in_prev") & F.col("in_curr")).alias("n_common"),
        _n(F.col("in_prev") & F.col("in_curr") & F.col("mutated")).alias(
            "n_changed"
        ),
    )
    common = F.greatest(F.col("n_common"), F.lit(1))
    curr = F.greatest(F.col("n_curr"), F.lit(1))
    chg = F.col("n_changed") * F.lit(10000)
    churn = (F.col("n_added") + F.col("n_removed") + F.col("n_changed")) * F.lit(10000)
    rated = per.select(
        "*",
        ((chg - chg % common) / common).cast("long").alias("change_bp"),
        ((churn - churn % curr) / curr).cast("long").alias("churn_bp"),
    )
    w = Window.orderBy(F.col("churn_bp").desc(), F.col("source"))
    return rated.select(
        "*", F.row_number().over(w).cast("long").alias("priority")
    )


@register(
    "lsh_bucket_stats",
    f"""
    WITH {_minhash_ctes()},
    bsz AS (
      SELECT b AS band, bucket, CAST(count(*) AS BIGINT) AS s
      FROM mh_banded GROUP BY b, bucket
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(s) AS BIGINT) AS max_bucket_size,
           CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_buckets,
           CAST(sum((s * (s - 1) - (s * (s - 1)) % 2) / 2) AS BIGINT)
             AS est_pairs
    FROM bsz GROUP BY band
    """,
    doc="Banded-LSH bucket skew audit — the MinHash analogue of "
        "ivf_cell_stats: per band, bucket count, LARGEST bucket and the "
        "exact candidate-pair mass sum(s*(s-1)/2) the bucket join will "
        "generate.  At 100 TB a hot bucket (boilerplate-heavy shingle "
        "profile) is a quadratic task in minhash_lsh_dedup's join; this "
        "is the report that catches it before the join runs.  Builds on "
        "the SAME banded frame the join uses (operators/dedup.py "
        "minhash_band_buckets — factored this session so audit and join "
        "share one construction) over the memoized signature frame.  "
        "Plan: banding is a constant 8-way explode of the (row-sized) "
        "signature frame; both aggregates are map-side combined; output "
        "is 8 rows.  Oracle reuses the shared mh_ CTE chain.",
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig_frame(spark, sf_dir)
    banded = dedup.minhash_band_buckets(
        sig, bands=8, rows_per_band=4, bucket_hash_fn=dedup.md5_hash60
    )
    sizes = banded.groupBy(
        F.col("band"), F.col("bucket")
    ).agg(F.count("*").cast("long").alias("s"))
    pr = F.col("s") * (F.col("s") - F.lit(1))
    return sizes.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("s").cast("long").alias("max_bucket_size"),
        F.sum((F.col("s") == 1).cast("int")).cast("long").alias("singleton_buckets"),
        F.sum((pr - pr % F.lit(2)) / F.lit(2)).cast("long").alias("est_pairs"),
    )


HOT_SHINGLE_CAP = 8    # report flag: df above this would be dropped by a
                       # max_doc_freq=8 cap in ngram_jaccard_pairs
HOT_SHINGLE_TOP = 25


@register(
    "hot_shingle_report",
    f"""
    WITH {_shingle_idx_cte()},
    sdf AS (SELECT sh_h, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY sh_h),
    top AS (
      SELECT sh_h, df,
             CAST(row_number() OVER (ORDER BY df DESC, sh_h) AS BIGINT) AS rnk
      FROM sdf
    ),
    lab AS (SELECT DISTINCT sh_h, shingle FROM idx)
    SELECT t.rnk, t.sh_h AS shingle_digest, l.shingle, t.df,
           CAST((t.df * (t.df - 1) - (t.df * (t.df - 1)) % 2) / 2 AS BIGINT)
             AS est_join_rows,
           t.df > {HOT_SHINGLE_CAP} AS would_cap
    FROM top t JOIN lab l USING (sh_h)
    WHERE t.rnk <= {HOT_SHINGLE_TOP}
    """,
    doc="Hot-shingle skew audit for the exact Jaccard join — the "
        "inverted-index analogue of lsh_bucket_stats: top-25 shingles by "
        "document frequency (total order: df desc, digest asc), the "
        "df*(df-1)/2 join rows each would generate, and whether a "
        "max_doc_freq=HOT_SHINGLE_CAP cap would drop it.  At 100 TB ONE "
        "corpus-wide boilerplate shingle dominates the whole self-join "
        "shuffle; this report names the stop-shingles before the join "
        "runs.  Plan: digest-first df aggregate (8-byte keys — shingle "
        "TEXT never enters the wide shuffle), TakeOrdered top-25, then "
        "display text restored by a broadcast semi-join of the 25 "
        "survivor digests (the duplicate_passages join-back device).  "
        "Oracle shares the factored _shingle_idx_cte with the Jaccard "
        "join's oracle.",
)
def hot_shingle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    idx = dedup.shingle_index(d, "doc_id", "text", 3).select(
        "shingle", dedup.md5_hash60(F.col("shingle")).alias("sh_h")
    )
    sdf = idx.select("sh_h").groupBy("sh_h").agg(
        F.count("*").cast("long").alias("df")
    )
    top = sdf.orderBy(F.desc("df"), F.asc("sh_h")).limit(HOT_SHINGLE_TOP)
    ranked = top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("df"), F.asc("sh_h")))
        .cast("long"),
        # 25 rows, consumed by TWO branches (the broadcast filter and the
        # final join) — without the checkpoint each branch re-runs the df
        # aggregate AND its TakeOrdered (3 extra corpus shingle passes,
        # 10.4 -> ~3 s at sf0.1)
    ).localCheckpoint(eager=True)
    lab = (
        idx.join(F.broadcast(ranked.select("sh_h")), "sh_h")
        .select("sh_h", "shingle")
        .distinct()
    )
    pr = F.col("df") * (F.col("df") - F.lit(1))
    return ranked.join(lab, "sh_h").select(
        "rnk",
        F.col("sh_h").alias("shingle_digest"),
        "shingle",
        "df",
        ((pr - pr % F.lit(2)) / F.lit(2)).cast("long").alias("est_join_rows"),
        (F.col("df") > HOT_SHINGLE_CAP).alias("would_cap"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — local, position-aware sketch
# ---------------------------------------------------------------------------

# Winnowing parameters: token-3-gram hashes, window of 4 consecutive gram
# hashes => any shared token run of >= WINNOW_W + WINNOW_N - 1 = 6 tokens
# is GUARANTEED to share a fingerprint (the winnowing theorem), at
# expected density ~2/(w+1) of gram positions.  The gram rule (3-gram +
# short-doc fallback) is the SAME as rep_grams / _shingle_idx_cte, so the
# oracle CTE below hardcodes the 3-ary concat — guarded by the assert.
WINNOW_N = 3
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
assert WINNOW_N == 3  # the oracle CTE hardcodes the 3-ary gram concat


def _winnow_ctes(src: str = "documents") -> str:
    """Winnowing CTE chain (prefixed ``win_``) — ends in
    ``win_fp(doc_id, h, p)`` (selected fingerprints, distinct) and
    ``win_sizes(doc_id, n_grams, n_windows)``.  The argmin-with-rightmost-
    tie-break is computed as min-then-argmax-join (plain integer ops on
    both engines) — the Spark side's lexicographic struct-min over
    (h, -p) is the same function."""
    h_of_gram = dedup.MD5_HASH60_SQL.format(x="grams[i]")
    return f"""win_toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM {src}
),
win_g AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= {WINNOW_N} THEN
      list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [coalesce(array_to_string(toks, ' '), '')] END AS grams
  FROM win_toks
),
win_pos AS (
  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         CAST(ph.p AS BIGINT) AS p, ph.h AS h
  FROM (
    SELECT doc_id, len(grams) AS n_grams,
           unnest(list_transform(range(1, len(grams) + 1),
                  i -> struct_pack(p := i - 1, h := {h_of_gram}))) AS ph
    FROM win_g
  )
),
win_mem AS (
  SELECT doc_id, n_grams, p, h, p - o AS s
  FROM win_pos CROSS JOIN (SELECT unnest(range(0, {WINNOW_W})) AS o) offs
  WHERE p - o >= 0 AND p - o <= greatest(n_grams - {WINNOW_W}, 0)
),
win_min AS (
  SELECT doc_id, s, min(h) AS mh FROM win_mem GROUP BY doc_id, s
),
win_sel AS (
  SELECT m.doc_id, m.mh AS h, CAST(max(g.p) AS BIGINT) AS p
  FROM win_min m JOIN win_mem g
    ON g.doc_id = m.doc_id AND g.s = m.s AND g.h = m.mh
  GROUP BY m.doc_id, m.s, m.mh
),
win_fp AS (
  SELECT DISTINCT doc_id, h, p FROM win_sel
),
win_sizes AS (
  SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
         CAST(greatest(max(n_grams) - {WINNOW_W} + 1, 1) AS BIGINT) AS n_windows
  FROM win_pos GROUP BY doc_id
)"""


def _winnow_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized winnowing fingerprint frame (_id, n_grams, n_windows, p,
    h) — a pure deterministic function of the corpus shared by the per-doc
    profile and the overlap-pair join (same ownership/freshness rules as
    the pair tier; see _cc_share).  Pinned blocks are ~2/(w+1) of gram
    positions x 4 longs — row-sized, never text."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents", fan_out=True)
        return dedup.winnow_fingerprints(
            d, "doc_id", "text", n=WINNOW_N, w=WINNOW_W
        ).localCheckpoint(eager=True)

    return _cc_share(spark, sf_dir, "winnow_fp", build)


@register(
    "winnowing_fingerprints",
    f"""
    WITH {_winnow_ctes()}
    SELECT f.doc_id, z.n_grams, z.n_windows,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(count(*) * 10000 // z.n_windows AS BIGINT) AS density_bp
    FROM win_fp f JOIN win_sizes z ON f.doc_id = z.doc_id
    GROUP BY f.doc_id, z.n_grams, z.n_windows
    """,
    doc="Per-doc winnowing fingerprint profile (Schleimer et al. SIGMOD'03 "
        "— the MOSS sketch): 3-gram hashes, window w=4, min-hash-rightmost "
        "selection; reports gram/window/fingerprint counts and selected "
        "density in exact integer basis points (theorem: any >= 6-token "
        "shared run is caught; expected density ~2/(w+1) = 4000 bp). The "
        "position-aware LOCAL sketch complementing the global MinHash / "
        "SimHash tiers (operators/dedup.py winnow_fingerprints; digest-only "
        "shuffles, constant w fan-out).",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _winnow_fp_frame(spark, sf_dir)
    return (
        fp.groupBy(F.col("_id").alias("doc_id"), "n_grams", "n_windows")
        .agg(F.count("*").cast("long").alias("n_fingerprints"))
        .withColumn(
            "density_bp",
            F.expr("CAST(div(n_fingerprints * 10000, n_windows) AS BIGINT)"),
        )
    )


@register(
    "winnowing_overlap_pairs",
    f"""
    WITH {_winnow_ctes()},
    win_doc AS (SELECT DISTINCT doc_id, h FROM win_fp),
    win_cnt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
      FROM win_doc GROUP BY doc_id
    ),
    win_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM win_doc a JOIN win_doc b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared, ca.n_fp AS n_a, cb.n_fp AS n_b,
           CAST(n_shared * 10000 // least(ca.n_fp, cb.n_fp) AS BIGINT)
             AS overlap_bp
    FROM win_pairs p
    JOIN win_cnt ca ON p.id_a = ca.doc_id
    JOIN win_cnt cb ON p.id_b = cb.doc_id
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    """,
    doc="Document pairs sharing >= 2 winnowing fingerprints (position-"
        "dropped, doc-level distinct) with overlap coefficient in exact "
        "integer basis points — the partial-overlap / quotation-reuse "
        "detector that global sketches dilute away: a shared 6-token run "
        "guarantees a shared fingerprint regardless of how much unrelated "
        "text surrounds it. Join is on 8-byte digests only (never text); "
        "fingerprint density ~2/(w+1) keeps the inverted index a fraction "
        "of the full shingle index's volume.",
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _winnow_fp_frame(spark, sf_dir)
    doc_h = fp.select("_id", "h").distinct()
    cnt = doc_h.groupBy("_id").agg(F.count("*").cast("long").alias("n_fp"))
    a = doc_h.select(F.col("_id").alias("id_a"), "h")
    b = doc_h.select(F.col("_id").alias("id_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(cnt.select(F.col("_id").alias("id_a"), F.col("n_fp").alias("n_a")), "id_a")
        .join(cnt.select(F.col("_id").alias("id_b"), F.col("n_fp").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "CAST(div(n_shared * 10000, least(n_a, n_b)) AS BIGINT)"
            ).alias("overlap_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Reverse decontamination: which EVAL items are compromised
# ---------------------------------------------------------------------------


@register(
    "eval_leak_report",
    f"""
    WITH {_decontam_ctes()},
    el_spine AS (SELECT doc_id AS eval_id FROM dc_flagged WHERE is_eval),
    el_ev AS (
      SELECT DISTINCT doc_id AS eval_id, shingle FROM (
        SELECT doc_id, unnest(shingles) AS shingle
        FROM dc_flagged WHERE is_eval
      ) WHERE shingle <> ''
    ),
    el_sizes AS (
      SELECT eval_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM el_ev GROUP BY eval_id
    ),
    el_matched AS (
      SELECT e.eval_id, e.shingle, i.doc_id AS corpus_id
      FROM el_ev e JOIN dc_idx i USING (shingle)
    ),
    el_agg AS (
      SELECT eval_id,
             CAST(count(DISTINCT shingle) AS BIGINT) AS n_leaked_shingles,
             CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_corpus_docs
      FROM el_matched GROUP BY eval_id
    )
    SELECT s.eval_id,
           CAST(coalesce(z.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(a.n_leaked_shingles, 0) AS BIGINT) AS n_leaked_shingles,
           CAST(coalesce(a.n_leaked_shingles, 0) * 10000
                // greatest(coalesce(z.n_shingles, 0), 1) AS BIGINT) AS leak_bp,
           CAST(coalesce(a.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs,
           coalesce(a.n_leaked_shingles, 0) > 0 AS compromised
    FROM el_spine s
    LEFT JOIN el_sizes z ON s.eval_id = z.eval_id
    LEFT JOIN el_agg a ON s.eval_id = a.eval_id
    """,
    doc="Reverse decontamination — eval-set integrity: per EVAL doc (same "
        "portable 1-in-20 md5 split benchmark_decontamination strips "
        "against), how many of its distinct word 5-grams also occur in the "
        "training corpus, how many distinct corpus docs share one, leaked "
        "share in exact integer basis points, and the compromised flag. "
        "benchmark_decontamination answers 'which training docs to drop'; "
        "this answers 'which benchmark items are no longer trustworthy' — "
        "the report an eval owner reads.  Plan: the eval (doc, shingle) "
        "index is tiny and broadcast; the corpus inverted index joins it "
        "and only MATCHED rows shuffle, keyed by eval doc (one corpus "
        "scan, exchanges carry no text beyond the matched shingles).  "
        "Zero-leak and zero-shingle eval docs kept via the spine left "
        "join (NULL text == empty text rule).",
)
def eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    is_eval = eval_split_col()
    ev_docs = d.filter(is_eval)
    spine = ev_docs.select(F.col("doc_id").alias("eval_id"))
    ev_idx = (
        ev_docs.select(
            F.col("doc_id").alias("eval_id"),
            F.explode(dedup.shingles(F.col("text"), 5)).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
        .distinct()
        # benchmark-sized (the 1-in-20 split's distinct shingles) and
        # consumed by TWO branches (sizes + the broadcast join) — without
        # the checkpoint each branch re-scans the eval slice's text
        .localCheckpoint(eager=True)
    )
    sizes = ev_idx.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    corpus_idx = d.filter(~is_eval).select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(dedup.shingles(F.col("text"), 5)).alias("shingle"),
    )
    agg = (
        corpus_idx.join(F.broadcast(ev_idx), "shingle")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("shingle").cast("long").alias("n_leaked_shingles"),
            F.countDistinct("corpus_id").cast("long").alias("n_corpus_docs"),
        )
    )
    return (
        spine.join(sizes, "eval_id", "left")
        .join(agg, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_leaked_shingles", F.lit(0))
            .cast("long")
            .alias("n_leaked_shingles"),
            F.expr(
                "CAST(div(coalesce(n_leaked_shingles, 0) * 10000,"
                " greatest(coalesce(n_shingles, 0), 1)) AS BIGINT)"
            ).alias("leak_bp"),
            F.coalesce("n_corpus_docs", F.lit(0))
            .cast("long")
            .alias("n_corpus_docs"),
            (F.coalesce("n_leaked_shingles", F.lit(0)) > 0).alias("compromised"),
        )
    )


# ---------------------------------------------------------------------------
# Cosine near-dup threshold calibration sweep
# ---------------------------------------------------------------------------

# Thresholds in exact integer basis points; the pair tier is computed ONCE
# at the lowest threshold and each sweep row counts the pairs/docs
# surviving its cutoff — the calibration curve a curation owner reads
# before fixing the dedup threshold.
SWEEP_BPS = (3000, 4000, 5000, 6000, 7000, 8000, 9000)
SWEEP_MIN = min(SWEEP_BPS) / 10000.0


@register(
    "neardup_threshold_sweep",
    f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
               FROM embeddings),
    sw_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(round({dedup.COSINE_SQL.format(a="a.ve", b="b.ve")} * 10000, 0)
               AS BIGINT) AS cos_bp
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {dedup.COSINE_SQL.format(a="a.ve", b="b.ve")} >= {SWEEP_MIN}
    ),
    sw_spine AS (
      SELECT CAST(t AS BIGINT) AS threshold_bp
      FROM (SELECT unnest({list(SWEEP_BPS)}) AS t)
    ),
    sw_counts AS (
      SELECT t.threshold_bp,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM sw_spine t JOIN sw_pairs p ON p.cos_bp >= t.threshold_bp
      GROUP BY t.threshold_bp
    ),
    sw_docs AS (
      SELECT threshold_bp, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs
      FROM (
        SELECT t.threshold_bp, p.id_a AS vid FROM sw_spine t
        JOIN sw_pairs p ON p.cos_bp >= t.threshold_bp
        UNION ALL
        SELECT t.threshold_bp, p.id_b AS vid FROM sw_spine t
        JOIN sw_pairs p ON p.cos_bp >= t.threshold_bp
      ) GROUP BY threshold_bp
    )
    SELECT s.threshold_bp,
           CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs
    FROM sw_spine s
    LEFT JOIN sw_counts c ON s.threshold_bp = c.threshold_bp
    LEFT JOIN sw_docs d ON s.threshold_bp = d.threshold_bp
    """,
    doc="Cosine near-dup threshold calibration: the exact pair tier is "
        "computed ONCE at the 0.30 floor (blocked-GEMM kernel, no "
        "all-pairs materialization beyond the floor), cosines are "
        "projected to exact integer basis points, and each sweep row "
        "reports surviving pair count and distinct docs involved at its "
        "cutoff — the pairs-vs-threshold curve read before fixing "
        "semantic_dedup's threshold.  Zero-pair cutoffs kept via the "
        "threshold spine; integer compares on both engines (no float "
        "boundary in the value hash).",
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pairs_block

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_block(e, threshold=SWEEP_MIN).select(
        "id_a",
        "id_b",
        F.round(F.col("cos_sim") * 10000).cast("long").alias("cos_bp"),
    )
    # the pair tier feeds both the pair count and the distinct-doc count —
    # checkpoint so the GEMM kernel runs once, not twice
    pairs = pairs.localCheckpoint(eager=True)
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in SWEEP_BPS])
        ).alias("threshold_bp")
    )
    joined = spine.join(pairs, F.col("cos_bp") >= F.col("threshold_bp"))
    counts = joined.groupBy("threshold_bp").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    docs = (
        joined.select("threshold_bp", F.col("id_a").alias("vid"))
        .unionAll(joined.select("threshold_bp", F.col("id_b").alias("vid")))
        .groupBy("threshold_bp")
        .agg(F.countDistinct("vid").cast("long").alias("n_docs"))
    )
    return (
        spine.join(counts, "threshold_bp", "left")
        .join(docs, "threshold_bp", "left")
        .select(
            "threshold_bp",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup stage attribution — which tier catches each dropped doc
# ---------------------------------------------------------------------------


@register(
    "dedup_stage_attribution",
    f"""
    WITH RECURSIVE {_simhash_oracle_cte('documents')},
    {_minhash_ctes('documents')},
    sh_prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    mh_prs AS (
      SELECT id_a, id_b FROM mh_scored
      WHERE est_jaccard >= {MH_CONSENSUS_MIN_EST}
    ),
    allp AS (
      SELECT id_a, id_b FROM sh_prs
      UNION
      SELECT id_a, id_b FROM mh_prs
    ),
    csym AS (
      SELECT id_a AS a, id_b AS b FROM allp
      UNION
      SELECT id_b AS a, id_a AS b FROM allp
    ),
    creach AS (
      SELECT a AS id, a AS r FROM csym
      UNION
      SELECT creach.id, csym.b AS r FROM creach JOIN csym ON csym.a = creach.r
    ),
    ccomp AS (SELECT id AS doc_id, min(r) AS component_id FROM creach GROUP BY id),
    att_dig AS (
      SELECT doc_id,
             {dedup.MD5_HASH60_SQL.format(x="coalesce(text, '')")} AS dg
      FROM documents
    ),
    att_keep AS (SELECT dg, min(doc_id) AS keeper FROM att_dig GROUP BY dg),
    att_exact AS (
      SELECT d.doc_id FROM att_dig d JOIN att_keep k USING (dg)
      WHERE d.doc_id <> k.keeper
    ),
    att_shm AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM sh_prs
        UNION ALL SELECT id_b AS doc_id FROM sh_prs
      )
    ),
    att_mhm AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM mh_prs
        UNION ALL SELECT id_b AS doc_id FROM mh_prs
      )
    ),
    att_drop AS (SELECT doc_id FROM ccomp WHERE doc_id <> component_id),
    att_stage AS (
      SELECT d.doc_id, coalesce(d.source, '') AS source,
             CASE WHEN dr.doc_id IS NULL THEN 'kept'
                  WHEN ex.doc_id IS NOT NULL THEN 'exact'
                  WHEN sm.doc_id IS NOT NULL THEN 'simhash'
                  WHEN mm.doc_id IS NOT NULL THEN 'minhash'
                  ELSE 'closure' END AS stage
      FROM documents d
      LEFT JOIN att_drop dr ON d.doc_id = dr.doc_id
      LEFT JOIN att_exact ex ON d.doc_id = ex.doc_id
      LEFT JOIN att_shm sm ON d.doc_id = sm.doc_id
      LEFT JOIN att_mhm mm ON d.doc_id = mm.doc_id
    ),
    att_tot AS (SELECT source, count(*) AS n_src FROM att_stage GROUP BY source)
    SELECT s.source, s.stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) * 10000 // t.n_src AS BIGINT) AS share_bp
    FROM att_stage s JOIN att_tot t USING (source)
    GROUP BY s.source, s.stage, t.n_src
    """,
    doc="Dedup stage ATTRIBUTION: per (source, stage), how many docs each "
        "tier of the consensus ladder accounts for — 'kept' (consensus-"
        "canonical), 'exact' (non-first-seen in a text-digest group), "
        "'simhash' (edge in the hamming<=3 tier), 'minhash' (edge only in "
        "the est-Jaccard>=0.5 tier), or 'closure' (dropped purely by "
        "transitivity through other docs — no direct edge of its own).  "
        "The report a curation owner reads to know WHICH sketch earns its "
        "cost per source, and how much mass only transitivity removes.  "
        "Spark side rides the memoized pair/signature frames; the flag "
        "joins shuffle doc-ids only; shares in exact integer basis points "
        "(window-normalized per source — no second corpus pass).  Oracle "
        "recomputes both sketch tiers from the shared CTE builders, closes "
        "the union recursively, and re-derives every flag independently.",
)
def dedup_stage_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh_pairs = _simhash_pair_tier(spark, sf_dir).select("id_a", "id_b")
    mh_pairs = _mh_consensus_pairs(spark, sf_dir)
    labels = _consensus_component_labels(spark, sf_dir)
    dropped = labels.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("_dropped")
    )
    dig = d.select(
        "doc_id",
        dedup.md5_hash60(F.coalesce("text", F.lit(""))).alias("dg"),
    )
    keep = dig.groupBy("dg").agg(F.min("doc_id").alias("keeper"))
    exact = (
        dig.join(keep, "dg")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", F.lit(True).alias("_exact"))
    )

    def members(pairs: DataFrame, flag: str) -> DataFrame:
        return (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .withColumn(flag, F.lit(True))
        )

    staged = (
        d.select("doc_id", F.coalesce("source", F.lit("")).alias("source"))
        .join(dropped, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .join(members(sh_pairs, "_sh"), "doc_id", "left")
        .join(members(mh_pairs, "_mh"), "doc_id", "left")
        .select(
            "source",
            F.when(F.col("_dropped").isNull(), F.lit("kept"))
            .when(F.col("_exact").isNotNull(), F.lit("exact"))
            .when(F.col("_sh").isNotNull(), F.lit("simhash"))
            .when(F.col("_mh").isNotNull(), F.lit("minhash"))
            .otherwise(F.lit("closure"))
            .alias("stage"),
        )
    )
    agg = staged.groupBy("source", "stage").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    # per-source normalizer as a window over the strata-sized aggregate —
    # no second corpus pass (established round-5 pattern)
    return agg.select(
        "source",
        "stage",
        "n_docs",
        F.expr(
            "CAST(div(n_docs * 10000,"
            " sum(n_docs) OVER (PARTITION BY source)) AS BIGINT)"
        ).alias("share_bp"),
    )
