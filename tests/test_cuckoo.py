"""Cuckoo-filter seen-set semantics: data-sized tables, delete support (the
capability Bloom lacks), and local table invariants.  The no-false-drop and
n_partitions-mismatch contracts run on both kernels in test_crawl_engine.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hdx_metadata_crawler_spark.sources import synthetic
from hdx_metadata_crawler_spark.streaming import cuckoo


def _urls_df(spark, n):
    return spark.createDataFrame(
        [(u,) for u in synthetic.seed_urls(n)], ["canon_url"]
    ).select("canon_url", F.xxhash64("canon_url").alias("url_hash"))


def test_local_insert_lookup_delete():
    t = cuckoo.CuckooTable(256)
    hashes = np.array([hash(f"u{i}") for i in range(600)], dtype=np.int64).view(np.uint64)
    for i, h in enumerate(hashes):
        assert t.insert(h, i)
    assert t.contains(hashes).all(), "no false negatives after insert"
    # delete the first half; they must report absent (ignoring ~0.1% fp
    # collisions with the surviving half's fingerprints)
    for h in hashes[:300]:
        assert t.remove(h)
    still = t.contains(hashes[:300]).sum()
    assert still <= 3, f"{still} deleted keys still reported present"
    assert t.contains(hashes[300:]).all(), "deletes must not disturb other keys"


def test_alt_bucket_involution():
    m = 256
    b = np.arange(m, dtype=np.int64)
    fp = cuckoo._fingerprint(
        np.arange(1, m + 1, dtype=np.int64).view(np.uint64)
    )
    alt = cuckoo._alt_bucket(b, fp, m)
    back = cuckoo._alt_bucket(alt, fp, m)
    assert (back == b).all(), "alt(alt(b)) must equal b (partial-key hashing)"


def test_cuckoo_tables_sized_from_partition_key_count(spark):
    """~9k keys in ONE partition: a table sized for a fixed per-partition
    budget (2048 buckets x 4 slots) runs out of room near 7.9k keys; each
    partition's table is sized from its own key count instead."""
    urls = _urls_df(spark, 10000)
    seen = urls.filter(F.col("url_hash") % 10 != 0)
    assert seen.count() > 7872
    filters = cuckoo.build_cuckoos(seen, n_partitions=1)
    got = {
        r["canon_url"]
        for r in cuckoo.cuckoo_anti_join(urls, seen, filters, n_partitions=1).collect()
    }
    expected = {
        r["canon_url"]
        for r in urls.join(seen.select("url_hash"), "url_hash", "left_anti").collect()
    }
    assert got == expected


def test_cuckoo_remove_requeues_urls(spark):
    """After deleting a URL from the seen filter, the anti-join passes it
    through again (with the exact-seen side also updated) — the re-crawl /
    retraction path Bloom cannot express."""
    urls = _urls_df(spark, 1000)
    seen = urls.filter(F.col("url_hash") % 2 == 0)
    filters = cuckoo.build_cuckoos(seen, n_partitions=8)

    # Pin the expired set deterministically: LIMIT without ORDER BY may pick
    # different rows on each of the several jobs that re-evaluate this frame.
    expired = seen.orderBy("url_hash").limit(50)
    seen_after = seen.join(expired.select("url_hash"), "url_hash", "left_anti")
    filters_after = cuckoo.cuckoo_remove(filters, expired, n_partitions=8)

    got = {
        r["canon_url"]
        for r in cuckoo.cuckoo_anti_join(
            urls, seen_after, filters_after, n_partitions=8
        ).collect()
    }
    expected = {
        r["canon_url"]
        for r in urls.join(
            seen_after.select("url_hash"), "url_hash", "left_anti"
        ).collect()
    }
    assert got == expected
    assert {r["canon_url"] for r in expired.collect()} <= got
