"""Unit tests for the centralized keyed-cache rule (session.keyed_cache),
the scan-frame cache's session/staleness semantics, and the frame
helper for driver-side rows (session.local_frame).

The cache rule lives in ONE implementation by design (a round-12
self-review found three drifting inline copies); these tests pin the
contract every consumer relies on: hit on same identity, rebuild +
evict on a rewritten file, on_evict invoked exactly on the evicted
value.  No SparkSession needed — a stub with the two attributes the
helper reads keeps this module sub-second.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mr_python_spark.session import keyed_cache


class _StubSpark:
    class _SC:
        applicationId = "app-test"

    sparkContext = _SC()


def _write_docs(d, text="x"):
    pq.write_table(pa.table({"text": pa.array([text])}), str(d / "documents.parquet"))


def test_keyed_cache_hit_rebuild_and_eviction(tmp_path):
    _write_docs(tmp_path)
    cache: dict = {}
    builds, evicted = [], []

    def build():
        builds.append(1)
        return f"frame-{len(builds)}"

    spark = _StubSpark()
    a = keyed_cache(cache, spark, str(tmp_path), build, on_evict=evicted.append)
    b = keyed_cache(cache, spark, str(tmp_path), build, on_evict=evicted.append)
    assert a == b == "frame-1" and len(builds) == 1 and not evicted

    # rewritten file (new mtime_ns) -> rebuild, stale entry evicted
    time.sleep(0.01)
    _write_docs(tmp_path, text="y")
    c = keyed_cache(cache, spark, str(tmp_path), build, on_evict=evicted.append)
    assert c == "frame-2" and evicted == ["frame-1"] and len(cache) == 1


def test_keyed_cache_table_parameter(tmp_path):
    pq.write_table(pa.table({"a": pa.array([1])}), str(tmp_path / "orders.parquet"))
    cache: dict = {}
    got = keyed_cache(
        cache, _StubSpark(), str(tmp_path), lambda: "orders-frame", table="orders"
    )
    assert got == "orders-frame"
    (key,) = cache.keys()
    assert key[1].endswith("orders.parquet")


def test_scan_cache_serves_per_session_and_evicts_stale(spark, tmp_path):
    from mr_python_spark.session import _SCAN_CACHE, load_table

    pq.write_table(
        pa.table({"doc_id": pa.array([1], type=pa.int64()), "text": pa.array(["a"]),
                  "lang": pa.array(["en"]), "source": pa.array(["t"]),
                  "n_chars": pa.array([1], type=pa.int64())}),
        str(tmp_path / "documents.parquet"),
    )
    d1 = load_table(spark, str(tmp_path), "documents")
    assert load_table(spark, str(tmp_path), "documents") is d1  # hit
    time.sleep(0.01)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], type=pa.int64()),
                  "text": pa.array(["a", "b"]), "lang": pa.array(["en", "en"]),
                  "source": pa.array(["t", "t"]),
                  "n_chars": pa.array([1, 1], type=pa.int64())}),
        str(tmp_path / "documents.parquet"),
    )
    d2 = load_table(spark, str(tmp_path), "documents")
    assert d2 is not d1 and d2.count() == 2
    path = os.path.realpath(str(tmp_path / "documents.parquet"))
    same_path = [k for k in _SCAN_CACHE if k[2] == path]
    assert len(same_path) == 1  # the stale entry was evicted


@pytest.mark.parametrize("rows", [[("a", 1), (None, 2)], []], ids=["none-cell", "empty"])
def test_local_frame_is_a_local_table_scan_like_create_dataframe(spark, rows):
    from pyspark.sql import types as T

    from mr_python_spark.session import local_frame

    schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("cnt", T.LongType(), nullable=False),
        ]
    )
    df = local_frame(spark, rows, schema)
    assert df.select("*").schema == schema  # as the JVM plan reports it
    assert df.collect() == spark.createDataFrame(rows, schema).collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_cached_jaccard_pairs_shared_and_consistent(spark):
    """r17: the verified pair frame is keyed-cached and consumed by the
    family (cross-source matrix, graph edge builds) — repeat calls must
    return the SAME cached object, and its rows must equal a fresh
    uncached build of dedup_ngram_jaccard (evicting the cache first so
    the CacheManager cannot rewrite the fresh plan to the cached
    relation)."""
    from mr_python_spark import dedup

    sf = "/root/testdata/sf0.001"
    p1 = dedup.cached_jaccard_pairs(spark, sf)
    assert dedup.cached_jaccard_pairs(spark, sf) is p1  # keyed-cache hit
    got = sorted(tuple(r) for r in p1.collect())
    for k in list(dedup._NGRAM_PAIRS_CACHE):
        dedup._evict_frame(dedup._NGRAM_PAIRS_CACHE.pop(k))
    fresh = sorted(
        tuple(r) for r in dedup.dedup_ngram_jaccard(spark, sf).collect()
    )
    assert got == fresh
