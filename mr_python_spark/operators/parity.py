"""Capability-gate entries that run THROUGH the parity layer.

Everything else in ``operators/`` is Spark-first; these queries push
real table data through the reference-faithful ``MapReduce`` class
(core.py) and surface the result as a DataFrame, so the parity layer
itself sits under the driver's DuckDB correctness gate — not just its
unit tests.

Scale note: the parity layer is correctness-first by design
(groupByKey + driver collect, matching tinymr.py:156-230 semantics);
the equivalent scale-first operator is
:func:`mr_python_spark.functions.text.word_count`.  Registering both
against the same oracle documents that they agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.core import MapReduce
from mr_python_spark.registry import register
from mr_python_spark.session import load_table, local_frame


class _WordCount(MapReduce):
    """The reference's iconic query (docs.rst:27-34) as a subclass."""

    def mapper(self, item):
        for word in item.lower().split():
            yield word, 1

    def reducer(self, key, values):
        return key, sum(values)


_PARITY_WC_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
)
WHERE word <> ''
GROUP BY word
"""


@register("parity_word_count", _PARITY_WC_ORACLE)
def parity_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via the ``MapReduce`` parity class over an RDD.

    The document texts stay distributed (RDD in, mapper/reducer run
    on executors); only the final word→count dict is driver-side —
    the reference's own output contract (tinymr.py:230).
    """
    docs = load_table(spark, sf_dir, "documents")
    texts = docs.select("text").rdd.map(lambda r: r[0])
    wc = _WordCount()
    wc.spark = spark  # reuse the driver-provided session
    mapping = wc(texts)
    schema = T.StructType(
        [T.StructField("word", T.StringType()), T.StructField("cnt", T.LongType())]
    )
    return local_frame(spark, [(w, int(c)) for w, c in mapping.items()], schema)


class _OrderedQtyChecksum(MapReduce):
    """3-tuple secondary sort in its hardest mode row: ``(key, sort,
    value)`` mapper output with ``sort_map_with_value`` (the (sort,
    value) TAIL tuple is the sort key) AND ``sort_map_reverse``
    (descending) — the reference's full 4-mode matrix corner
    (tinymr.py sort-flag properties; docs.rst sorting section).  The
    reducer sees values in descending sort order with sort elements
    stripped, and proves it with a position-weighted checksum: any
    mis-ordered, unstripped, or dropped element changes the sum."""

    sort_map_with_value = True
    sort_map_reverse = True

    def mapper(self, item):
        partkey, orderkey, linenumber, qty = item
        # the synthetic fixture REUSES (orderkey, linenumber) combos,
        # so sort keys tie — the with-value mode then breaks ties by
        # qty, and rows identical in BOTH (sort, value) are mutually
        # interchangeable in the position-weighted checksum (only the
        # value enters the sum), so the result is deterministic and
        # SQL-reproducible; the 50-way part band keeps reduce groups
        # mid-cardinality
        yield partkey % 50, orderkey * 8 + linenumber, qty

    def reducer(self, key, values):
        return key, sum((i + 1) * v for i, v in enumerate(values))


_PARITY_SSORT_ORACLE = """
SELECT part_band, CAST(SUM(rn * qty) AS BIGINT) AS ord_checksum
FROM (
  SELECT l_partkey % 50 AS part_band, CAST(l_quantity AS BIGINT) AS qty,
         row_number() OVER (PARTITION BY l_partkey % 50
                            ORDER BY l_orderkey * 8 + l_linenumber DESC,
                                     qty DESC) AS rn
  FROM lineitem
)
GROUP BY part_band
"""


@register("parity_secondary_sort", _PARITY_SSORT_ORACLE)
def parity_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort via the ``MapReduce`` parity class over lineitem.

    Until round 8 only the 2-tuple word-count path exercised core.py
    under the DuckDB gate; this query drives the 3-tuple
    tail kept whole on the map side (core.py:_tag_mapped), the
    3-tuple layout cut to ``(sort, value)`` with encounter order
    restored by tag (core.py:_reduce_partition), the descending
    sort-with-value ordering with sort-key stripping
    (core.py:_sort_values), all through real table data.  The per-key
    position-weighted checksum equals the oracle's
    row_number()-weighted sum only if the reducer received every
    value in exactly the reference's order — integer arithmetic, so
    the comparison is exact at any SF.
    """
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        .rdd.map(lambda r: (r[0], r[1], r[2], r[3]))
    )
    mr = _OrderedQtyChecksum()
    mr.spark = spark
    mapping = mr(rows)
    schema = T.StructType(
        [
            T.StructField("part_band", T.LongType()),
            T.StructField("ord_checksum", T.LongType()),
        ]
    )
    return local_frame(spark, [(int(m), int(c)) for m, c in mapping.items()], schema)
