"""What each workload runs, and the plain-Python answers it is checked
against.

The three ``MapReduce`` jobs live in this importable module (not in
the entry script) because Spark's Python workers unpickle them by
module path.  Each job has an independent plain-Python ``expect_*``
function that computes the output dict the reference's in-process
MapReduce would return, key order included.
"""

from __future__ import annotations

from mr_python_spark.core import MapReduce

from perfbench import datagen
from perfbench.datagen import Scale

#: generated catalog size for ``catalog-warm``, ``catalog-cold`` and the
#: parity entries of ``mapreduce``: half the TPC-H rows of the sf0.01
#: fixture and its 500 documents and embeddings, so one closed-loop pass
#: over each mix fits a run next to three session set-ups
SCALE = Scale(
    customers=750, suppliers=50, parts=1000, orders=7500, lineitems=30000,
    events=5000, users=75, documents=500, embeddings=500,
)

#: MapReduce input records: ``small`` is bound by per-call overhead;
#: ``large`` pushes 25 times the rows through both shuffles (200,000
#: word pairs for the word count).  A call costs about 3.5 s at either
#: size, and even 50,000 records only add half a second a call
SIZES = {"small": 400, "large": 10000}

#: catalog-warm: relational TPC-H, joins and windows; text; dedup;
#: similarity; Arrow Python UDFs.  Keyed caches are built by an
#: untimed pass first, so every dedup/similarity entry reads a cache.
WARM_MIX = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "window_top3_per_customer",
    "word_count",
    "lang_id_ngram_profile",
    "dedup_ngram_jaccard",
    "ann_ivf_label",
    "arrow_python_udf",
    "grouped_map_top2",
]

#: catalog-cold: one consumer per keyed-cache family (comment: family)
#: plus scan-only relational queries; every operation reads a corpus
#: written just before it, so every cache it touches builds
COLD_MIX = [
    "dedup_ngram_jaccard",  # shingles → postings → candidates → verified pairs
    "moore_lewis_selection",  # Moore-Lewis scored frame
    "nb_calibration_report",  # naive-Bayes scored frame
    "lang_id_ngram_profile",  # language-ID profile
    "dedup_incremental_bloom",  # Bloom corpus + bits
    "merge_upsert_orders",  # planning scalars (table max)
    "ann_ivf_label",  # trained Python models (k-means codebook)
    "q1_pricing_summary",  # scan only
]

#: parity entries of the mapreduce workload and the table each reads
PARITY = {"parity_word_count": "documents", "parity_secondary_sort": "lineitem"}


class ZipfWordCount(MapReduce):
    """2-tuple word count: generator mapper, return reducer."""

    def mapper(self, item):
        for word in item.split():
            yield word, 1

    def reducer(self, key, values):
        return key, sum(values)


def expect_word_count(docs):
    counts = {}
    for doc in docs:
        for word in doc.split():
            counts[word] = counts.get(word, 0) + 1
    return counts


class SkewedSecondarySort(MapReduce):
    """3-tuple ``(key, ts, value)`` sorted on ``(ts, value)`` descending;
    the reducer proves the order with a position-weighted checksum."""

    sort_map_with_value = True
    sort_map_reverse = True

    def mapper(self, item):
        return item

    def reducer(self, key, values):
        return key, (len(values), values[0], sum(i * v for i, v in enumerate(values, 1)))


def expect_secondary_sort(rows):
    groups = {}
    for key, ts, value in rows:
        groups.setdefault(key, []).append((ts, value))
    out = {}
    for key, tails in groups.items():
        values = [v for _, v in sorted(tails, reverse=True)]
        out[key] = (len(values), values[0], sum(i * v for i, v in enumerate(values, 1)))
    return out


class TwoStageRekey(MapReduce):
    """Visits grouped by user, re-keyed by the user's distinct-item
    count (capped at 10); the second phase lists each bucket's users
    in ascending order."""

    sort_reduce_with_value = True

    def mapper(self, item):
        return item

    def reducer(self, key, values):
        yield min(len(set(values)), 10), key


def expect_rekey(visits):
    items = {}
    for user, item in visits:
        items.setdefault(user, []).append(item)
    buckets = {}
    for user, seen in items.items():
        buckets.setdefault(min(len(set(seen)), 10), []).append(user)
    return {b: sorted(users) for b, users in buckets.items()}


#: job name → (MapReduce class, input generator, expected-dict function)
JOBS = {
    "wordcount": (ZipfWordCount, datagen.zipf_docs, expect_word_count),
    "secondary_sort": (SkewedSecondarySort, datagen.skewed_triples, expect_secondary_sort),
    "rekey": (TwoStageRekey, datagen.visits, expect_rekey),
}
