"""Sort-semantics parity suite.

Ports /root/reference/tests/test_mapreduce_sorting.py:9-167: every row of
the four-mode sort table (docs.rst:300-307) × ``reverse``, plus the
composite ``(year, month)`` sort with shuffled input.  Sort elements
must be stripped before the reducer sees values.
"""

import random

import pytest

from mr_python_spark import MapReduce


class _PassThrough(MapReduce):
    """Reducer passes the (already sorted) value list through."""

    def reducer(self, key, values):
        yield key, values

    def output(self, mapping):
        return {k: v[0] for k, v in mapping.items()}


def test_no_sort_two_tuple(spark):
    """(key, value) + sort_with_value=False → no sort, encounter order."""

    class Task(_PassThrough):
        def mapper(self, item):
            return None, item

    t = Task()
    t.spark = spark
    assert t(spark.sparkContext.parallelize([2, 3, 1], 4)) == {None: [2, 3, 1]}


@pytest.mark.parametrize("reverse", [False, True])
def test_sort_by_value_two_tuple(spark, reverse):
    """(key, value) + sort_with_value=True → sort by value."""

    class Task(_PassThrough):
        sort_map_with_value = True
        sort_map_reverse = reverse

        def mapper(self, item):
            return None, item

    t = Task()
    t.spark = spark
    expected = sorted([2, 3, 1], reverse=reverse)
    assert t([2, 3, 1]) == {None: expected}


@pytest.mark.parametrize("reverse", [False, True])
def test_sort_by_sort_element(spark, reverse):
    """(key, sort, value) → sort by the sort element, then strip it."""

    class Task(_PassThrough):
        sort_map_reverse = reverse

        def mapper(self, item):
            sort_idx, letter = item
            return None, sort_idx, letter

    data = [(3, "a"), (2, "b"), (1, "c")]
    expected = [x[1] for x in sorted(data, reverse=reverse)]
    t = Task()
    t.spark = spark
    assert t(data) == {None: expected}


@pytest.mark.parametrize("reverse", [False, True])
def test_sort_with_sort_and_value(spark, reverse):
    """(key, sort, value) + sort_with_value=True → sort by (sort, value)."""

    class Task(_PassThrough):
        sort_map_with_value = True
        sort_map_reverse = reverse

        def mapper(self, item):
            sort_idx, letter = item
            return None, sort_idx, letter

    data = [(1, "b"), (1, "a"), (2, "c"), (2, "a")]
    expected = [v for _, v in sorted(data, reverse=reverse)]
    t = Task()
    t.spark = spark
    assert t(data) == {None: expected}


def test_sort_is_stable(spark):
    """Equal sort keys keep encounter order (Python stable sort parity)."""

    class Task(_PassThrough):
        def mapper(self, item):
            sort_idx, letter = item
            return None, sort_idx, letter

    data = [(1, "x"), (1, "y"), (0, "z"), (1, "w")]
    t = Task()
    t.spark = spark
    assert t(spark.sparkContext.parallelize(data, 4)) == {None: ["z", "x", "y", "w"]}


def test_composite_sort_year_month(spark):
    """(year, month) composite sort with shuffled input

    (test_mapreduce_sorting.py:125-167 pattern)."""

    class Task(_PassThrough):
        def mapper(self, item):
            year, month, day = item
            return year, (year, month), (month, day)

    data = [
        (2000, m, d)
        for m in range(1, 13)
        for d in (5, 15)
    ] + [
        (2001, m, d)
        for m in range(1, 13)
        for d in (7,)
    ]
    shuffled = data[:]
    random.Random(42).shuffle(shuffled)

    t = Task()
    t.spark = spark
    result = t(shuffled)
    for year in (2000, 2001):
        # stable sort by (year, month) over the *shuffled* encounter
        # order — ties on day keep input order, same as the reference
        expected = [
            (m, d)
            for y, m, d in sorted(
                (x for x in shuffled if x[0] == year), key=lambda x: (x[0], x[1])
            )
        ]
        assert result[year] == expected


@pytest.mark.parametrize("reverse", [False, True])
def test_reduce_phase_sorting(spark, reverse):
    """sort_reduce_* flags order the second shuffle's value lists."""

    class Task(MapReduce):
        sort_reduce_with_value = True
        sort_reduce_reverse = reverse

        def mapper(self, item):
            return item, item

        def reducer(self, key, values):
            # re-key everything to one partition
            yield None, values[0]

        def output(self, mapping):
            return mapping[None]

    t = Task()
    t.spark = spark
    assert t([5, 3, 9, 1]) == sorted([5, 3, 9, 1], reverse=reverse)


def test_sort_element_stripped_before_reducer(spark):
    """Reducer receives bare values, already ordered

    (SURVEY.md Appendix #5)."""

    class Task(MapReduce):
        def mapper(self, item):
            return None, -item, item

        def reducer(self, key, values):
            return key, list(values)

    t = Task()
    t.spark = spark
    assert t([1, 2, 3]) == {None: [3, 2, 1]}
