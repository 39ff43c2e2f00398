"""Malformed-tuple parity suite.

Ports /root/reference/tests/test_exceptions.py:6-35: 1- and 4-element
tuples from mapper or reducer raise ``ElementCountError``.
"""

import pytest

from mr_python_spark import ElementCountError, MapReduce


class _BadMapper(MapReduce):
    def __init__(self, width):
        self.width = width

    def mapper(self, item):
        yield tuple(range(self.width))

    def reducer(self, key, values):
        yield key, values


class _BadReducer(MapReduce):
    def __init__(self, width):
        self.width = width

    def mapper(self, item):
        yield item, item

    def reducer(self, key, values):
        yield tuple(range(self.width))


@pytest.mark.parametrize("width", [1, 4])
def test_mapper_element_count(spark, width):
    task = _BadMapper(width)
    task.spark = spark
    with pytest.raises(ElementCountError):
        task([1, 2, 3])


@pytest.mark.parametrize("width", [1, 4])
def test_reducer_element_count(spark, width):
    task = _BadReducer(width)
    task.spark = spark
    with pytest.raises(ElementCountError):
        task([1, 2, 3])


def test_good_widths_pass(spark):
    class TwoTuple(MapReduce):
        def mapper(self, item):
            yield item, item

        def reducer(self, key, values):
            yield key, sum(values)

        def output(self, mapping):
            return {k: v[0] for k, v in mapping.items()}

    task = TwoTuple()
    task.spark = spark
    assert task([1, 1, 2]) == {1: 2, 2: 2}


def test_stray_three_tuple_after_two_tuple_reducer_output(spark):
    """Arity is fixed by the first reducer output; a later 3-tuple fails
    the reference's ``key, value`` unpack with a plain ``ValueError``."""

    class _StrayReducer(MapReduce):
        def mapper(self, item):
            yield item, item

        def reducer(self, key, values):
            yield key, values
            yield key, 0, values

    task = _StrayReducer()
    task.spark = spark
    with pytest.raises(ValueError):
        task([1, 2, 3])


class _Identity(MapReduce):
    """Emits each input item as the mapper tuple, unchanged."""

    def mapper(self, item):
        return item

    def reducer(self, key, values):
        yield key, values


_MIXED_ARITY = [
    # first tuple fixes 2: a later 3-tuple fails the ``key, value`` unpack
    ([("a", 1), ("b", 1, 2)], ValueError),
    # first tuple fixes 3: a later 2-tuple's tail has no value element
    ([("a", 1, 2), ("b", 1)], IndexError),
    ([("a", 1, 2), ("a", 1)], IndexError),
]


@pytest.mark.parametrize("items,error", _MIXED_ARITY)
@pytest.mark.parametrize("pooled", [False, True], ids=["spark", "pooled"])
def test_mixed_arity_mapper_output(spark, items, error, pooled):
    """Both paths raise the pooled path's own error type when a mapper
    tuple's arity differs from the first one's."""
    task = _Identity()
    task.spark = spark
    with pytest.raises(error):
        task(items, map=map if pooled else None)


@pytest.mark.parametrize("pooled", [False, True], ids=["spark", "pooled"])
def test_element_count_checks_first_tuple_of_mixed_output(spark, pooled):
    task = _Identity()
    task.spark = spark
    with pytest.raises(ElementCountError, match=r"Example: \('a', 1, 2, 3\)"):
        task([("a", 1, 2, 3), ("b", 1, 2)], map=map if pooled else None)
