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
