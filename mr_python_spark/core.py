"""Spark-backed parity layer for the reference's ``MapReduce`` contract.

The reference (``/root/reference/tinymr.py``) is an in-memory MapReduce:
subclass ``MapReduce``, implement ``mapper()`` / ``reducer()``, call the
instance on an iterable, get a dict back.  This module re-expresses that
contract on Spark RDDs so the same user code distributes, in one Spark
job with one shuffle:

* map phase        → :func:`_tag_mapped` keys each mapper tuple and tags
  it with its ``(partition, offset)`` encounter order
* partition + sort → ``groupByKey`` (the shuffle), then
  :func:`_reduce_partition` sorts each group by tag, then by mode
* reduce phase     → the same step runs the reducers, tags outputs with
  their key's first-appearance order and summarizes its partition
* arity check      → on the driver after ``collect()``, from the
  summaries (earliest tuple, layouts seen)
* second partition → :func:`_local_partition` on the driver over the
  tag-sorted reducer output, in one process like the reference (the
  result dict needs every reducer output on the driver anyway)
* output           → the result dict + ``output()`` hook

A list input is cut into one slice per ``parallelize`` batch of
``_SLICE_ITEMS`` items, at most ``defaultParallelism`` slices, and the
shuffle keeps that partition count: every slice is a Python worker task
in each stage, with a fixed cost that does not depend on its data.  An
RDD input keeps its own partitioning.

Behavioral parity targets (all verified against the reference — see
SURVEY.md Appendix; citations are to /root/reference/tinymr.py):

* 2-tuple ``(key, value)`` vs 3-tuple ``(key, sort, value)`` dispatch,
  validated on the first element only (tinymr.py:301-308).
* Four sort modes from (tuple arity × ``sort_*_with_value``), each ×
  ``reverse`` — the mode table at docs.rst:300-307 / tinymr.py:316-343.
  Sorting is *stable* and the sort element is stripped before the
  reducer sees values.
* ``yield`` vs ``return`` semantics switch on whether the *subclass*
  hook is a generator function (tinymr.py:186, 198, 214, 226).
* Return-style reducers unwrap to a single value per key, first value
  wins on re-key collisions (tinymr.py:226-227).
* ``ElementCountError`` on 1- or 4-element tuples (tinymr.py:305-308);
  empty input raises ``StopIteration`` (tinymr.py:302).
* Output dict keys appear in first-appearance order of reducer output.

Scale note: this layer is **correctness-first** — ``groupByKey`` +
arbitrary Python objects is the faithful semantics, and ``collect()``
is the faithful action.  The capability layer
(:mod:`mr_python_spark.operators` and friends) is the **scale-first**
path: native DataFrame aggregates with map-side partial aggregation,
no driver materialization.
"""

from __future__ import annotations

import abc
import builtins
import itertools
from functools import partial
from inspect import isgeneratorfunction
from operator import itemgetter
from typing import Any, Callable, Iterable

__all__ = ["ElementCountError", "MapReduce"]

#: Items per list slice: PySpark's ``parallelize`` serialization batch
#: (``self._batchSize or 1024``, pyspark/core/context.py:860-861).
_SLICE_ITEMS = 1024


class ElementCountError(Exception):
    """Raised when a mapper/reducer tuple does not have 2 or 3 elements."""


def _emit(hook: Callable, is_gen: bool, *args):
    """Normalize a hook's output to an iterable of tuples.

    Generator hooks yield many tuples; plain hooks return exactly one
    (the reference flattens generators with ``chain.from_iterable`` and
    passes returned tuples through unchanged).
    """
    out = hook(*args)
    if is_gen:
        return out
    return (out,)


def _tag_mapped(index: int, items: Iterable, mapper: Callable, is_gen: bool):
    """Map side: run the mapper over one partition and key its tuples.

    Emits ``(t[0], ((partition, offset), t[1:]))`` per mapper tuple.  The
    ``(partition, offset)`` tag replaces the reference's implicit
    encounter order (it buckets into an insertion-ordered dict in one
    process); the tail travels whole, because arity is decided on the
    reduce side and the driver, never here.
    """
    tuples = itertools.chain.from_iterable(_emit(mapper, is_gen, item) for item in items)
    for offset, t in enumerate(tuples):
        yield t[0], ((index, offset), t[1:])


def _sort_values(payloads: list, has_sort: bool, sort_with_value: bool, reverse: bool):
    """Apply the mode table to one key's payloads; return its values.

    ``payloads`` are ``(sort, value)`` tails when ``has_sort``, else bare
    values, in encounter order; sorting is stable with respect to it,
    and the sort element is stripped.
    """
    if has_sort:
        payloads.sort(key=None if sort_with_value else itemgetter(0), reverse=reverse)
        return [p[1] for p in payloads]
    if sort_with_value:
        payloads.sort(reverse=reverse)
    return payloads


def _reduce_partition(
    groups: Iterable, reducer: Callable, is_gen: bool, sort_with_value: bool, reverse: bool
) -> list:
    """Reduce side: sort, reduce and summarize one partition of groups.

    Each ``(key, entries)`` group is put back in encounter order by tag
    and takes its layout from its tails: all of length 1 is a 2-tuple
    group (``False``), all of length 2 or more a 3-tuple group (``True``,
    cut to ``(sort, value)`` like the reference's ``[1:3]`` slice), and
    anything else is invalid (``None``), its reducer skipped.  Outputs
    are tagged ``((first_order, offset), tuple)``: sorting by tag
    restores the reference's reducer output stream, since it calls
    reducers in key first-appearance order (tinymr.py:209-211), which
    decides re-key collisions.  Returns ``[]`` for an empty partition,
    else ``[((first_order, first_tuple), layouts, outputs)]``.
    """
    earliest, layouts, outputs = None, set(), []
    for key, entries in groups:
        entries = sorted(entries, key=itemgetter(0))
        order, tail = entries[0]
        if earliest is None or order < earliest[0]:
            earliest = (order, (key, *tail))
        lengths = {len(tail) for _, tail in entries}
        if lengths == {1}:
            has_sort, payloads = False, [tail[0] for _, tail in entries]
        elif min(lengths) >= 2:
            has_sort, payloads = True, [tail[:2] for _, tail in entries]
        else:
            layouts.add(None)
            continue
        layouts.add(has_sort)
        values = _sort_values(payloads, has_sort, sort_with_value, reverse)
        outputs.extend(
            ((order, i), t) for i, t in enumerate(_emit(reducer, is_gen, key, values))
        )
    return [] if earliest is None else [(earliest, layouts, outputs)]


def _expand_mapper(item, mapper):
    """Run a generator mapper eagerly so a process pool can pickle it.

    Mirrors the reference's pool wrapping (tinymr.py:183-192, 233-251):
    a generator crossing a pool boundary must be materialized on the
    worker before results are serialized back.
    """
    return tuple(mapper(item))


def _expand_reducer(key_values, reducer):
    """Pool adapter for the reduce phase (tinymr.py:254-270).

    Pool ``map`` passes one argument, so the ``(key, values)`` pair
    arrives packed; materializing to a tuple is a no-op for
    return-style reducers and expands generator reducers.
    """
    return tuple(reducer(*key_values))


def _has_sort(first: tuple) -> bool:
    """Validate the first tuple's arity; True for ``(key, sort, value)``."""
    if len(first) not in (2, 3):
        raise ElementCountError(
            f"Expected data of size 2 or 3, not {len(first)}. "
            f"Example: {first!r}"
        )
    return len(first) == 3


def _local_partition(rows: Iterable, sort_with_value: bool, reverse: bool) -> dict:
    """One in-process partition+sort phase.

    Serves both phases of the pooled path and phase 2 of the Spark path
    (over the collected reducer output, sorted by tag).  Same semantics
    as the Spark path's phase 1: first-tuple-only arity validation,
    ``StopIteration`` on empty input, the four sort modes, sort element
    stripped before the next hook.  Insertion order of the returned
    dict is first-appearance order, which in one process is what the
    Spark path's order tags reconstruct.
    """
    rows = iter(rows)
    first = next(rows)  # empty input: unprotected peek, like tinymr.py:302
    has_sort = _has_sort(first)
    buckets: dict[Any, list] = {}
    if has_sort:
        for t in itertools.chain((first,), rows):
            buckets.setdefault(t[0], []).append(tuple(t[1:3]))
    else:
        for key, value in itertools.chain((first,), rows):
            buckets.setdefault(key, []).append(value)
    return {
        k: _sort_values(payloads, has_sort, sort_with_value, reverse)
        for k, payloads in buckets.items()
    }


class MapReduce(abc.ABC):
    """Distributed MapReduce with the reference's user contract.

    Subclassers implement ``mapper()`` and ``reducer()`` (each may
    ``return`` one tuple or ``yield`` many), optionally override
    ``output()`` and the four sort-flag properties, then call the
    instance on any iterable (or an existing RDD)::

        class WordCount(MapReduce):
            def mapper(self, item):
                for word in item.split():
                    yield word.lower(), 1
            def reducer(self, key, values):
                return key, sum(values)

        WordCount()(["a b a"])  # {'a': 2, 'b': 1}

    ``map`` / ``mapper_map`` / ``reducer_map`` (caller-injected
    thread/process pools in the reference; ``map`` is the default for
    both phase hooks, tinymr.py:156-173, docs.rst:309-331) select the
    **caller-pooled path**: when any is supplied, the caller owns
    parallelism, so the pipeline runs in-process dispatching each phase
    through the supplied callables — identical semantics, no Spark job.
    With none supplied, Spark owns parallelism and the pipeline runs
    distributed: a list runs as one task per 1,024 items in each
    stage, up to ``defaultParallelism``, while an RDD input keeps its
    own partitioning.  A caller whose few items are each slow to map
    gets more parallelism by passing ``sc.parallelize(items, n)``.

    Hooks must be pure functions of their arguments: on the Spark path
    reducers may run on groups whose output is discarded when the
    driver then raises an arity error, and Spark retries failed tasks,
    so a hook may run more than once per input.
    """

    #: Optional SparkSession; resolved lazily if left None.
    spark = None

    def __getstate__(self):
        # Hooks are shipped to executors as bound methods, which pickles
        # the instance; the session is driver-only state (SPARK-5063).
        state = self.__dict__.copy()
        state.pop("spark", None)
        return state

    # -- user hooks ----------------------------------------------------

    @abc.abstractmethod
    def mapper(self, item):
        """Produce ``(key, value)`` or ``(key, sort, value)`` tuples.

        May ``return`` a single tuple or ``yield`` any number of them.
        The presence of the ``sort`` element triggers sorting before
        ``reducer()`` runs.
        """
        raise NotImplementedError  # pragma: no cover

    @abc.abstractmethod
    def reducer(self, key, values):
        """Reduce one key's values; emit tuples like ``mapper()``.

        ``values`` is a list, sorted according to the sort flags, with
        any sort elements already stripped.  May emit a different key
        than it received (re-keying).
        """
        raise NotImplementedError  # pragma: no cover

    def output(self, mapping: dict):
        """Final hook over the result dict; default is identity."""
        return mapping

    # -- sort flags (overridable as plain class attributes) ------------

    @property
    def sort_map_with_value(self) -> bool:
        """Include the value when sorting mapper output."""
        return False

    @property
    def sort_map_reverse(self) -> bool:
        """Sort mapper output descending."""
        return False

    @property
    def sort_reduce_with_value(self) -> bool:
        """Include the value when sorting reducer output."""
        return False

    @property
    def sort_reduce_reverse(self) -> bool:
        """Sort reducer output descending."""
        return False

    # -- execution -----------------------------------------------------

    def _get_spark(self):
        if self.spark is not None:
            return self.spark
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            return active
        from mr_python_spark.session import get_spark

        return get_spark()

    def __call__(self, sequence, map=None, mapper_map=None, reducer_map=None):
        """Run the full map → partition → reduce → partition → output pipeline.

        ``map`` is the default pool for both phases; ``mapper_map`` /
        ``reducer_map`` override it per phase (tinymr.py:156-173).  Any
        of the three routes execution to the caller-pooled in-process
        path; otherwise the pipeline runs on Spark.
        """
        mapper_map = mapper_map or map
        reducer_map = reducer_map or map
        if mapper_map is not None or reducer_map is not None:
            return self._run_pooled(sequence, mapper_map, reducer_map)
        sc = self._get_spark().sparkContext

        from pyspark import RDD

        if isinstance(sequence, RDD):
            rdd = sequence
        else:
            items = list(sequence)
            slices = -(-len(items) // _SLICE_ITEMS)
            rdd = sc.parallelize(items, max(1, min(slices, sc.defaultParallelism)))

        mapper = self.mapper
        reducer = self.reducer
        reducer_is_gen = isgeneratorfunction(reducer)
        parts = (
            rdd.mapPartitionsWithIndex(
                partial(_tag_mapped, mapper=mapper, is_gen=isgeneratorfunction(mapper))
            )
            .groupByKey()
            .mapPartitions(
                partial(
                    _reduce_partition,
                    reducer=reducer,
                    is_gen=reducer_is_gen,
                    sort_with_value=self.sort_map_with_value,
                    reverse=self.sort_map_reverse,
                )
            )
            .collect()
        )
        if not parts:
            # Empty input is unsupported, exactly like the reference's
            # unprotected peek (tinymr.py:302).
            raise StopIteration("empty mapper output")
        # The first mapper tuple is the partitions' earliest (tags are unique).
        (_, first), _, _ = min(parts, key=lambda part: part[0][0])
        has_sort = _has_sort(first)
        if set().union(*(layouts for _, layouts, _ in parts)) != {has_sort}:
            # What the pooled path's partition loop raises on a tuple of
            # another arity: the ``key, value`` unpack, or ``[1]`` of a
            # short tail.
            raise (IndexError if has_sort else ValueError)(
                f"mapper tuple arities differ from the first tuple {first!r}"
            )
        rows = sorted(
            itertools.chain.from_iterable(out for _, _, out in parts),
            key=itemgetter(0),
        )
        return self._finish((t for _, t in rows), reducer_is_gen)

    def _run_pooled(self, sequence, mapper_map, reducer_map):
        """Caller-pooled execution: the reference's concurrency contract.

        The supplied callables must be ``map()``-compatible (e.g.
        ``ProcessPoolExecutor.map``, ``multiprocessing.Pool.map``) and
        order-preserving, per the reference's documented requirement
        (docs.rst:309-331).  Each may be None, in which case that phase
        runs through ``builtins.map``.  Process pools serialize work, so
        generator hooks are expanded on the worker via the module-level
        adapters before results cross back.
        """
        mapper_is_gen = isgeneratorfunction(self.mapper)
        reducer_is_gen = isgeneratorfunction(self.reducer)

        if mapper_map is not None and mapper_is_gen:
            mapped = mapper_map(partial(_expand_mapper, mapper=self.mapper), sequence)
        else:
            mapped = (mapper_map or builtins.map)(self.mapper, sequence)
        if mapper_is_gen:
            mapped = itertools.chain.from_iterable(mapped)

        groups = _local_partition(
            mapped, self.sort_map_with_value, self.sort_map_reverse
        )

        if reducer_map is not None:
            reduced = reducer_map(
                partial(_expand_reducer, reducer=self.reducer), groups.items()
            )
        else:
            reduced = (self.reducer(k, v) for k, v in groups.items())
        if reducer_is_gen:
            reduced = itertools.chain.from_iterable(reduced)

        return self._finish(reduced, reducer_is_gen)

    def _finish(self, reduced, reducer_is_gen: bool):
        """Phase 2 of both paths, in process, over the reducer output.

        Partitions and sorts it, unwraps return-style values, runs
        ``output()``.
        """
        mapping = _local_partition(
            reduced, self.sort_reduce_with_value, self.sort_reduce_reverse
        )
        if not reducer_is_gen:
            # Return-style reducer: unwrap; first value wins collisions.
            mapping = {k: v[0] for k, v in mapping.items()}
        return self.output(mapping)
