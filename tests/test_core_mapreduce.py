"""End-to-end parity tests for the Spark-backed ``MapReduce``.

Ports the reference's concurrency-matrix test
(/root/reference/tests/test_mapreduce_concurrency.py:31-122): word count
under the {mapper yields, returns} × {reducer yields, returns} cross
product, asserted against a stdlib ``Counter`` oracle.  Pool parameters
route to the caller-pooled in-process path, exercised by
test_core_concurrency.py; these tests cover the no-pool Spark path.
"""

from collections import Counter

import pytest

from mr_python_spark import MapReduce


class WordCountYieldYield(MapReduce):
    def mapper(self, item):
        for word in item.lower().split():
            yield word, 1

    def reducer(self, key, values):
        yield key, sum(values)

    def output(self, mapping):
        return {k: v[0] for k, v in mapping.items()}


class WordCountYieldReturn(MapReduce):
    def mapper(self, item):
        for word in item.lower().split():
            yield word, 1

    def reducer(self, key, values):
        return key, sum(values)


class WordCountReturnYield(MapReduce):
    """Mapper returns one tuple per item: input is pre-tokenized."""

    def mapper(self, item):
        return item.lower(), 1

    def reducer(self, key, values):
        yield key, sum(values)

    def output(self, mapping):
        return {k: v[0] for k, v in mapping.items()}


class WordCountReturnReturn(MapReduce):
    def mapper(self, item):
        return item.lower(), 1

    def reducer(self, key, values):
        return key, sum(values)


@pytest.mark.parametrize("cls", [WordCountYieldYield, WordCountYieldReturn])
def test_wordcount_generator_mapper(spark, cls, lines, expected_word_counts):
    task = cls()
    task.spark = spark
    assert task(lines) == expected_word_counts


@pytest.mark.parametrize("cls", [WordCountReturnYield, WordCountReturnReturn])
def test_wordcount_return_mapper(spark, cls, lines, expected_word_counts):
    words = " ".join(lines).split()
    task = cls()
    task.spark = spark
    assert task(words) == expected_word_counts


def test_pool_kwargs_route_to_pooled_path(spark, lines, expected_word_counts):
    """Supplying pool kwargs runs in-process with identical results."""
    task = WordCountYieldReturn()
    task.spark = spark
    result = task(lines, map=map, mapper_map=map, reducer_map=None)
    assert result == expected_word_counts
    assert result == task(lines)  # pooled path ≡ Spark path


def test_rdd_input(spark, lines, expected_word_counts):
    task = WordCountYieldReturn()
    task.spark = spark
    rdd = spark.sparkContext.parallelize(lines, 2)
    assert task(rdd) == expected_word_counts


def test_yield_reducer_values_are_lists(spark):
    """Return-style reducer → scalar values; yield-style → lists

    (reference behavior, SURVEY.md Appendix #1).
    """

    class Sums(MapReduce):
        def mapper(self, item):
            yield item % 2, item

        def reducer(self, key, values):
            yield key, sum(values)

    class SumsReturn(Sums):
        def reducer(self, key, values):
            return key, sum(values)

    data = list(range(10))
    y, r = Sums(), SumsReturn()
    y.spark = r.spark = spark
    assert y(data) == {0: [20], 1: [25]}
    assert r(data) == {0: 20, 1: 25}


def test_rekey_collision_first_wins(spark):
    """Re-keying reducers that collide keep only the FIRST value

    (reference behavior, SURVEY.md Appendix #2).
    """

    class Funnel(MapReduce):
        def mapper(self, item):
            return item % 4, item

        def reducer(self, key, values):
            return "all", sum(values)

    task = Funnel()
    task.spark = spark
    result = task(list(range(8)))
    assert set(result) == {"all"}
    # one of the four subtotals, not their sum
    assert result["all"] in {0 + 4, 1 + 5, 2 + 6, 3 + 7}


def test_single_key_funnel_none(spark):
    """``None`` is a legal key routing everything to one reducer call

    (docs.rst:244-276 pattern)."""

    class Total(MapReduce):
        def mapper(self, item):
            return None, item

        def reducer(self, key, values):
            return key, sum(values)

        def output(self, mapping):
            return mapping[None]

    task = Total()
    task.spark = spark
    assert task(range(1, 11)) == 55


def test_counter_values(spark, lines, expected_word_counts):
    """Values can be arbitrary Python objects, e.g. whole Counters

    (in-mapper combining, docs.rst:199-276)."""

    class WordCountCombine(MapReduce):
        def mapper(self, item):
            return None, Counter(item.lower().split())

        def reducer(self, key, values):
            total = Counter()
            for c in values:
                total.update(c)
            return key, total

        def output(self, mapping):
            return dict(mapping[None])

    task = WordCountCombine()
    task.spark = spark
    assert task(lines) == expected_word_counts


def test_heterogeneous_keys(spark):
    """Mixed None/int/str/tuple keys in one run (RDD parity)."""

    class Identity(MapReduce):
        def mapper(self, item):
            return item, 1

        def reducer(self, key, values):
            return key, sum(values)

    task = Identity()
    task.spark = spark
    data = [None, 1, "a", (1, 2), None, "a"]
    assert task(data) == {None: 2, 1: 1, "a": 2, (1, 2): 1}


def test_empty_input_raises(spark):
    """Empty sequences are unsupported (SURVEY.md Appendix #4)."""

    class WC(MapReduce):
        def mapper(self, item):
            yield item, 1

        def reducer(self, key, values):
            return key, sum(values)

    task = WC()
    task.spark = spark
    with pytest.raises((StopIteration, RuntimeError)):
        task([])


def test_distributed_call_runs_one_job_of_two_stages(spark, lines, expected_word_counts):
    """One Spark call is one job: the map stage feeding the one shuffle,
    and the reduce stage ending in ``collect()``; the arity check and the
    second partition phase run on the driver over the collected rows."""
    sc = spark.sparkContext
    group = "test_core_mapreduce.one_job"
    task = WordCountYieldReturn()
    task.spark = spark
    sc.setJobGroup(group, "MapReduce job count")
    try:
        result = task(lines)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert result == expected_word_counts
    (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
    assert len(sc.statusTracker().getJobInfo(job_id).stageIds) == 2


def _stage_tasks(spark, task, data, label):
    """Run ``task(data)`` in job group ``label``; return its one job's
    task count per stage, map stage first."""
    sc = spark.sparkContext
    group = f"test_core_mapreduce.tasks.{label}"
    sc.setJobGroup(group, "MapReduce task count")
    try:
        task(data)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    (job_id,) = tracker.getJobIdsForGroup(group)
    stages = sorted(tracker.getJobInfo(job_id).stageIds)
    return [tracker.getStageInfo(s).numTasks for s in stages]


def test_list_input_runs_one_task_per_parallelize_batch(spark, lines):
    """A list is cut into one slice per 1024-item ``parallelize`` batch, at
    most ``defaultParallelism``; the reduce side follows the map side.  An
    RDD input keeps its own partitioning."""
    sc = spark.sparkContext
    width = sc.defaultParallelism
    words = " ".join(lines).split()
    task = WordCountReturnReturn()
    task.spark = spark
    assert _stage_tasks(spark, task, words, "few") == [1, 1]
    assert _stage_tasks(spark, task, (words * 1024)[:1024], "one_batch") == [1, 1]
    many = (words * 1024 * width)[: 1024 * width + 1]
    assert _stage_tasks(spark, task, many, "many") == [width, width]
    assert _stage_tasks(spark, task, sc.parallelize(lines, 3), "rdd")[0] == 3
