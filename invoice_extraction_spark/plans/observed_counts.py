"""Exact row counts from named observations, read off the executed plan.

``df.observe(name, count(1))`` puts a ``CollectMetrics`` node into the
plan, and the action that runs the plan fills it — so a job can learn how
many rows each of its stages kept without a ``count()`` per stage. But a
stage frame that is read in several branches appears as several copies of
that node, and Spark keeps the value of just one of them. A copy is only
exact when its consumer reads every row: a sort-merge semi join stops
pulling its left side once the right side runs out, so a copy beneath one
counts a prefix of each partition (seen: 22 of 51 rows).

``ObservedCounts`` therefore ignores Spark's pick. Around an action it
walks the executed plan of every query that finishes and takes a name's
count only from a copy that the plan proves was read in full:

- a query that finished produced its whole result at its root (a limit
  at the root, like any operator not listed here, is not trusted);
- a shuffle's map side and a broadcast read their whole input, whatever
  reads their output;
- the operators in ``_READS_ALL`` read every input row whenever their own
  output is read in full;
- a join reads its streamed side in full only for the join types in
  ``_STREAMED_IN_FULL`` (inner and semi joins may stop early); its other
  side is never trusted.

A name with no such copy, or whose copies disagree, has no count; nor has
any name when a stage of the action was re-attempted (map tasks that run
again add to the counts again) or speculation is on. The caller recounts
those.
"""

from __future__ import annotations

import traceback
import uuid

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

# Operators that read every row of every child whenever their own output
# is read in full. MapInPandas/MapInArrow hold for this package's kernels,
# which all iterate their whole batch iterator.
_READS_ALL = frozenset(
    {
        "AQEShuffleReadExec",
        "ArrowEvalPythonExec",
        "BatchEvalPythonExec",
        "CoalesceExec",
        "CollectMetricsExec",
        "ColumnarToRowExec",
        "DataWritingCommandExec",
        "ExpandExec",
        "FilterExec",
        "GenerateExec",
        "HashAggregateExec",
        "InputAdapter",
        "MapInArrowExec",
        "MapInPandasExec",
        "ObjectHashAggregateExec",
        "ProjectExec",
        "SampleExec",
        "SortAggregateExec",
        "SortExec",
        "UnionExec",
        "WholeStageCodegenExec",
        "WriteFilesExec",
    }
)

# Map sides: computed whole, however much of their output is read.
_EXCHANGES = frozenset({"ShuffleExchangeExec", "BroadcastExchangeExec"})

# Join types that emit or test every streamed row.
_STREAMED_IN_FULL = frozenset({"LeftOuter", "RightOuter", "FullOuter", "LeftAnti", "ExistenceJoin"})


def _name(obj) -> str:
    return obj.getClass().getSimpleName().rstrip("$")


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _join_sides_in_full(node, kind: str) -> list[bool]:
    """Which children of a join its task reads in full, given that the
    join's own output is read in full."""
    jt = _name(node.joinType())
    if kind == "SortMergeJoinExec":
        if jt == "FullOuter":
            return [True, True]
        if jt == "RightOuter":
            return [False, True]
        return [jt in _STREAMED_IN_FULL, False]
    # hash joins stream the side that is not built
    if jt not in _STREAMED_IN_FULL or (jt == "LeftAnti" and node.isNullAwareAntiJoin()):
        # a null-aware anti join returns nothing, unread, once the build
        # side holds a null key
        return [False, False]
    streamed_left = _name(node.buildSide()) == "BuildRight"
    return [streamed_left, not streamed_left]


def fully_read_counts(plan) -> dict[str, list[int]]:
    """Every ``CollectMetrics`` copy in an executed plan that the plan
    proves was read in full, as name -> the counts of those copies (the
    first metric of each). Adaptive plans are walked through their final
    plan and query stages; reused exchanges and subqueries are skipped
    (their copies are not trusted)."""
    out: dict[str, list[int]] = {}
    todo = [(plan, True)]
    while todo:
        node, in_full = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), in_full))
            continue
        if kind in ("ShuffleQueryStageExec", "BroadcastQueryStageExec", "ResultQueryStageExec"):
            todo.append((node.plan(), in_full))
            continue
        if kind == "CollectMetricsExec" and in_full:
            out.setdefault(node.name(), []).append(node.collectedMetrics().get(0))
        kids = _children(node)
        if kind in _EXCHANGES:
            sides = [True] * len(kids)
        elif kind in _READS_ALL:
            sides = [in_full] * len(kids)
        elif kind in ("SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec"):
            sides = [in_full and s for s in _join_sides_in_full(node, kind)]
        else:
            sides = [False] * len(kids)
        todo.extend(zip(kids, sides))
    return out


class _Listener:
    """QueryExecutionListener (through the py4j callback server) that
    records the fully read copies of every finished query."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self):
        self.copies: dict[str, list[int]] = {}
        self.error: str | None = None

    def onSuccess(self, func_name, qe, duration_ns):
        # called from the JVM's listener bus: nothing may escape
        try:
            for name, counts in fully_read_counts(qe.executedPlan()).items():
                self.copies.setdefault(name, []).extend(counts)
        except Exception:
            self.error = "a plan could not be read: " + traceback.format_exc()

    def onFailure(self, func_name, qe, exception):
        pass

    # Java Object methods the bus calls on the proxy while removing a
    # listener; py4j hands a proxy of this object back as the object itself
    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self) & 0x7FFFFFFF


class ObservedCounts:
    """Context manager around the action(s) that fill a job's observations.

        with ObservedCounts(spark) as seen:
            commit(observed_frame)
        n = seen.get("stage:x")  # None: no copy proved exact; recount

    ``error`` says why no count is trusted at all, or is None.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._tag = f"observed-counts-{uuid.uuid4().hex[:12]}"
        self._listener = _Listener()
        self.error: str | None = "counts are read when the block exits"

    def __enter__(self) -> "ObservedCounts":
        from pyspark.java_gateway import ensure_callback_server_started

        sc = self._spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        # pin ONE JVM proxy of the listener: py4j makes a new proxy per
        # call, and unregister only removes the proxy that was registered
        box = sc._jvm.java.util.ArrayList()
        box.add(self._listener)
        self._proxy = box.get(0)
        self._spark._jsparkSession.listenerManager().register(self._proxy)
        sc.addJobTag(self._tag)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        sc = self._spark.sparkContext
        sc.removeJobTag(self._tag)
        try:
            # listeners run on Spark's listener bus, after the action returns
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.error = self._listener.error or self._counted_twice()
        except Py4JError as e:
            # the action has already committed its output: a count that
            # cannot be read is recounted, never raised
            self.error = f"the listener bus could not be read: {e}"
        finally:
            self._spark._jsparkSession.listenerManager().unregister(self._proxy)
        if exc_type is not None:
            self.error = "the action failed"

    def _counted_twice(self) -> str | None:
        """Why a count may hold rows twice, or None: a stage of the action
        ran again (its map tasks add to the counts again) or speculation
        is on."""
        sc = self._spark.sparkContext
        if sc.getConf().get("spark.speculation", "false").lower() == "true":
            return "speculation is on"
        tracker = sc.statusTracker()
        for job_id in sc._jsc.sc().statusTracker().getJobIdsForTag(self._tag):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage and stage.currentAttemptId > 0:
                    return f"stage {stage_id} ran {stage.currentAttemptId + 1} times"
        return None

    def get(self, name: str) -> int | None:
        """The row count of observation ``name``, or None when no copy of
        it was proved to be read in full (or its copies disagree)."""
        counts = set(self._listener.copies.get(name, ()))
        return counts.pop() if self.error is None and len(counts) == 1 else None
