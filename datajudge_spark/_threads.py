"""Run independent Spark-bound calls on a few driver threads at once.

Most jobs of a spec are short and run on a few of the cores, so a
suite that submits them one after another is bound by per-job latency.
Calls that share no mutable state can overlap their jobs instead.

Each call runs in its own copy of the caller's ``contextvars`` context,
so the caller's open ``cache_scope`` and source memo are what it sees,
and a scope it opens is its own.  Before its first call a worker thread
takes a clone of the caller's JVM local properties, as
``pyspark.InheritableThread`` does: job tags, job group, scheduler pool
and call site reach the worker's jobs.  It also takes the session's own
tags and makes the session active on its JVM thread.  That needs
pinned threads (py4j's ``ClientServer``, PySpark's default), which give
each Python thread a JVM thread of its own; without them the calls run
one after another in the caller's thread.
"""

from __future__ import annotations

import contextvars
import queue
import threading
from collections.abc import Callable, Sequence
from typing import TypeVar

from py4j.clientserver import ClientServer
from pyspark import SparkContext
from pyspark.sql import SparkSession

_T = TypeVar("_T")

#: Calls of one ``run_overlapped`` that run at once, the caller's
#: thread included.
MAX_THREADS = 4


def can_overlap() -> bool:
    """Whether Python threads get JVM threads of their own (pinned
    threads), so that each can carry the caller's local properties."""
    return isinstance(SparkContext._gateway, ClientServer)


def run_overlapped(
    spark: SparkSession, calls: Sequence[Callable[[], _T]]
) -> list[_T]:
    """``[call() for call in calls]``, with up to ``MAX_THREADS`` calls
    running at once: the caller's thread and ``MAX_THREADS - 1`` worker
    threads take the calls in order.

    Every call runs to its end, even after another one raised; then the
    exception of the lowest-index call that raised is raised.  The
    worker threads have ended when this returns or raises.  With fewer
    than two calls, or without pinned threads, the calls run in order
    in the caller's thread and the first exception stops them.
    """
    if len(calls) < 2 or not can_overlap():
        return [call() for call in calls]
    todo: queue.SimpleQueue = queue.SimpleQueue()
    for index, call in enumerate(calls):
        todo.put((index, contextvars.copy_context(), call))
    outcomes: list = [None] * len(calls)

    def drain(catch: type[BaseException]) -> None:
        while True:
            try:
                index, context, call = todo.get_nowait()
            except queue.Empty:
                return
            try:
                outcomes[index] = (True, context.run(call))
            except catch as exc:
                outcomes[index] = (False, exc)

    jsc = spark.sparkContext._jsc.sc()
    tags = spark.getTags()

    def work(props) -> None:
        jsc.setLocalProperties(props)
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        for tag in tags:
            spark.addTag(tag)
        drain(BaseException)

    # one clone per worker: a job group one worker sets stays its own
    workers = [
        threading.Thread(
            target=work,
            args=(jsc.getLocalProperties().clone(),),
            name=f"datajudge-spark-{n}",
            daemon=True,
        )
        for n in range(min(len(calls), MAX_THREADS) - 1)
    ]
    for worker in workers:
        worker.start()
    try:
        drain(Exception)
    except BaseException:
        # an interrupt in the caller: the workers take no further call
        try:
            while True:
                todo.get_nowait()
        except queue.Empty:
            pass
        raise
    finally:
        for worker in workers:
            worker.join()
    # the caller drained the queue too, so every call has an outcome
    for ok, value in outcomes:
        if not ok:
            raise value
    return [value for _, value in outcomes]
