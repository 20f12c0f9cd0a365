"""Column trees built once per JVM.

Every function, operator and literal of a PySpark Column expression is one
py4j round trip to the driver JVM, so a builder that returns the same tree on
every call (the geocode, the score, the tile assignment) pays hundreds of
round trips per query for no new work. A JVM Column is an immutable
description that any number of DataFrames can share: each DataFrame that
uses it analyzes it afresh and gives its aliases their own expression ids.

``per_jvm`` memoizes such a builder by its arguments, for as long as the
PySpark gateway that built the trees is the current one; a relaunched JVM
gets a new gateway and rebuilds them. Only trees without a Python UDF may go
through it: a ``PythonUDF`` fixes its result id when its Column is built, so
two plans sharing one cached UDF Column would share that id.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext

_gateway = None
_trees: dict = {}


def per_jvm(builder):
    """Decorator: ``builder(*args)`` runs once per gateway and argument tuple
    (the arguments must be hashable); later calls return the same Columns,
    which callers must not mutate: return tuples, or a dict for
    ``withColumns``."""

    @functools.wraps(builder)
    def cached(*args):
        global _gateway
        if SparkContext._gateway is not _gateway:
            _trees.clear()
            _gateway = SparkContext._gateway
        key = (builder, args)
        try:
            return _trees[key]
        except KeyError:
            # threads that miss together each build a tree; all are correct,
            # and every caller gets the one kept
            return _trees.setdefault(key, builder(*args))

    return cached
