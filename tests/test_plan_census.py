"""Plan census of the operator registry: every ``queries()`` entry, built at
sf0.001 with no action of its own, plans its Python as vectorized Arrow
nodes and scans no frame made from Python rows.

- No ``BatchEvalPython`` (a row-at-a-time Python UDF) in the executed plan.
- No existing-RDD scan (``LogicalRDD``, or ``RDDScanExec`` under a cached
  relation) whose lineage holds a ``PythonRDD``: such a frame pickles its
  rows through Python and forks a second worker pool of its own. Driver
  data goes through ``session.local_frame`` (a ``LocalRelation``);
  ``localCheckpoint`` scans stay allowed, their lineage is JVM-only.
"""

import pytest

import __spark_entry__ as entrymod
from test_entry_oracles import SF_DIR


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _python_rdd_scans(plan) -> list[str]:
    """The existing-RDD scans under ``plan`` (children, subqueries, cached
    relations) whose RDD lineage holds a ``PythonRDD``."""
    found, todo = [], [plan]
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind in ("LogicalRDD", "RDDScanExec"):
            lineage = p.rdd().toDebugString()
            if "PythonRDD" in lineage:
                found.append(lineage)
        elif kind == "InMemoryRelation":
            todo.append(p.cacheBuilder().cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        todo += _seq(p.children()) + _seq(p.subqueries())
    return found


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_entry_plans_no_row_python(spark, name):
    qe = entrymod.queries()[name](spark, SF_DIR)._jdf.queryExecution()
    assert "BatchEvalPython" not in qe.executedPlan().toString(), name
    assert not _python_rdd_scans(qe.optimizedPlan()), name


def test_local_frame_builds_declared_types(spark):
    """``session.local_frame``: numpy columns and filled values in one
    block, Python rows as blocks of one, a DDL schema whose decimal type
    holds a comma, nested and binary values, nulls, and no rows at all,
    each as a ``LocalRelation`` of exactly the declared types."""
    from decimal import Decimal

    import numpy as np
    from pyspark.sql.types import StructType

    from grandine_spark.session import local_frame

    ddl = ("z int, x long, q decimal(10,2), tags map<string,string>, "
           "ids array<long>, wkb binary, d double")
    df = local_frame(spark, [
        (7, np.array([1, 2]), Decimal("1.50"), {"b": "1", "a": "2"}, [3, 4], b"\x01\x00", None),
        (None, 9, Decimal("-2.25"), {}, [], b"", 0.5),
    ], ddl)
    assert df.schema == StructType.fromDDL(ddl)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    rows = [(r.z, r.x, r.q, dict(r.tags), list(r.ids), bytes(r.wkb), r.d) for r in df.collect()]
    assert rows == [
        (7, 1, Decimal("1.50"), {"b": "1", "a": "2"}, [3, 4], b"\x01\x00", None),
        (7, 2, Decimal("1.50"), {"b": "1", "a": "2"}, [3, 4], b"\x01\x00", None),
        (None, 9, Decimal("-2.25"), {}, [], b"", 0.5),
    ]
    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.count() == 0
