"""Registry-wide plan lint: every harness query's optimized plan is free
of cartesian products, row-at-a-time Python UDFs, and fact-scale
single-partition funnels — or carries an explicit, justified exemption
in tools/plan_lint.py. The generalization of the hand-picked audits in
test_plans.py to ALL queries, so a new query can't silently regress the
scale discipline.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from gfw_pixetl_spark import harness
from tests.conftest import SF_SMOKE
from tools.plan_lint import EXEMPTIONS, lint_plan


@pytest.mark.parametrize("name", sorted(harness.QUERIES))
def test_plan_is_clean(name, spark):
    df = harness.QUERIES[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    flags = lint_plan(name, buf.getvalue())
    exempt = EXEMPTIONS.get(name, {})
    bad = {rule: msg for rule, msg in flags.items() if rule not in exempt}
    assert not bad, f"{name}: {bad} (add a justified exemption or fix the plan)"


def test_tile_status_frame_has_one_sink(spark):
    """The raster tile job's unfiltered status frame (q71 filters it to
    processed tiles, which can prune a duplicated status branch) holds
    the tile writer once."""
    from gfw_pixetl_spark.harness.tileops import q71_statuses

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q71_statuses(spark).explain("formatted")
    assert lint_plan("q71_raster_tile_job:statuses", buf.getvalue()) == {}


def test_sink_twice_rule_fires_on_two_writers():
    """The fused tile job (a ``MapInPandas``) and the payload writer (a
    ``FlatMapGroupsInPandas``) are both tile sinks: any two of them
    fire, one next to another Python node does not."""
    grouped = ("({n}) FlatMapGroupsInPandas\n"
               "Input [2]: [tile_id#1, payload#2]\n"
               "Arguments: [tile_id#1], {udf}(tile_id#1, payload#2)#3, "
               "[tile_id#4, status#5]")
    mapped = ("({n}) MapInPandas\n"
              "Input [2]: [tile_id#1, uris#2]\n"
              "Arguments: {udf}(tile_id#1, uris#2)#3, "
              "[tile_id#4, status#5], false")

    def flags(*nodes):
        plan = "\n\n".join(node.format(n=5 + 4 * i, udf=u)
                            for i, (node, u) in enumerate(nodes))
        return lint_plan("x", plan)

    assert "SINK_TWICE" not in flags((grouped, "writer"), (grouped, "merge"))
    assert "SINK_TWICE" not in flags((mapped, "tile_job"), (grouped, "merge"))
    # a map-side function that happens to be called ``writer`` is no sink
    assert "SINK_TWICE" not in flags((mapped, "tile_job"), (mapped, "writer"))
    assert "SINK_TWICE" in flags((grouped, "writer"), (grouped, "writer"))
    assert "SINK_TWICE" in flags((mapped, "tile_job"), (mapped, "tile_job"))
    assert "SINK_TWICE" in flags((mapped, "tile_job"), (grouped, "writer"))
    # the tile job anchors the rule whichever operator runs it
    assert "SINK_TWICE" in flags((grouped, "tile_job"), (grouped, "writer"))


def test_tile_status_frame_plans_without_python(spark):
    """Tile planning runs on the driver and in the JVM: nothing under
    the fused tile job of the status frame starts a Python worker."""
    from gfw_pixetl_spark.harness.tileops import q71_statuses

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q71_statuses(spark).explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"^Arguments: tile_job\(", plan, re.M)
    assert "PY_PLANNING" not in lint_plan("q71_raster_tile_job:statuses", plan)


def test_py_planning_rule_fires_below_the_kernel():
    """The status-frame shape before planning moved into the JVM: a
    Python tile seed and an RDD-scanned catalog under the payload path's
    window kernel."""
    tree = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- FlatMapGroupsInPandas (11)
   +- Sort (10)
      +- Exchange (9)
         +- MapInPandas (8)
            +- BroadcastNestedLoopJoin Inner BuildRight (7)
               :- {seed}
               :  +- Range (1)
               +- BroadcastExchange (6)
                  +- {catalog}
"""
    details = [
        "(8) MapInPandas\nInput [2]: [tile_id#2, uris#26]\n"
        "Arguments: window_kernel(tile_id#2, uris#26)#27, [tile_id#28], false",
        "(11) FlatMapGroupsInPandas\nInput [1]: [tile_id#28]\n"
        "Arguments: [tile_id#28], writer(tile_id#28)#29, [tile_id#30]",
    ]

    def flags(seed, catalog):
        plan = "\n\n".join([tree.format(seed=seed, catalog=catalog)]
                           + details)
        return lint_plan("x", plan).get("PY_PLANNING", "")

    assert "MapInPandas" in flags("MapInPandas (2)", "LocalTableScan (5)")
    assert "Scan ExistingRDD" in flags("Project (2)", "Scan ExistingRDD (5)")
    # the writer above the kernel is not planning
    assert flags("Project (2)", "LocalTableScan (5)") == ""


def test_py_planning_rule_fires_below_the_tile_job():
    """The fused tile job is the first Python stage of the production
    status frame, a ``MapInPandas`` over the driver's tile plan: a
    Python node or an RDD scan under it fires, whether the tiles come
    from that local relation or from a Spark-planned join."""
    tree = """== Physical Plan ==
{job_op} (11)
+- {below}
"""
    job = ("(11) {job_op}\nInput [2]: [tile_id#2, uris#26]\n"
           "Arguments: {keys}tile_job(tile_id#2, uris#26)#27, "
           "[tile_id#28, status#29]")
    joined = """ObjectHashAggregate (7)
   +- Exchange (6)
      +- BroadcastNestedLoopJoin Inner BuildRight (5)
         :- {seed}
         :  +- Range (1)
         +- BroadcastExchange (4)
            +- {catalog}"""

    def flags(below, job_op="MapInPandas", keys=""):
        plan = "\n\n".join([tree.format(job_op=job_op, below=below),
                             job.format(job_op=job_op, keys=keys)])
        return lint_plan("x", plan).get("PY_PLANNING", "")

    assert flags("LocalTableScan (1)") == ""
    assert "Scan ExistingRDD" in flags("Scan ExistingRDD (1)")
    assert "ArrowEvalPython" in flags(
        "ArrowEvalPython (2)\n   +- LocalTableScan (1)")
    for seed, catalog, fired in [
            ("MapInPandas (2)", "LocalTableScan (3)", "MapInPandas"),
            ("ArrowEvalPython (2)", "LocalTableScan (3)", "ArrowEvalPython"),
            ("Project (2)", "Scan ExistingRDD (3)", "Scan ExistingRDD"),
            ("Project (2)", "LocalTableScan (3)", "")]:
        below = joined.format(seed=seed, catalog=catalog)
        got = flags(below)
        assert (fired in got) if fired else got == ""
        # the same tile job run by a grouped node anchors the rule too
        got = flags(below, "FlatMapGroupsInPandas", "[tile_id#2], ")
        assert (fired in got) if fired else got == ""
