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
    node = ("({n}) FlatMapGroupsInPandas\n"
            "Input [2]: [tile_id#1, payload#2]\n"
            "Arguments: [tile_id#1], {udf}(tile_id#1, payload#2)#3, "
            "[tile_id#4, status#5]")
    one = "\n\n".join([node.format(n=5, udf="writer"),
                       node.format(n=9, udf="merge")])
    two = "\n\n".join([node.format(n=5, udf="writer"),
                       node.format(n=9, udf="writer")])
    assert "SINK_TWICE" not in lint_plan("x", one)
    assert "SINK_TWICE" in lint_plan("x", two)
