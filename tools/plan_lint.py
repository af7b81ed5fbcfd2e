"""Physical-plan linter: sweep EVERY registered harness query and flag
scale anti-patterns in its optimized plan.

Rules (each with an explicit per-query exemption list — an exemption is
a documented design decision, not a silence):

* CARTESIAN   — `CartesianProduct` anywhere. Almost always a missed join
                key or a missing broadcast hint.
* PY_UDF      — `BatchEvalPython` (row-at-a-time Python). The engine
                bans these outright; Arrow kernels only.
* SINGLE_PART — `Exchange SinglePartition` feeding real work: a global
                window/sort funneling fact-scale rows through one task.
                Legitimate on dimension-sized inputs only.
* SINK_TWICE  — more than one Python node running a tile sink: the
                fused raster tile job (`tile_job`, whichever operator
                runs it; a `MapInPandas` today) or the payload writer
                (`writer`, a `FlatMapGroupsInPandas`), counted
                together. A second sink encodes, profiles and writes
                every tile again.
* PY_PLANNING — a Python-evaluated node or a `Scan ExistingRDD` leaf
                beneath the first raster Python stage: the Python node
                running the fused tile job (`tile_job`) or the payload
                path's window kernel (`window_kernel`). Tile planning
                and the file catalog are metadata, and each Python
                stage costs ~0.2-0.3 s before it does any work.

Besides every registered query, the sweep lints the raster tile job's
unfiltered status frame: q71 keeps only processed tiles, and that filter
lets Catalyst prune a status branch that could hide a second sink or a
Python planning stage.

Usage: python tools/plan_lint.py [sf_dir]     (default sf0.001)
Exit code 1 if any non-exempt flag fires; used by tests/test_plan_lint.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# query -> {rule} exemptions, each justified here:
EXEMPTIONS: dict[str, dict[str, str]] = {
    # LPT shard balancing is a deliberate total order over the DOCUMENT
    # DIMENSION (corpus metadata rows, not token payloads); the streaming
    # path hash-shards without ordering (docstring q115).
    "q115_shard_assign": {
        "SINGLE_PART": "size-ordered LPT binning over dimension-scale rows"
    },
    # the bucket-offset window runs over the POST-aggregation 16-row
    # bucket-total table (the whole point of budget_select: the fact-
    # scale prefix sum partitions BY bucket; only bucket totals see a
    # global order) — the fact scan is reduced before this window.
    "q262_token_budget_select": {
        "SINGLE_PART": "offset window over 16 aggregated bucket totals"
    },
    # same bucketed-scan discipline as q262: the global rank's offset
    # window runs over the 64-row bucket-count table; per-row ranks
    # partition BY bucket and the fact scan is reduced first.
    "q281_gini_spend": {
        "SINGLE_PART": "offset window over 64 aggregated bucket counts"
    },
    # the CUSUM prefix scan runs over the POST-aggregation daily series
    # (one row per calendar day however large the fact table — ~2400
    # rows, the q78 dimension-scale class); the fact scan reduces first.
    "q288_cusum_changepoint": {
        "SINGLE_PART": "prefix-sum window over the value-domain daily series"
    },
    # chi-square totals window over the POST-aggregation ~100-cell
    # contingency table (lang x source is value-domain-sized however
    # large the corpus); the fact scan is reduced before this window.
    "q266_chi_square_independence": {
        "SINGLE_PART": "chi2 total over the ~100-cell contingency table"
    },
    # the grand-total window runs over the POST-aggregation 25-row nation
    # table — the fact scan is reduced before the global window sees it
    # (asserted by test_revenue_share_windows_aggregated_dims).
    "q114_revenue_share": {
        "SINGLE_PART": "ratio-to-report window over 25 aggregated rows"
    },
    # the lead() over distinct rectangle edges is O(#footprints) by the
    # operator's contract (edge tables are broadcast in the same plan);
    # tile footprint counts are dimension-scale (<= ~64k, SURVEY §4).
    "q78_rect_union_area": {
        "SINGLE_PART": "edge-interval lead over O(#rects) distinct edges"
    },
    # the cumulative CDF window runs over the groupBy(n_chars) HISTOGRAM —
    # a value-domain-sized table (~500 rows however large the corpus); the
    # fact scan is reduced before the global window sees it, and the join
    # back is a broadcast range join on that table.
    "q192_quantile_normalize": {
        "SINGLE_PART": "CDF window over the value-domain histogram"
    },
    # same class as q192: the equalization CDF runs over the 13-row value
    # histogram of the raster (value-domain-sized whatever the pixel
    # count); the remap joins back as a broadcast.
    "q230_hist_equalization": {
        "SINGLE_PART": "CDF window over the 13-row value histogram"
    },
    # q281's bucketed-scan discipline: the only global windows run over
    # the 64-row bucket-total table; per-value cumulations partition BY
    # bucket and the fact scan shrinks to distinct values first.
    "q296_ks_two_sample": {
        "SINGLE_PART": "offset window over 64 aggregated bucket totals"
    },
    "q297_mann_whitney_u": {
        "SINGLE_PART": "offset window over 64 aggregated bucket totals"
    },
    "q351_spearman": {
        "SINGLE_PART": "offset window over 64 aggregated bucket totals"
    },
    "q357_abc_xyz": {
        "SINGLE_PART": "offset window over 64 aggregated bucket totals"
    },
    # at-risk + log-survival prefix sums run over the per-duration table
    # (one row per calendar-day duration, ~2400 however many customers) —
    # the q288 dimension-scale exemption class.
    "q298_kaplan_meier": {
        "SINGLE_PART": "KM windows over the value-domain duration table"
    },
    # cumulative capture runs over the POST-aggregation 10-row decile
    # table (q288's class); deciles themselves come from the distributed
    # selection, never an ntile global sort.
    "q319_gains_table": {
        "SINGLE_PART": "cumulative window over the 10-row decile table"
    },
}


import re

# physical operators that run Python (Arrow or pickled batches)
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def _tree_nodes(plan: str) -> list[tuple[int, str, str]]:
    """(indent, operator, node id) per line of the formatted plan's tree
    section, which prints parents above children at smaller indent."""
    nodes = []
    for line in plan.split("\n\n")[0].splitlines():
        m = re.search(r"([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$", line)
        if m:
            indent = len(line) - len(line.lstrip(" +-:|"))
            nodes.append((indent, m.group(1).strip(), m.group(2)))
    return nodes


def _single_partition_consumers(plan: str) -> list[str]:
    """Operators that consume a SinglePartition exchange."""
    # which node ids are SinglePartition exchanges: detail blocks are
    # blank-line-separated, "(N) Exchange" header then Input/Arguments
    sp_ids = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Exchange", block.strip())
        if m and "Arguments: SinglePartition" in block:
            sp_ids.add(m.group(1))
    if not sp_ids:
        return []
    consumers = []
    parsed = _tree_nodes(plan)
    for i, (indent, op, nid) in enumerate(parsed):
        if op == "Exchange" and nid in sp_ids:
            for j in range(i - 1, -1, -1):
                if parsed[j][0] < indent:
                    consumers.append(parsed[j][1])
                    break
    return consumers


def _udf_nodes(plan: str, udfs: tuple[str, ...],
               op: str = r"\w*(?:Python|InPandas|InArrow)\w*") -> set[str]:
    """Node ids of the nodes whose operator matches ``op`` (by default
    any Python node) and whose Arguments run one of ``udfs`` (a grouped
    node's Arguments open with its grouping keys)."""
    names = "|".join(udfs)
    return {
        m.group(1) for block in plan.split("\n\n")
        if (m := re.match(rf"\((\d+)\) {op}\b", block.strip()))
        and re.search(rf"^Arguments: (\[[^\]]*\], )?({names})\(",
                      block, re.M)
    }


def _python_below_first_stage(plan: str) -> list[str]:
    """Python-evaluated operators and RDD scans (``Scan ExistingRDD``,
    whose rows a Python task produces) in the subtree under the raster
    pipe's first Python stage: the node running ``tile_job`` or
    ``window_kernel``."""
    kernel_ids = _udf_nodes(plan, ("tile_job", "window_kernel"))
    found = []
    nodes = _tree_nodes(plan)
    for i, (indent, _op, nid) in enumerate(nodes):
        if nid not in kernel_ids:
            continue
        for sub_indent, op, _ in nodes[i + 1:]:
            if sub_indent <= indent:
                break
            if _PYTHON_NODE.search(op) or op == "Scan ExistingRDD":
                found.append(op)
    return found


def lint_plan(name: str, plan: str) -> dict[str, str]:
    flags: dict[str, str] = {}
    if "CartesianProduct" in plan:
        flags["CARTESIAN"] = "CartesianProduct in physical plan"
    if "BatchEvalPython" in plan:
        flags["PY_UDF"] = "row-at-a-time Python UDF in plan"
    # A SinglePartition exchange is benign when it feeds the FINAL stage
    # of a global scalar aggregate (input = one partial row per task) —
    # and a genuine funnel when anything else (Window, Sort, ...)
    # consumes it, because that operator then sees full data volume.
    bad = [
        c
        for c in _single_partition_consumers(plan)
        if not c.startswith(("HashAggregate", "ObjectHashAggregate",
                             "SortAggregate"))
    ]
    if bad:
        flags["SINGLE_PART"] = (
            f"single-partition exchange consumed by {sorted(set(bad))}"
        )
    writers = len(_udf_nodes(plan, ("tile_job",))
                  | _udf_nodes(plan, ("writer",), "FlatMapGroupsInPandas"))
    if writers > 1:
        flags["SINK_TWICE"] = f"tile sink in {writers} Python nodes"
    planning = _python_below_first_stage(plan)
    if planning:
        flags["PY_PLANNING"] = (
            f"{sorted(set(planning))} beneath the first Python stage"
        )
    return flags


def run(sf_dir: str = "/root/testdata/sf0.001") -> int:
    from gfw_pixetl_spark.session import get_spark

    spark = get_spark("plan_lint")
    failures = []
    for name, build in lint_targets():
        try:
            df = build(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            failures.append((name, "BUILD", str(e)[:120]))
            print(f"ERR  {name}: {e}")
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        flags = lint_plan(name, buf.getvalue())
        exempt = EXEMPTIONS.get(name, {})
        for rule, msg in flags.items():
            if rule in exempt:
                print(f"ok~  {name}: {rule} exempt ({exempt[rule]})")
            else:
                failures.append((name, rule, msg))
                print(f"FLAG {name}: {rule} — {msg}")
    print(f"\n{len(failures)} non-exempt flags")
    for name, rule, msg in failures:
        print(f"  {name}: {rule}")
    return 1 if failures else 0


def lint_targets() -> list[tuple[str, object]]:
    """(name, build(spark, sf_dir) -> DataFrame) for every plan the
    sweep lints."""
    from gfw_pixetl_spark import harness
    from gfw_pixetl_spark.harness.tileops import q71_statuses

    return sorted(harness.QUERIES.items()) + [
        ("q71_raster_tile_job:statuses", lambda spark, _sf: q71_statuses(spark)),
    ]


if __name__ == "__main__":
    raise SystemExit(run(*sys.argv[1:]))
