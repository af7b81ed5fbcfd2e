"""query_mix: registry queries whose cost is Spark jobs, not data.

An eager-action query (jobs fired while the DataFrame is being built),
both set-similarity joins of ``functions.dedup``, the pixel x zone
point-in-polygon zonal query and a sub-second tail, over the harness
tables generated at scale factor 0.001 by the repository's
``tools/gen_testdata.py``. The tables are fixed; the seed sets the query
order. Each query is built, planned and run to a ``noop`` sink; its rows
are then collected and compared with the query's DuckDB oracle
(``harness.compare.compare_results``).

The traced run also measures the zonal and vector layers on the
``zonal_read`` inputs generated from the same seed, since no listed
workload runs them at size.
"""

from __future__ import annotations

import importlib.util
import random
from pathlib import Path

from .common import PassResult, Phases

SF = 0.001
QUERIES = (
    # eager build-time jobs; the dedup prefix/length join builds its truth
    # set (q136 runs the same join but returns no rows on these tables, so
    # its oracle check would prove nothing)
    "q166_lsh_quality",
    "q27_jaccard_pairs",    # dedup n-gram Jaccard join
    "q83_zonal_stats",      # pixel x zone point-in-polygon (ROADMAP item 4)
    "q01_pricing_summary",  # sub-second tail: scan + hash aggregate
)


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, work: Path, seed: int, nproc: int) -> None:
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.nproc = nproc
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.oracle_rows: dict[str, tuple] = {}

    def generate(self) -> None:
        root = Path(__file__).resolve().parent.parent
        spec = importlib.util.spec_from_file_location(
            "gen_testdata", root / "tools" / "gen_testdata.py")
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        self.sf_dir = str(self.work / f"sf{SF}")
        gen.gen(SF, self.sf_dir)

    def ops_per_pass(self) -> int:
        return len(self.order)

    def run_pass(self, phases: Phases) -> PassResult:
        from gfw_pixetl_spark import harness

        res = PassResult(phases=phases)
        frames, per_query = {}, []
        for name in self.order:
            first = len(phases.records)
            try:
                with phases.phase("build"):
                    df = harness.QUERIES[name](self.spark, self.sf_dir)
                with phases.phase("plan"):
                    df._jdf.queryExecution().executedPlan()
                with phases.phase("exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a raised query fails
                res.fail(f"{name} raised {type(e).__name__}: {e}"[:300])
                continue
            frames[name] = df
            recs = phases.records[first:]
            per_query.append({
                "query": name, "s": sum(r.seconds for r in recs),
                **{r.name + "_s": round(r.seconds, 4) for r in recs},
                **{r.name + "_jobs": r.jobs for r in recs}})
        res.detail = {"frames": frames, "queries": per_query}
        return res

    def pass_time(self, timed: list[PassResult]) -> float:
        """The sum over queries of each query's median time: one slow
        stretch of the host then moves a single query's sample, not the
        whole pass."""
        from .common import median

        times: dict[str, list[float]] = {}
        for r in timed:
            for q in r.detail.get("queries", []):  # absent if it raised
                times.setdefault(q["query"], []).append(q["s"])
        return sum(median(v) for v in times.values())

    def verify(self, res: PassResult) -> None:
        from gfw_pixetl_spark.harness.compare import compare_results

        res.attempted += len(self.order)
        drop = res.detail.get("drop_row", False)
        for name, df in res.detail["frames"].items():
            rows = [tuple(r) for r in df.collect()]
            if drop and rows:
                rows, drop = rows[1:], False
            ocols, orows = self._oracle(name)
            problems = compare_results(df.columns, rows, ocols, orows)
            if problems:
                res.fail(f"{name}: {problems[0]}")

    def _oracle(self, name: str):
        if name not in self.oracle_rows:
            import duckdb

            from gfw_pixetl_spark import harness
            from gfw_pixetl_spark.harness.compare import register_duckdb_views

            con = duckdb.connect()
            register_duckdb_views(con, self.sf_dir)
            rel = con.execute(harness.ORACLES[name])
            self.oracle_rows[name] = ([d[0] for d in rel.description],
                                      rel.fetchall())
            con.close()
        return self.oracle_rows[name]

    def corrupt(self, res: PassResult) -> None:
        """Drop one row of the first non-empty query result before it is
        compared."""
        res.detail["drop_row"] = True

    def cleanup(self, res: PassResult) -> None:
        res.detail.pop("frames", None)

    def layers(self, traced: list[PassResult]) -> dict:
        from .common import median
        from .zonal_read import ZonalRead

        zonal = ZonalRead(self.spark, self.work, self.seed, self.nproc)
        zonal.generate()
        zonal.run_pass(Phases(self.spark, traced=False))  # warm its path
        return {
            **zonal.layers([]),
            "harness.jobs_total": median(
                r.phases.total("build", "plan", "exec").jobs for r in traced),
            "harness.build_s_total": median(
                r.phases.total("build").seconds for r in traced),
        }

    def trace_detail(self, traced: list[PassResult]) -> dict:
        return {"queries": [r.detail["queries"] for r in traced]}
