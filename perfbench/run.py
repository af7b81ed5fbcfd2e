"""Benchmark of the tile engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload raster_layer --seed 1 \
        --seconds 10 --trace 0

One process, one closed-loop client on ``local[nproc]``: each pass is
submitted only after the previous one has finished and been verified.
The run starts Spark, generates the workload's inputs from ``--seed``,
runs two warm-up passes (all of these count into ``setup_s``), then runs
passes for about ``--seconds`` seconds. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics, from
traced passes, outside-in layer probes and single-threaded replays.
``--self-check`` corrupts one output and exits 0 only if verification
catches it.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# The first pass pays JIT, Python-worker start-up and first-use costs; the
# second still runs measurably slower on the query mix. Both are set-up.
WARMUP_PASSES = 2

END_TO_END = {"wall_s": "s", "setup_s": "s", "ok_ratio": "ratio"}
# unit of every per-layer metric; a layer a workload never calls reads 0
PER_LAYER = {
    "session.start_s": "s",
    "spark.build_s": "s", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs_build": "count", "spark.jobs_exec": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "raster_pipe.windows_planned": "count",
    "raster_pipe.windows_kept": "count",
    "raster_pipe.payload_mb": "MB", "raster_pipe.max_batch_mb": "MB",
    "raster_pipe.transform_s": "s", "raster_pipe.write_s": "s",
    "raster_pipe.serialise_ms": "ms",
    "raster_pipe.reader_calls": "count", "raster_pipe.reader_busy_s": "s",
    "geotiff.read_window_ms": "ms", "geotiff.read_window_p90_ms": "ms",
    "geotiff.blocks_read": "count", "geotiff.decode_mb_s": "MB/s",
    "calc.window_ms": "ms",
    "geotiff.write_cog_s": "s", "geotiff.out_mb": "MB",
    "geotiff.out_bytes_per_px": "B/px",
    "raster_meta.stats_s": "s",
    "vector_pipe.pairs": "count", "vector_pipe.burn_s": "s",
    "vector_pipe.merge_s": "s", "vector_pipe.payload_mb": "MB",
    "rasterize_kernel.mask_ms": "ms", "rasterize_kernel.merge_ms": "ms",
    "rasterize_kernel.vertices": "count",
    "raster_table.read_s": "s", "raster_table.pixels": "count",
    "raster_table.files_kept": "count", "raster_table.files_total": "count",
    "geometry.pip_s": "s", "geometry.pip_candidates": "count",
    "geometry.pip_hits": "count",
    "report.s": "s", "report.jobs": "count",
    "harness.jobs_total": "count", "harness.build_s_total": "s",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.overhead_s": "s", "trace.accounted_share": "ratio",
}


WORKLOADS = {
    "raster_layer": "perfbench.raster_layer:RasterLayer",
    "zonal_read": "perfbench.zonal_read:ZonalRead",
    "query_mix": "perfbench.query_mix:QueryMix",
}


def load_workload(name: str):
    import importlib

    module, cls = WORKLOADS[name].split(":")
    return getattr(importlib.import_module(module), cls)


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-check", action="store_true")
    return p.parse_args(argv)


def one_pass(wl, traced: bool):
    """Run, time and verify one pass; the clock covers only the program
    work, verification runs after it stops."""
    from perfbench.common import PassResult, Phases

    phases = Phases(wl.spark, traced)
    t0 = time.perf_counter()
    try:
        res = wl.run_pass(phases)
    except Exception as e:  # noqa: BLE001 - a failed pass is a result
        res = PassResult(phases=phases)
        res.wall_s = time.perf_counter() - t0
        res.attempted = wl.ops_per_pass()
        res.fail(f"pass raised {type(e).__name__}: {e}"[:300],
                 res.attempted)
        return res
    res.wall_s = time.perf_counter() - t0
    try:
        wl.verify(res)
    except Exception as e:  # noqa: BLE001
        res.attempted = max(res.attempted, wl.ops_per_pass())
        res.fail(f"verify raised {type(e).__name__}: {e}"[:300])
    return res


def timed_passes(wl, seconds: float, log, kinds=(False,)) -> list:
    """Passes in rounds of ``kinds`` (False = untraced, True = traced)
    until one more round would take the measured time past ``seconds``;
    at least one round. Alternating the kinds keeps any leftover warming
    out of the tracing overhead. Untraced outputs are removed once
    verified; traced ones stay for the layer replays."""
    from perfbench.common import median

    out = []
    while True:
        for traced in kinds:
            res = one_pass(wl, traced)
            log(res, "traced" if traced else "timed")
            out.append(res)
            if not traced:
                wl.cleanup(res)
        walls = [r.wall_s for r in out]
        if sum(walls) + len(kinds) * median(walls) > seconds:
            return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gfw_pixetl_spark" / "__init__.py").is_file():
        print(f"perfbench: the program (gfw_pixetl_spark) is not in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.common import Session, other_spark_jvms

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    busy = other_spark_jvms()
    if busy:
        print(f"perfbench: another Spark JVM is running (pids {busy}); "
              "refusing to measure next to it", file=sys.stderr)
        return 3

    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session = Session(ROOT, work, nproc)
    passes = []

    def log(res, kind):
        print(f"# {kind} pass {len(passes) + 1}: {res.wall_s:.3f} s, "
              f"{res.attempted - res.failed}/{res.attempted} ok"
              + (f" {res.problems[:3]}" if res.problems else ""),
              file=sys.stderr, flush=True)
        passes.append(res)

    try:
        session.start()
        wl = load_workload(args.workload)(
            session.spark, work, args.seed, nproc)
        t_gen = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t_gen
        warm = []
        for _ in range(WARMUP_PASSES):
            warm.append(one_pass(wl, traced=False))
            log(warm[-1], "warm-up")
            wl.cleanup(warm[-1])
        # set-up is the program's part only: the warm-up's verification
        # (oracles, read-back) is the benchmark's own cost
        setup_s = session.start_s + gen_s + sum(r.wall_s for r in warm)
        shape = {
            "workload": args.workload, "seed": args.seed,
            "master": f"local[{nproc}]", "nproc": nproc,
            "shuffle_partitions": int(session.spark.conf.get(
                "spark.sql.shuffle.partitions")),
            "client": "closed loop, 1 client",
            "setup": {"session_start_s": round(session.start_s, 4),
                      "inputs_s": round(gen_s, 4),
                      "warmup_passes_s": [round(r.wall_s, 4) for r in warm],
                      "warmup_excluded_from_wall_s": True},
        }
        if args.self_check:
            return self_check(wl, warm, shape)
        if args.trace:
            timed = timed_passes(wl, args.seconds, log, kinds=(False, True))
            traced = [r for r in timed if r.phases.traced]
            trace_file = write_trace(wl, args, traced)
            metrics = per_layer(wl, session, timed, traced)
            shape["trace_file"] = str(trace_file.relative_to(ROOT))
        else:
            timed = timed_passes(wl, args.seconds, log)
            metrics = end_to_end(wl, timed, warm + timed, setup_s)
        shape["passes"] = len(timed)
        shape["wall_s_samples"] = [round(r.wall_s, 4) for r in timed]
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in passes)
    failed = sum(r.failed for r in passes)
    shape["fail_ratio"] = failed / attempted if attempted else 1.0
    print("# run shape " + json.dumps(shape))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def write_trace(wl, args, traced) -> Path:
    """Phase spans of every traced pass (and any per-query detail the
    workload keeps), as JSON under ``.perfbench/`` in the checkout."""
    from dataclasses import asdict

    path = ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}.json"
    doc = {"workload": args.workload, "seed": args.seed,
           "passes": [{"wall_s": r.wall_s,
                       "phases": [asdict(p) for p in r.phases.records]}
                      for r in traced]}
    if hasattr(wl, "trace_detail"):
        doc.update(wl.trace_detail(traced))
    path.write_text(json.dumps(doc, indent=1))
    return path


def end_to_end(wl, timed, all_passes, setup_s) -> dict:
    from perfbench.common import median

    attempted = sum(r.attempted for r in all_passes)
    failed = sum(r.failed for r in all_passes)
    wall = (wl.pass_time(timed) if hasattr(wl, "pass_time")
            else median(r.wall_s for r in timed))
    values = {
        "wall_s": wall,
        "setup_s": setup_s,
        "ok_ratio": 1.0 - failed / attempted if attempted else 0.0,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(wl, session, timed, traced) -> dict:
    from perfbench.common import median

    untraced = [r for r in timed if not r.phases.traced]

    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.start_s"] = session.start_s

    def med(phase, field):
        return median(getattr(r.phases.total(*phase), field) for r in traced)

    values["spark.build_s"] = med(("build",), "seconds")
    values["spark.plan_s"] = med(("plan",), "seconds")
    values["spark.exec_s"] = med(("exec",), "seconds")
    values["spark.jobs_build"] = med(("build",), "jobs")
    values["spark.jobs_exec"] = med(("exec",), "jobs")
    every = ("build", "plan", "exec", "report")
    values["spark.stages"] = med(every, "stages")
    values["spark.tasks"] = med(every, "tasks")
    values["spark.failed_tasks"] = med(every, "failed_tasks")
    values["report.s"] = med(("report",), "seconds")
    values["report.jobs"] = med(("report",), "jobs")
    u = median(r.wall_s for r in untraced)
    t = median(r.wall_s for r in traced)
    values["trace.untraced_wall_s"] = u
    values["trace.traced_wall_s"] = t
    values["trace.overhead_s"] = t - u
    values["trace.accounted_share"] = (
        sum(r.phases.total(*every).seconds for r in traced)
        / sum(r.wall_s for r in traced))
    values.update(wl.layers(traced))
    for r in traced:
        wl.cleanup(r)
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return {k: {"value": float(v), "unit": PER_LAYER[k]}
            for k, v in values.items()}


def self_check(wl, clean, shape) -> int:
    """Verification must pass on a clean pass and fail once one output is
    corrupted; prints the usual result line for the corrupted pass."""
    from perfbench.common import PassResult

    res = one_pass(wl, traced=False)
    ok_clean = all(r.failed == 0 and r.attempted > 0 for r in clean + [res])
    bad = PassResult(phases=res.phases, detail=res.detail)
    wl.corrupt(bad)
    wl.verify(bad)
    wl.cleanup(res)
    caught = bad.failed > 0
    shape["self_check"] = {"clean_pass_ok": ok_clean,
                           "corruption_caught": caught,
                           "problems": bad.problems[:5]}
    print("# run shape " + json.dumps(shape))
    print(json.dumps({"correct": ok_clean and caught,
                      "attempted": bad.attempted, "failed": bad.failed,
                      "metrics": {"fail_ratio": {
                          "value": bad.failed / max(1, bad.attempted),
                          "unit": "ratio"}}}))
    return 0 if ok_clean and caught else 1


if __name__ == "__main__":
    raise SystemExit(main())
