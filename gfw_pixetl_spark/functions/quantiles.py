"""Distributed exact quantiles via iterative histogram refinement.

Spark's built-in exact ``percentile`` aggregate funnels every value into a
per-group hash map and merges those maps on one reducer — on a near-unique
double column (e.g. prices) that is O(n) state through a single thread,
measured ~3-4 s at 600k rows. ``approx_percentile`` is fast but its values
cannot match an exact-SQL oracle.

This module implements the classic scalable exact algorithm (iterated
histogram selection):

1. one aggregation finds each group's [min, max] and total weight — the
   target unit ranks follow (rank = p*(n-1), the interpolation lattice
   Spark's Percentile and DuckDB's quantile_cont share);
2. while a target's interval holds more than a constant weight
   (``_COLLECT_MAX``), one refinement round buckets the
   interval's values through a MONOTONE affine map and aggregates
   per-bucket (weight, min, max) — a map-side-combinable aggregation
   whose shuffle carries only #buckets-sized partials, never data rows;
   the driver walks the counts to the bucket holding each residual rank
   and its ACTUAL [min, max] becomes the next interval;
3. once every interval is under the constant, ONE pass aggregates the
   surviving values per distinct value and the driver walks the exact
   cumulative weights to the answer — a collect bounded by a constant,
   never by the corpus.

Real data resolves in bounds + 1 histogram round + 1 final pass; every
job is whole-stage codegen and the only cross-worker bytes are
bucket-count partials (guide §2.3/§2.4/§4). Compared to the former
range-partitioned selection this removes the range-sampling job, the
full-table shuffle, the ``persist`` and both Python (mapInPandas)
passes.

Exactness: bucket assignment only needs monotonicity (IEEE rounded ops
are monotone; equal values always share a bucket), per-bucket weights
are exact integers (or exact integer-valued doubles), and the finally
picked values are exact data elements — no arithmetic touches them, so
results are bit-identical to a sequential sorted scan. Interpolation
uses rank = p*(n-1), val = lo + (hi-lo)*frac — matching Spark's
Percentile and DuckDB's quantile_cont to the last ulp of the shared
arithmetic. NaN values follow Spark's ordering (NaN sorts greatest);
quantiles over NaN-bearing data are garbage-in-garbage-out either way.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Buckets per refinement round: with the final collect pass resolving
# intervals under _COLLECT_MAX weight, 1024 buckets reach ~67M-row
# groups in one round while keeping each scan task's partial hash (and
# the exchange) tiny.
_HIST_BUCKETS = 1024
# An interval whose total weight is under this constant is resolved by
# one aggregate-and-collect pass instead of further histogram rounds.
# Constant-bounded by construction — corpus growth adds rounds, not
# collected rows.
_COLLECT_MAX = 65536
# Intervals per round above which the candidate table is broadcast-joined
# instead of exploded from an inline literal array (explode multiplies
# every row by the candidate count before the filter).
_EXPLODE_LIMIT = 16
_DBL_MAX = 1.7976931348623157e308


def _candidate_frame(vals: DataFrame, cands: list):
    """Attach each row to the interval candidates it falls in.

    ``cands`` rows: (cid, g, lo, hi, loc, span, cdiv). Returns the
    joined frame filtered to (group match, lo <= v <= hi) with the
    candidate struct as ``_c``.
    """
    spark = vals.sparkSession
    if len(cands) <= _EXPLODE_LIMIT:
        arr = F.array(*[
            F.struct(
                F.lit(cid).alias("cid"), F.lit(g).alias("cg"),
                F.lit(lo).alias("lo"), F.lit(hi).alias("hi"),
                F.lit(loc).alias("loc"), F.lit(span).alias("span"),
                F.lit(cdiv).alias("cdiv"),
            )
            for cid, g, lo, hi, loc, span, cdiv in cands
        ])
        e = vals.select("g", "v", "w", F.explode(arr).alias("_c"))
    else:
        schema = (
            f"cid int, cg {dict(vals.dtypes)['g']}, lo double, hi double, "
            "loc double, span double, cdiv double"
        )
        cdf = spark.createDataFrame(
            spark.sparkContext.parallelize(cands, 1), schema
        ).select(F.struct("*").alias("_c"))
        e = vals.join(
            F.broadcast(cdf), vals["g"] == F.col("_c.cg"), "inner"
        )
    return e.where(
        (F.col("_c.cg") == F.col("g"))
        & (F.col("v") >= F.col("_c.lo"))
        & (F.col("v") <= F.col("_c.hi"))
    )


def _make_cands(intervals) -> list:
    cands = []
    for cid, (g, lo, hi) in enumerate(intervals):
        # Clamp infinite endpoints; scale by 4 when magnitudes could
        # overflow the affine map (never for subnormals, where /4
        # would round and could collapse distinct values).
        lo_b = max(lo, -_DBL_MAX)
        hi_b = min(hi, _DBL_MAX)
        c = 4.0 if max(abs(lo_b), abs(hi_b)) > _DBL_MAX / 2 else 1.0
        span = hi_b / c - lo_b / c
        cands.append((cid, g, lo, hi, lo_b / c, span, c))
    return cands


def _hit(mode: str, t, cum, wsum) -> bool:
    # mode='index': t is a 0-based unit rank — hit when it falls in the
    # span [cum, cum + wsum). mode='reach': hit at the first element
    # whose inclusive cumulative weight reaches t (t <= 0: the first).
    return (t < cum + wsum) if mode == "index" else (cum + wsum >= t)


def _hist_select(
    vals: DataFrame,
    plan: dict,
    mode: str,
    bucket_count: int | None = None,
) -> dict:
    """Resolve value targets by iterated histogram refinement.

    ``vals``: DataFrame[g, v double, w] pre-filtered (g, v not null,
    w > 0); ``w`` long for mode='index', double for mode='reach'.

    ``plan``: {g: (lo, hi, n, targets)} — per group: value bounds
    (lo <= min, hi >= max — under/over-estimates are safe), the EXACT
    total weight n, and the sorted unique targets:

    - mode='index': t is a 0-based unit rank (int); resolve the value
      whose cumulative-weight span [cumw_excl, cumw_incl) contains t,
      in ascending value order.
    - mode='reach': t is a weight threshold (float); resolve the
      smallest value whose inclusive cumulative weight reaches t
      (t <= 0 resolves the global minimum).

    Returns {(g, t): value}.
    """
    B = bucket_count or _HIST_BUCKETS
    picked: dict = {}
    # state rows: [g, t, lo, hi, before, iw]: `before` = exact cumulative
    # weight below the interval, `iw` = the interval's total weight
    state: list = []
    zero = 0 if mode == "index" else 0.0
    for g, (lo, hi, n, targets) in plan.items():
        for t in targets:
            if lo == hi:
                picked[(g, t)] = lo
            else:
                state.append([g, t, lo, hi, zero, n])

    rounds = 0
    while state:
        rounds += 1
        if rounds > 200:  # ~log_B(full double range) with huge margin
            raise RuntimeError(
                "histogram quantile selection failed to converge"
            )

        final = [s for s in state if s[5] <= _COLLECT_MAX]
        state = [s for s in state if s[5] > _COLLECT_MAX]

        if final:
            # Constant-bounded final pass: aggregate the surviving
            # values per distinct value, collect, walk exactly.
            intervals: dict = {}
            for g, t, lo, hi, before, iw in final:
                intervals.setdefault((g, lo, hi), []).append(
                    (t, before)
                )
            cands = _make_cands(intervals)
            rows = (
                _candidate_frame(vals, cands)
                .groupBy(F.col("_c.cid").alias("cid"), F.col("v"))
                .agg(F.sum("w").alias("w"))
                .collect()
            )
            by_cid: dict = {}
            for r in rows:
                by_cid.setdefault(r["cid"], []).append((r["v"], r["w"]))
            for cid, ((g, lo, hi), pending) in enumerate(
                intervals.items()
            ):
                vw = sorted(by_cid.get(cid, ()))
                for t, before in pending:
                    cum = before
                    for v, w in vw:
                        if _hit(mode, t, cum, w):
                            picked[(g, t)] = v
                            break
                        cum += w
                    else:
                        raise RuntimeError(
                            f"quantile target {t!r} not reachable in "
                            f"group {g!r}"
                        )
            if not state:
                break

        # Histogram round over the big intervals. Targets sharing one
        # (g, lo, hi) interval share its histogram.
        intervals = {}
        for idx, (g, t, lo, hi, before, iw) in enumerate(state):
            intervals.setdefault((g, lo, hi), []).append(idx)
        cands = _make_cands(intervals)
        # Monotone bucket map: endpoints get reserved singleton buckets
        # (guaranteed progress even when the affine map degenerates);
        # the open interior maps through one affine expression — every
        # step (exact /c, subtract constant, divide by positive span,
        # multiply by positive count, truncate) is monotone in v.
        affine = (
            (F.col("v") / F.col("_c.cdiv") - F.col("_c.loc"))
            / F.col("_c.span") * F.lit(B - 2)
        ).cast("int")
        interior = F.lit(1) + F.greatest(
            F.lit(0), F.least(F.lit(B - 3), affine)
        )
        bexpr = (
            F.when(F.col("v") <= F.col("_c.lo"), F.lit(0))
            .when(F.col("v") >= F.col("_c.hi"), F.lit(B - 1))
            .otherwise(interior)
        )
        hist = (
            _candidate_frame(vals, cands)
            .groupBy(F.col("_c.cid").alias("cid"), bexpr.alias("b"))
            .agg(
                F.sum("w").alias("w"),
                F.min("v").alias("blo"),
                F.max("v").alias("bhi"),
            )
            .collect()
        )
        by_cid = {}
        for r in hist:
            by_cid.setdefault(r["cid"], []).append(
                (r["b"], r["w"], r["blo"], r["bhi"])
            )
        nxt: list = []
        for cid, (key, idxs) in enumerate(intervals.items()):
            buckets = sorted(by_cid.get(cid, ()))
            for idx in idxs:
                g, t, lo, hi, before, iw = state[idx]
                cum = before
                hit = False
                for _b, wsum, blo, bhi in buckets:
                    if _hit(mode, t, cum, wsum):
                        if blo == bhi:
                            picked[(g, t)] = blo
                        else:
                            nxt.append([g, t, blo, bhi, cum, wsum])
                        hit = True
                        break
                    cum += wsum
                if not hit:
                    # t beyond the interval's total weight can only mean
                    # the caller's bounds and targets disagree
                    raise RuntimeError(
                        f"quantile target {t!r} not reachable in group "
                        f"{g!r}"
                    )
        state = nxt
    return picked


def _index_targets(ps: Sequence[float], n: int) -> tuple[list, list]:
    """rank = p*(n-1) lattice: the ranks and their unique floor/ceil
    unit indices."""
    ranks = [p * (n - 1) for p in ps]
    targets = sorted({i for r in ranks for i in (math.floor(r), math.ceil(r))})
    return ranks, targets


def _interp(r: float, picked, key) -> float:
    lo_i, hi_i = math.floor(r), math.ceil(r)
    lo_v, hi_v = picked[key(lo_i)], picked[key(hi_i)]
    frac = r - lo_i
    return lo_v if frac == 0 else lo_v + (hi_v - lo_v) * frac


def exact_quantiles_cols(
    df: DataFrame,
    cols: Sequence[str],
    ps: Sequence[float],
) -> dict[str, list[float | None]]:
    """Exact interpolated quantiles for SEVERAL columns in one batch:
    one bounds aggregation + shared refinement rounds, instead of a
    selection per column. Returns {col: [value per p]}."""
    if not ps or not cols:
        return {c: [None] * len(ps) for c in cols}
    per_col = [
        df.select(
            F.lit(c).alias("g"),
            F.col(c).cast("double").alias("v"),
            F.lit(1).cast("long").alias("w"),
        ).where(F.col("v").isNotNull())
        for c in cols
    ]
    vals = per_col[0]
    for other in per_col[1:]:
        vals = vals.unionAll(other)
    bounds = {
        r["g"]: r
        for r in vals.groupBy("g").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi"),
            F.count("*").alias("n"),
        ).collect()
    }
    plan: dict = {}
    ranks: dict = {}
    for c in cols:
        b = bounds.get(c)
        if b is None:
            continue
        n = int(b["n"])
        rs, targets = _index_targets(ps, n)
        ranks[c] = rs
        plan[c] = (b["lo"], b["hi"], n, targets)
    picked = _hist_select(vals, plan, "index") if plan else {}
    return {
        c: (
            [_interp(r, picked, lambda i: (c, i)) for r in ranks[c]]
            if c in ranks
            else [None] * len(ps)
        )
        for c in cols
    }


def exact_quantiles(
    df: DataFrame,
    col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
) -> list[float | None]:
    """Exact interpolated quantiles of ``df[col]`` (nulls ignored).

    Returns driver-side floats (like ``df.stat.approxQuantile``) so callers
    can embed them as literals — keeping downstream comparisons inside
    whole-stage codegen instead of an interpreted array fold.
    ``num_partitions`` is accepted for API compatibility; the histogram
    method shuffles only per-bucket aggregates, so it has no effect.
    """
    if not ps:
        return []
    return exact_quantiles_cols(df, [col], ps)[col]


def weighted_quantiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
) -> list[float | None]:
    """Weighted quantiles: for each p, the smallest value v whose
    cumulative weight (per-value-aggregated, in value order) reaches
    p * total_weight. Null values/weights and non-positive weights are
    ignored.

    Determinism note: with integer-valued weights every cumulative sum
    is exact in doubles (< 2^53), so results are bit-stable under any
    partitioning and match an exact-SQL oracle; fractional weights carry
    the usual last-ulp sensitivity of float summation order.
    """
    if not ps:
        return []
    vals = df.select(
        F.lit(0).alias("g"),
        F.col(col).cast("double").alias("v"),
        F.col(weight_col).cast("double").alias("w"),
    ).where(
        F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0)
    )
    b = vals.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"),
        F.sum("w").alias("tw"),
    ).first()
    if b["tw"] is None or b["tw"] <= 0:
        return [None] * len(ps)
    total_w = float(b["tw"])
    targets = sorted({max(p * total_w, 0.0) for p in ps})
    picked = _hist_select(
        vals, {0: (b["lo"], b["hi"], total_w, targets)}, "reach"
    )
    return [picked.get((0, max(p * total_w, 0.0))) for p in ps]


def grouped_exact_quantile_values(
    df: DataFrame,
    group_col: str,
    col: str,
    ps: Sequence[float],
    weight_col: str | None = None,
    bounds: dict | None = None,
) -> dict:
    """Driver-side twin of :func:`grouped_exact_quantiles`: the same
    selection, returned as ``{(group, p): value}`` so callers that embed
    the (dimension-sized) results as literals skip the DataFrame
    round-trip. See :func:`grouped_exact_quantiles` for semantics."""
    w_expr = (
        F.col(weight_col).cast("long") if weight_col is not None else F.lit(1)
    )
    vals = df.select(
        F.col(group_col).alias("g"),
        F.col(col).cast("double").alias("v"),
        w_expr.cast("long").alias("w"),
    ).where(F.col("v").isNotNull() & F.col("g").isNotNull() & (F.col("w") > 0))
    if bounds is None:
        bounds = {
            r["g"]: (r["lo"], r["hi"], int(r["n"]))
            for r in vals.groupBy("g").agg(
                F.min("v").alias("lo"), F.max("v").alias("hi"),
                F.sum("w").alias("n"),
            ).collect()  # one row per group — dimension-sized by contract
        }
    plan: dict = {}
    ranks: dict = {}
    for g in sorted(bounds, key=lambda g: (g is None, g)):
        lo, hi, n = bounds[g]
        rs, targets = _index_targets(ps, int(n))
        ranks[g] = rs
        plan[g] = (lo, hi, int(n), targets)
    picked = _hist_select(vals, plan, "index") if plan else {}
    return {
        (g, float(p)): _interp(r, picked, lambda i: (g, i))
        for g, rs in ranks.items()
        for p, r in zip(ps, rs)
    }


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    ps: Sequence[float],
    num_partitions: int | None = None,
    weight_col: str | None = None,
    bounds: dict | None = None,
) -> "DataFrame":
    """Exact interpolated quantiles PER GROUP, any group cardinality.

    ``groupBy(g).agg(percentile(...))`` funnels each group's full value
    multiset through one reducer — fatal when a few groups hold most of
    the data. The histogram refinement has no per-group reducer at all:
    every round is one map-side-combinable aggregation over (group,
    bucket) whose shuffle carries only bucket-count-sized partials, so a
    huge group costs the same as a small one.

    ``weight_col``: integer multiplicities. A row (g, v, w) stands for
    w copies of v, so callers can pre-aggregate a fact table to its
    (group, value) COUNTS — one map-side-combinable shuffle — and run
    the selection over the much smaller counts table. Unit ranks are
    exact integers, so results are bit-identical to expanding the
    weights (tests/test_quantiles.py pins this).

    ``bounds``: optional {g: (lo, hi, n)} skipping the bounds
    aggregation — lo/hi may under/over-estimate the group's min/max,
    but n MUST be the group's exact total weight (callers that already
    aggregated it, e.g. q142's MAD pass, reuse it here).

    Returns a DataFrame ``[group, p, value]``.
    """
    spark = df.sparkSession
    g_type = dict(
        df.select(F.col(group_col).alias("g")).dtypes
    )["g"]
    values = grouped_exact_quantile_values(
        df, group_col, col, ps, weight_col=weight_col, bounds=bounds
    )
    out = [(g, p, v) for (g, p), v in values.items()]
    # single-slice parallelize: the default splits a 9-row local list
    # into defaultParallelism (32) Python tasks, each paying worker spin-up
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1),
        f"group {g_type}, p double, value double",
    )
