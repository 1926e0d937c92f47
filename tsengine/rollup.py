"""Cascading continuous aggregates — the retention-tier heart (SURVEY §2.4).

rewemo's rollups are a manual chain: hourly series → daily resample mean
(`ncep/example_solar.py:263`) → per-location summary means
(`ncep/wind.py:232-233`). We formalize that as 1m→1h→1d cascading tiers
where EVERY tier is computed from the previous one, never from raw data —
possible because every tier stat is a MERGEABLE SUMMARY.

Each summary is defined once, as a ``Summary`` spec of two dicts of
named aggregate Columns: ``partial`` (raw rows → state) and ``merge``
(finer state → coarser state). Everything else is derived from the spec
(the synopsis-framework idea of Condor, VLDB 2021):

- ``rollup(df, spec, tier)``: a tier from raw rows;
- ``cascade(df, spec, to_tier)``: a coarser tier from a finer one; the
  late-data refresh is ``cascade(existing ∪ delta, spec, same tier)``;
- ``metrics=[...]`` on either: the WIDE form, the spec applied per
  metric column with an ``{m}__`` prefix (what ``jobs.run_pipeline``
  writes);
- ``partial_aggs``: the list the streaming windowed aggregations use.

Specs: ``STATS`` (cnt, sum, min, max, sumsq), ``HIST`` (fixed-boundary
histogram), ``OHLC`` (candles) here, and ``rolling.M4`` (chart
extrema). Derived views (mean, population std, quantile estimates, M4
points) are computed at read time; median is exact only at the finest
tier (``percentile_approx`` above it), per SURVEY §7 hard-part (d).

Shuffle analysis (100 TB): the 1m tier is the only shuffle that touches raw
volume — keyed by (conv_id, minute, metric), map-side partial aggregation
makes the exchange carry one row per group per task, not per input row.
Each cascade step shuffles only the previous tier's output (≥60× smaller
per step). All three tiers share the leading key conv_id, so writing the
1m tier bucketed/partitioned by conv_id lets AQE reuse locality upstream.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_SPECS = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_ORDER = ["1m", "1h", "1d"]


class Summary(NamedTuple):
    """One mergeable summary. ``partial(v, ts, seq)`` maps the raw value,
    its timestamp and its tiebreak (``None`` when the input has no
    ``event_id``) to the state's named aggregates; ``merge(s)`` maps the
    finer state — ``s(name)`` is its component column — to the coarser
    state's aggregates under the SAME names, so merges chain through any
    number of tiers (merge ≡ rebuild, tests/test_summaries.py)."""

    partial: Callable[[Column, Column, Column | None], dict[str, Column]]
    merge: Callable[[Callable[[str], Column]], dict[str, Column]]


# reaggregable moments: every component is a commutative monoid, exact for
# cnt/min/max; sum/sumsq are float-order-dependent in the last ulps
# (inherent to double addition; tests compare with rel-tol)
STATS = Summary(
    partial=lambda v, ts, seq: {
        "cnt": F.count(v),
        "sum": F.sum(v),
        "min": F.min(v),
        "max": F.max(v),
        "sumsq": F.sum(v * v),
    },
    merge=lambda s: {
        "cnt": F.sum(s("cnt")),
        "sum": F.sum(s("sum")),
        "min": F.min(s("min")),
        "max": F.max(s("max")),
        "sumsq": F.sum(s("sumsq")),
    },
)


def partial_aggs(
    spec: Summary, df: DataFrame, metric: str | None = None
) -> list[Column]:
    """``spec.partial`` over ``df``'s ``value`` column, each aggregate
    named by its component — or, with ``metric``, over the wide column
    ``metric``, named ``{metric}__{component}``. Timestamp ties break on
    ``event_id`` when ``df`` carries one (OHLC open/close, M4
    first/last)."""
    seq = F.col("event_id") if "event_id" in df.columns else None
    aggs = spec.partial(F.col(metric or "value"), F.col("ts"), seq)
    prefix = f"{metric}__" if metric else ""
    return [c.alias(prefix + name) for name, c in aggs.items()]


def _merge_aggs(spec: Summary, metric: str | None = None) -> list[Column]:
    prefix = f"{metric}__" if metric else ""
    aggs = spec.merge(lambda name: F.col(prefix + name))
    return [c.alias(prefix + name) for name, c in aggs.items()]


def rollup(
    df: DataFrame, spec: Summary, tier: str, metrics: list[str] | None = None
) -> DataFrame:
    """A tier from raw rows: group by the keys plus ``date_trunc(tier,
    ts)`` and aggregate ``spec.partial``.

    Long form (``metrics=None``): (conv_id, ts, metric, value) rows; null
    values are dropped once here — a struct or argmin with a null field
    still competes in min/max, and an all-null bucket does not exist in
    the tier. Key (conv_id, bucket_ts, metric).

    Wide form: one value column per metric and the key (conv_id,
    bucket_ts), components named ``{m}__{component}`` — the shape
    TimescaleDB materializes continuous aggregates in. At 100 TB the long
    path multiplies raw rows by |metrics| BEFORE the shuffle; this one
    shuffles one row per (conv, bucket) carrying all metrics' partials —
    a ~|metrics|× cut of the pipeline's only raw-volume exchange, and no
    string metric key ever enters a shuffle. Nothing is dropped, so it
    needs a spec whose aggregates skip nulls (STATS, HIST): an all-null
    metric bucket gets cnt 0, which ``unpivot_stats`` drops.

    date_trunc keeps the bucket a plain column (cheaper than F.window's
    struct; identical semantics for tumbling calendar windows)."""
    bucket = F.date_trunc(TIER_SPECS[tier], F.col("ts")).alias("bucket_ts")
    if metrics is None:
        return (
            df.where(F.col("value").isNotNull())
            .groupBy("conv_id", bucket, "metric")
            .agg(*partial_aggs(spec, df))
        )
    aggs = [a for m in metrics for a in partial_aggs(spec, df, m)]
    return df.groupBy("conv_id", bucket).agg(*aggs)


def cascade(
    df: DataFrame, spec: Summary, to_tier: str, metrics: list[str] | None = None
) -> DataFrame:
    """A coarser tier from a finer one of the same form (1m→1h, 1h→1d):
    ``spec.merge`` grouped by the keys plus ``date_trunc(to_tier,
    bucket_ts)`` — never a raw re-read. Inside the aggregates
    ``bucket_ts`` is still the FINER bucket (OHLC's open/close pick by
    it). With ``to_tier`` equal to the input's tier this is the
    continuous-aggregate refresh merge: fold a late batch's partials into
    an existing tier as ``cascade(existing.unionByName(delta), spec,
    tier)`` — untouched buckets pass through unchanged, and the exchange
    carries tier rows, not raw rows (TimescaleDB's refresh upsert)."""
    bucket = F.date_trunc(TIER_SPECS[to_tier], F.col("bucket_ts")).alias("bucket_ts")
    if metrics is None:
        return df.groupBy("conv_id", bucket, "metric").agg(*_merge_aggs(spec))
    aggs = [a for m in metrics for a in _merge_aggs(spec, m)]
    return df.groupBy("conv_id", bucket).agg(*aggs)


def unpivot_stats(g: DataFrame, metrics: list[str]) -> DataFrame:
    """Wide-stats frame → the public long tier format
    (conv_id, bucket_ts, metric, cnt, sum, min, max, sumsq).

    stack() is a JVM-side generator on post-aggregation data (≥60× smaller
    than raw); all-null metric buckets (cnt 0) are dropped because they do
    not exist in the long form."""
    pairs = ", ".join(
        f"'{m}', {m}__cnt, {m}__sum, {m}__min, {m}__max, {m}__sumsq"
        for m in metrics
    )
    return g.select(
        "conv_id",
        "bucket_ts",
        F.expr(
            f"stack({len(metrics)}, {pairs}) as (metric, cnt, sum, min, max, sumsq)"
        ),
    ).where(F.col("cnt") > 0)


def publish_cascade_wide(
    spark,
    out_root: str,
    metrics: list[str],
    tiers: list[str] | None = None,
    suffix: str = "",
) -> None:
    """Publish the public long-form tier tables from an already-written
    wide-stats finest tier (``{out_root}/tier_{tiers[0]}_wide``),
    OVERLAPPING independent writes: at each level, tier T's unpivot
    publish and tier T+1's wide cascade both read the same materialized
    scratch and share no lineage, so they are submitted from two driver
    threads and the scheduler backfills idle task slots between their
    stages. On a multi-executor cluster this keeps executors busy through
    the small coarse-tier jobs (each tier is ≥60× smaller than the last —
    a single sequential tail of small jobs leaves most of the cluster
    idle); in local[N] bench runs it removes ~half the post-rollup serial
    tail. Output tables are byte-identical to the sequential chain
    (verified in tests/test_rollup_wide.py). ``suffix`` is appended to
    every table path (the per-bucket resume units in jobs.run_pipeline
    publish to ``tier_{t}/unit={k}``)."""
    from concurrent.futures import ThreadPoolExecutor

    tiers = list(tiers or TIER_ORDER)

    def _publish(df: DataFrame, tier: str) -> None:
        unpivot_stats(df, metrics).write.mode("overwrite").parquet(
            f"{out_root}/tier_{tier}{suffix}"
        )

    for i in range(1, len(tiers)):
        g = spark.read.parquet(f"{out_root}/tier_{tiers[i - 1]}_wide{suffix}")
        nxt = cascade(g, STATS, tiers[i], metrics)
        with ThreadPoolExecutor(2) as ex:
            fin = ex.submit(_publish, g, tiers[i - 1])
            if i == len(tiers) - 1:
                # last level: no coarser cascade will re-read it, so skip
                # the wide scratch and publish the long form directly
                nxt_f = ex.submit(_publish, nxt, tiers[i])
            else:
                nxt_f = ex.submit(
                    lambda d=nxt, t=tiers[i]: d.write.mode("overwrite")
                    .parquet(f"{out_root}/tier_{t}_wide{suffix}")
                )
            fin.result()
            nxt_f.result()


def finalize(tier_df: DataFrame) -> DataFrame:
    """Derived read-time view: mean + population std from components.

    std formula matches the reference's population `np.std`
    (`examples/helper_functions.py:66`)."""
    mean = F.col("sum") / F.col("cnt")
    var = F.greatest(F.col("sumsq") / F.col("cnt") - mean * mean, F.lit(0.0))
    return tier_df.withColumn("mean", mean).withColumn("std_pop", F.sqrt(var))


# ---------------------------------------------------------------------------
# Reaggregable quantile sketches: fixed-boundary histograms.
#
# Exact quantiles don't cascade (SURVEY §7 hard-part (d)); the scalable
# answer is a sketch column that DOES. A fixed-boundary histogram is chosen
# over t-digest because (a) merging is an element-wise array sum — exact,
# order-independent, partial-aggregated like every other tier component;
# (b) its estimate semantics are deterministic, so a SQL oracle can verify
# the whole path bit-for-bit (a t-digest's centroids are merge-order-
# dependent). Accuracy is bounded by bin width — pick bounds per metric
# domain (log-spaced covers heavy tails).
# ---------------------------------------------------------------------------

DEFAULT_HIST_BOUNDS = [-64.0, -16.0, -4.0, -1.0, -0.25, 0.0, 0.25, 1.0, 4.0, 16.0, 64.0]


def hist_bin(value: F.Column, bounds: list[float]) -> F.Column:
    """Bin index of ``value``: #{b in bounds : value > b} ∈ [0, len(bounds)];
    bin 0 ⇔ v ≤ bounds[0], bin k ⇔ bounds[k-1] < v ≤ bounds[k], last bin ⇔
    v > bounds[-1]. One filter+size over a literal array — codegen'd."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: value > b))


def _hist_partial(v, ts, seq):
    # bin i ⇔ hist_bin(v) == i, as plain comparisons (one per bin, no
    # per-bin re-evaluation of the filter); every bin count is map-side
    # partial-aggregated, so the exchange still carries one row per group
    b = DEFAULT_HIST_BOUNDS
    in_bin = (
        [v <= b[0]]
        + [(v > lo) & (v <= hi) for lo, hi in zip(b, b[1:])]
        + [v > b[-1]]
    )
    return {
        "cnt": F.count(v),
        "hist": F.array(*[F.count(F.when(c, 1)) for c in in_bin]),
    }


# (cnt, hist array<long> of len(DEFAULT_HIST_BOUNDS)+1 bin counts); the
# merge is an element-wise array sum — exact, order-independent integer adds
HIST = Summary(
    partial=_hist_partial,
    merge=lambda s: {
        "cnt": F.sum(s("cnt")),
        "hist": F.array(*[
            F.sum(F.element_at(s("hist"), i + 1))
            for i in range(len(DEFAULT_HIST_BOUNDS) + 1)
        ]),
    },
)


def hist_quantile(q: float, bounds: list[float]) -> F.Column:
    """Estimate of the q-quantile from (cnt, hist): the upper edge of the
    first bin whose cumulative count reaches ceil(q·cnt); the unbounded
    last bin clamps to bounds[-1]. Deterministic (oracle-checkable);
    error ≤ one bin width by construction.

    Expressed as prefix sums over the hist array (O(B²) JVM-side array
    ops, B ≤ ~32 — negligible next to the shuffle)."""
    nbins = len(bounds) + 1
    # -1e-9 before ceil: q·cnt on binary doubles can land a hair ABOVE an
    # exact integer (0.95·20 = 19.000000000000004 → ceil 20, one order
    # statistic too high); the epsilon restores integer semantics for any
    # cnt < ~1e15. The SQL oracle applies the identical nudge.
    target = F.ceil(F.lit(float(q)) * F.col("cnt") - F.lit(1e-9))
    prefix = F.transform(
        F.sequence(F.lit(1), F.lit(nbins)),
        lambda i: F.aggregate(
            F.slice(F.col("hist"), F.lit(1), i),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    # 0-based bin index = number of prefixes strictly below the target
    idx = F.size(F.filter(prefix, lambda p: p < target))
    edges = F.array(*[F.lit(float(b)) for b in bounds], F.lit(float(bounds[-1])))
    return F.element_at(edges, F.least(idx, F.lit(nbins - 1)) + 1)


def session_rollup(
    df: "DataFrame",
    gap: str = "30 minutes",
    key: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> "DataFrame":
    """Activity-session aggregation via Spark's NATIVE session windows:
    events of one key closer than ``gap`` merge into one session
    (Structured-Streaming-ready state merging — the same call works on a
    stream with a watermark).

    Semantics note (pinned by test): an event EXACTLY ``gap`` after its
    predecessor MERGES into the session — Spark merges touching windows
    ([a, a+gap) and [a+gap, ...) share a boundary). The equivalent
    gaps-and-islands SQL breaks sessions only on strictly-greater gaps.
    ``sess_end`` is the window end = last event + gap."""
    return (
        df.groupBy(key, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(value_col).alias("sum"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
        )
        .select(
            key,
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "cnt", "sum", "min", "max",
        )
    )


def _ohlc_partial(v, ts, seq):
    key = F.struct(ts, seq) if seq is not None else ts
    return {
        "open": F.min_by(v, key),
        "high": F.max(v),
        "low": F.min(v),
        "close": F.max_by(v, key),
        "cnt": F.count(v),
    }


# OHLC candles: per (keys, bucket) the opening value (earliest event),
# high, low and closing value (latest event) — the financial-chart tier
# every series UI wants. open/close are min_by/max_by over the (ts,
# event_id) struct, deterministic under timestamp ties (plain ts for
# inputs without event_id, e.g. the transcript feature stream); no window
# sort at all (cheaper than first_value/last_value, which would force a
# per-partition ordering). The merge keeps the open of the earliest and
# the close of the latest sub-bucket (bucket_ts is unique per sub-bucket,
# so no tiebreak is needed) and min/max of high/low.
#
# Physical note: argmin aggregates (min_by or struct-min alike) compile to
# SortAggregate in Spark 4 — no hash-agg codegen exists for their buffers
# — but the PARTIAL aggregate still runs map-side, so the exchange
# carries one row per group; that is the 100 TB property, and
# `tools/audit_plans.py` pins it.
OHLC = Summary(
    partial=_ohlc_partial,
    merge=lambda s: {
        "open": F.min_by(s("open"), F.col("bucket_ts")),
        "high": F.max(s("high")),
        "low": F.min(s("low")),
        "close": F.max_by(s("close"), F.col("bucket_ts")),
        "cnt": F.sum(s("cnt")),
    },
)


def cube_rollup(
    df: DataFrame,
    dims: tuple[str, ...] = ("metric", "day"),
    value_col: str = "value",
) -> DataFrame:
    """Multi-dimensional CUBE aggregate (the OLAP grouping-sets surface:
    every subset of ``dims`` aggregated in ONE pass, grand total
    included). Each dimension gets an explicit ``g_<dim>`` grouping flag
    (1 = rolled over) so all-NULL dimension values can never be confused
    with subtotal rows — the flag pair, not NULL-ness, is the cell
    identity.

    Scale shape: Spark compiles CUBE to one Expand node (×2^|dims| row
    replication) feeding a single partial-agg groupBy — the raw table is
    scanned once and the exchange carries only the expanded GROUP
    cells after map-side combine. For high-cardinality dims at 100 TB,
    prefer ROLLUP subsets or pre-aggregate to a tier first (the
    replication factor is per-RAW-row); this engine's dims (metric ×
    day) expand cells, not raw volume, after the combine."""
    aggs = [
        F.count(value_col).cast("long").alias("cnt"),
        F.round(F.sum(value_col), 4).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ]
    flags = [F.grouping(d).cast("long").alias(f"g_{d}") for d in dims]
    return df.cube(*dims).agg(*flags, *aggs)
