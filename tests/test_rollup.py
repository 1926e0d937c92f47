"""Tier cascade: finest tier vs pandas oracle; tier-consistency invariant
(1h computed from 1m == 1h computed from raw — SURVEY §5 item 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from tsengine import features, rollup


def _tiers(transcripts):
    long = features.to_long(features.derive_features(transcripts))
    t1m = rollup.rollup(long, rollup.STATS, "1m")
    t1h = rollup.cascade(t1m, rollup.STATS, "1h")
    return long, {"1m": t1m, "1h": t1h, "1d": rollup.cascade(t1h, rollup.STATS, "1d")}


def _norm(pdf):
    return pdf.sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)


def test_1m_tier_matches_pandas_oracle(spark, transcripts):
    long, tiers = _tiers(transcripts)
    got = _norm(tiers["1m"].toPandas())

    raw = long.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("min")
    g = raw.groupby(["conv_id", "bucket_ts", "metric"])["value"]
    exp = g.agg(
        cnt="count", sum="sum", min="min", max="max",
        sumsq=lambda s: float((s.to_numpy() ** 2).sum()),
    ).reset_index()
    exp = _norm(exp)

    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["conv_id", "bucket_ts", "metric"]],
        exp[["conv_id", "bucket_ts", "metric"]],
    )
    assert (got["cnt"].to_numpy() == exp["cnt"].to_numpy()).all()
    np.testing.assert_allclose(got["sum"], exp["sum"], rtol=1e-9)
    np.testing.assert_allclose(got["min"], exp["min"], rtol=0)
    np.testing.assert_allclose(got["max"], exp["max"], rtol=0)
    np.testing.assert_allclose(got["sumsq"], exp["sumsq"], rtol=1e-9)


def test_cascade_consistency(spark, transcripts):
    long, tiers = _tiers(transcripts)
    # 1h from 1m must equal 1h computed directly from raw
    direct_1h = _norm(rollup.rollup(long, rollup.STATS, "1h").toPandas())
    cascaded_1h = _norm(tiers["1h"].toPandas())
    assert len(direct_1h) == len(cascaded_1h)
    assert (direct_1h["cnt"].to_numpy() == cascaded_1h["cnt"].to_numpy()).all()
    np.testing.assert_allclose(direct_1h["sum"], cascaded_1h["sum"], rtol=1e-9)
    np.testing.assert_allclose(direct_1h["min"], cascaded_1h["min"])
    np.testing.assert_allclose(direct_1h["max"], cascaded_1h["max"])

    # row-count monotonicity 1m ≥ 1h ≥ 1d; total cnt preserved at every tier
    cnts = {t: tiers[t].toPandas() for t in rollup.TIER_ORDER}
    assert len(cnts["1m"]) >= len(cnts["1h"]) >= len(cnts["1d"])
    assert cnts["1m"]["cnt"].sum() == cnts["1h"]["cnt"].sum() == cnts["1d"]["cnt"].sum()


def test_finalize_std(spark, transcripts):
    long, tiers = _tiers(transcripts)
    fin = rollup.finalize(tiers["1d"]).toPandas()
    raw = long.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("D")
    exp = (
        raw.groupby(["conv_id", "bucket_ts", "metric"])["value"]
        .agg(mean="mean", std_pop=lambda s: float(np.std(s.to_numpy())))
        .reset_index()
    )
    m = fin.merge(exp, on=["conv_id", "bucket_ts", "metric"], suffixes=("", "_exp"))
    assert len(m) == len(fin)
    np.testing.assert_allclose(m["mean"], m["mean_exp"], rtol=1e-9)
    np.testing.assert_allclose(m["std_pop"], m["std_pop_exp"], rtol=1e-6, atol=1e-9)


def test_session_rollup_gap_semantics(spark):
    from datetime import datetime

    from tsengine import rollup as R

    rows = [
        ("c", datetime(2024, 1, 1, 10, 0, 0), 1.0),
        ("c", datetime(2024, 1, 1, 10, 10, 0), 2.0),   # < gap -> same session
        ("c", datetime(2024, 1, 1, 10, 40, 0), 3.0),   # exactly 30m -> MERGES (touching windows)
        ("c", datetime(2024, 1, 1, 12, 0, 0), 4.0),    # far -> new session
        ("d", datetime(2024, 1, 1, 10, 0, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    out = (
        R.session_rollup(df, gap="30 minutes").toPandas()
        .sort_values(["conv_id", "sess_start"]).reset_index(drop=True)
    )
    c = out[out["conv_id"] == "c"]
    assert len(c) == 2, f"expected 2 sessions for c, got\n{out}"
    assert list(c["cnt"]) == [3, 1]
    assert c.iloc[0]["sum"] == 6.0
    # sess_end = last event + gap
    assert c.iloc[0]["sess_end"] == datetime(2024, 1, 1, 11, 10, 0)
    assert len(out[out["conv_id"] == "d"]) == 1


def test_hist_sketch_cascade_and_quantiles(spark):
    """Histogram sketch: 1m→1h cascade must equal the direct 1h histogram
    (exact integer merge), and the p50 estimate must bracket the exact
    median within its bin."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    rows = []
    base = 1_700_000_000
    for i in range(2000):
        v = float(rng.normal(0, 8))
        rows.append(("c%d" % (i % 3), base + i * 7, "m", v))
    df = spark.createDataFrame(rows, "conv_id string, epoch long, metric string, value double")
    ev = df.select("conv_id", F.timestamp_seconds("epoch").alias("ts"), "metric", "value")

    bounds = rollup.DEFAULT_HIST_BOUNDS
    h1m = rollup.rollup(ev, rollup.HIST, "1m")
    h1h_cascade = rollup.cascade(h1m, rollup.HIST, "1h")
    # direct 1h histogram over raw
    direct = rollup.rollup(ev, rollup.HIST, "1h")
    a = {(r["conv_id"], r["bucket_ts"], r["metric"]): (r["cnt"], list(r["hist"]))
         for r in h1h_cascade.collect()}
    b = {(r["conv_id"], r["bucket_ts"], r["metric"]): (r["cnt"], list(r["hist"]))
         for r in direct.collect()}
    assert a == b

    est = h1h_cascade.select(
        "conv_id", "bucket_ts", rollup.hist_quantile(0.5, bounds).alias("p50")
    ).collect()
    import pandas as pd

    pdf = ev.toPandas()
    pdf["bucket_ts"] = pdf["ts"].dt.floor("h")
    import math

    for r in est[:20]:
        vals = sorted(
            pdf[(pdf["conv_id"] == r["conv_id"]) & (pdf["bucket_ts"] == r["bucket_ts"])]["value"]
        )
        # the sketch targets the ceil(q*cnt)-th order statistic (not the
        # interpolated median) and returns its bin's upper edge
        kth = vals[math.ceil(0.5 * len(vals)) - 1]
        bigger = [x for x in bounds if x >= kth]
        want = bigger[0] if bigger else bounds[-1]
        assert r["p50"] == want, (kth, r["p50"], want)


def test_cube_rollup_all_grouping_sets(spark):
    from datetime import datetime
    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 3, 1).date(), 1.0),
            ("a", datetime(2024, 3, 1).date(), 2.0),
            ("a", datetime(2024, 3, 2).date(), 3.0),
            ("b", datetime(2024, 3, 1).date(), 10.0),
        ],
        "metric string, day date, value double",
    )
    got = {
        (r["metric"], str(r["day"]) if r["day"] else None,
         r["g_metric"], r["g_day"]): r
        for r in rollup.cube_rollup(df, dims=("metric", "day")).collect()
    }
    assert len(got) == 3 + 2 + 2 + 1  # cells + per-metric + per-day + total
    assert got[("a", "2024-03-01", 0, 0)]["sum_v"] == 3.0
    assert got[("a", None, 0, 1)]["cnt"] == 3          # metric subtotal
    assert got[(None, "2024-03-01", 1, 0)]["sum_v"] == 13.0  # day subtotal
    g = got[(None, None, 1, 1)]                        # grand total
    assert g["cnt"] == 4 and g["sum_v"] == 16.0
    assert g["min_v"] == 1.0 and g["max_v"] == 10.0
