"""The wide form of the STATS rollup/cascade (``metrics=[...]``) must equal
the long-path rollup exactly (it is a shuffle-volume optimization, not a
semantics change)."""

from __future__ import annotations

import pandas as pd

from tsengine import features, rollup


S = rollup.STATS


def _wide_long(wide, metrics, tier):
    """The wide rollup viewed in the long tier format."""
    return rollup.unpivot_stats(rollup.rollup(wide, S, tier, metrics), metrics)


def _canon(df):
    pdf = df.toPandas().sort_values(["conv_id", "bucket_ts", "metric"]).reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


def test_wide_equals_long(transcripts):
    wide = features.derive_features_chunked(transcripts)
    long = features.to_long(wide)
    a = _canon(rollup.rollup(long, S, "1m"))
    b = _canon(_wide_long(wide, features.DEFAULT_METRICS, "1m"))
    pd.testing.assert_frame_equal(a, b, rtol=1e-12)


def test_wide_cascade_consistent(transcripts):
    wide = features.derive_features_chunked(transcripts)
    t1m = _wide_long(wide, features.DEFAULT_METRICS, "1m")
    t1h = rollup.cascade(t1m, S, "1h")
    long = features.to_long(wide)
    direct = _canon(rollup.rollup(long, S, "1h"))
    pd.testing.assert_frame_equal(_canon(t1h), direct, rtol=1e-9)


def test_cascade_wide_equals_long_cascade(transcripts):
    """The wide cascade must reproduce the long-path cascade at every tier —
    it is the same shuffle-volume optimization applied to the cascade."""
    mets = features.DEFAULT_METRICS
    wide = features.derive_features_chunked(transcripts)
    g1m = rollup.rollup(wide, S, "1m", mets)
    t1m_long = _wide_long(wide, mets, "1m")

    g1h = rollup.cascade(g1m, S, "1h", mets)
    a = _canon(rollup.unpivot_stats(g1h, mets))
    b = _canon(rollup.cascade(t1m_long, S, "1h"))
    pd.testing.assert_frame_equal(a, b, rtol=1e-9)

    g1d = rollup.cascade(g1h, S, "1d", mets)
    c = _canon(rollup.unpivot_stats(g1d, mets))
    d = _canon(rollup.cascade(rollup.cascade(t1m_long, S, "1h"), S, "1d"))
    pd.testing.assert_frame_equal(c, d, rtol=1e-9)


def test_unpivot_stats_roundtrips_wide_rollup(transcripts):
    """unpivot_stats(wide rollup) ≡ the long-format view of the wide rollup
    (the public long tier is a pure view of the wide scratch)."""
    mets = features.DEFAULT_METRICS
    wide = features.derive_features_chunked(transcripts)
    a = _canon(rollup.unpivot_stats(rollup.rollup(wide, S, "1m", mets), mets))
    b = _canon(_wide_long(wide, mets, "1m"))
    pd.testing.assert_frame_equal(a, b, rtol=1e-12)


def test_publish_cascade_wide_matches_sequential(transcripts, spark, tmp_path):
    """publish_cascade_wide (threaded, overlapped writes) must produce tier
    tables identical to the sequential unpivot/cascade chain — overlap is a
    scheduling change, not a semantics change."""
    mets = features.DEFAULT_METRICS
    out = str(tmp_path / "tiers")
    wide = features.derive_features_chunked(transcripts)
    g1m = rollup.rollup(wide, S, "1m", mets)
    g1m.write.mode("overwrite").parquet(f"{out}/tier_1m_wide")
    rollup.publish_cascade_wide(spark, out, mets)

    g1m_r = spark.read.parquet(f"{out}/tier_1m_wide")
    seq = {
        "1m": rollup.unpivot_stats(g1m_r, mets),
        "1h": rollup.unpivot_stats(rollup.cascade(g1m_r, S, "1h", mets), mets),
        "1d": rollup.unpivot_stats(
            rollup.cascade(rollup.cascade(g1m_r, S, "1h", mets), S, "1d", mets),
            mets,
        ),
    }
    for tier, want in seq.items():
        got = _canon(spark.read.parquet(f"{out}/tier_{tier}"))
        pd.testing.assert_frame_equal(got, _canon(want), rtol=1e-12)
    # the intermediate wide scratch for 1h is written; 1d publishes directly
    import os
    assert os.path.exists(f"{out}/tier_1h_wide/_SUCCESS")
    assert not os.path.exists(f"{out}/tier_1d_wide")
