"""Merge ≡ rebuild for every mergeable-summary spec: the tier cascade
1m→1h→1d must equal the rollup built directly from raw at 1h and 1d, and
(for STATS) the late-data merge must equal a rebuild. Integer, min/max,
histogram and struct components match exactly; float sums to rel 1e-12
(disjoint partials re-associate the double additions)."""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from tsengine import features, rolling, rollup

SPECS = {
    "STATS": rollup.STATS,
    "HIST": rollup.HIST,
    "OHLC": rollup.OHLC,
    "M4": rolling.M4,
}
FLOAT_SUMS = {"sum", "sumsq"}
KEY = ("conv_id", "bucket_ts", "metric")


@pytest.fixture(scope="module")
def inputs(spark, transcripts):
    """Two long streams: the transcript features (no event_id, so ties on
    ts cannot break by it) and an event stream with event_id, timestamps
    on a 10-minute grid and values on a 0.25 grid — ts ties, value ties,
    values on histogram bounds, and nulls."""
    rng = random.Random(7)
    rows = []
    for eid in range(900):
        ts = datetime(2024, 3, 1) + timedelta(minutes=10 * rng.randrange(432))
        v = None if eid % 50 == 0 else round(rng.uniform(-80, 80) * 4) / 4
        rows.append(("abc"[eid % 3], "mn"[eid % 2], ts, eid, v))
    events = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, event_id long, value double"
    )
    long = features.to_long(features.derive_features(transcripts))
    return {"transcripts": long.cache(), "events": events.cache()}


def _rows(df) -> dict:
    return {tuple(r[k] for k in KEY): r.asDict() for r in df.collect()}


def _assert_same(got: dict, want: dict) -> None:
    assert got.keys() == want.keys()
    for key, w in want.items():
        g = got[key]
        assert g.keys() == w.keys(), key
        for c, wv in w.items():
            if c in FLOAT_SUMS:
                assert math.isclose(g[c], wv, rel_tol=1e-12), (key, c, g[c], wv)
            else:
                assert g[c] == wv, (key, c, g[c], wv)


@pytest.mark.parametrize("data", ["transcripts", "events"])
@pytest.mark.parametrize("name", list(SPECS))
def test_cascade_equals_rebuild(inputs, name, data):
    spec, raw = SPECS[name], inputs[data]
    t1h = rollup.cascade(rollup.rollup(raw, spec, "1m"), spec, "1h")
    t1d = rollup.cascade(t1h, spec, "1d")
    want_1h = _rows(rollup.rollup(raw, spec, "1h"))
    want_1d = _rows(rollup.rollup(raw, spec, "1d"))
    assert len(want_1h) > len(want_1d) > 1
    _assert_same(_rows(t1h), want_1h)
    _assert_same(_rows(t1d), want_1d)


@pytest.mark.parametrize("data", ["transcripts", "events"])
def test_stats_late_merge_equals_rebuild(inputs, data):
    S, raw = rollup.STATS, inputs[data]
    # a hash split sends rows of most buckets to BOTH sides, so the merge
    # re-aggregates overlapping buckets, not just disjoint ones
    late = F.xxhash64(*raw.columns) % 3 == 0
    on_time = rollup.rollup(raw.where(~late), S, "1m")
    delta = rollup.rollup(raw.where(late), S, "1m")
    assert on_time.join(delta, list(KEY)).count() > 0
    merged = rollup.cascade(on_time.unionByName(delta), S, "1m")
    full = rollup.rollup(raw, S, "1m")
    _assert_same(_rows(merged), _rows(full))

    # an empty delta is the identity, bit for bit
    empty = full.where(F.lit(False))
    assert _rows(rollup.cascade(full.unionByName(empty), S, "1m")) == _rows(full)
