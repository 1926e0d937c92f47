"""The benchmark's workloads.

Each workload makes its input from the seed (untimed, cached on disk per
seed and size), times its work, and then checks the outputs of the timed
work. ``pass_s`` is the figure every workload reports:

- ``ingest``: ``jobs.run_pipeline`` then ``jobs.run_compaction`` over
  transcripts laid out by ``tables.write_fact`` (16 buckets x day
  partitions). This is the paper's batch job, and the workload where
  reading fewer input files per unit must show. ``pass_s`` is the first
  run of the job in a fresh session, as each scheduled batch run pays it
  (plan compilation included, Python workers already started).
- ``series_ops``: one pass over registry entries that run per-series
  Python through the three grouped-series mechanisms and the mergeable
  summaries; ``ingest`` never touches these code paths. ``pass_s`` is
  the first pass in a fresh session, as a caller that runs each entry
  once pays it.
- ``serve``: closed-loop reads, one client, over the tables ``ingest``
  writes. ``pass_s`` is the median time of one round of three reads.

Passes after the first, made while another fits in ``--seconds``, are
warm; their median is reported as ``warm_pass_s``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

# ingest input: synth's first INGEST_CONVS conversations, heavy-tailed
# lengths plus one forced mega-conversation. Lengths are Pareto(1.1), so
# the turn count of a fixed number of conversations swings by a third
# between seeds; every conversation but the mega one is therefore cut to
# its first L turns, with L the largest cut that keeps the input within
# INGEST_TURNS (L falls between ~100 and ~650 turns across seeds). That
# keeps the turns, the conversations and the days they span, and so the
# table's files, the same for every seed.
INGEST_CONVS = 300
INGEST_MEGA = 2000
INGEST_TURNS = 12_000
MEGA_ID = "conv-00000000"  # synth forces conversation 0 to INGEST_MEGA turns
N_BUCKETS = 4  # run_pipeline's default unit count

# series_ops input: the registry's ``events`` test table with sf0.01's
# 750 series (150 users x 5 event types), where the per-group cost of the
# grouped-apply entries shows next to the fixed per-entry cost, at ~7 rows
# per series, half of sf0.01's: the chunked entries run one Spark job per
# few rows of the longest series, and at full length they alone would
# take most of a run's time budget. The series lengths are one fixed
# Poisson draw, dealt to the series anew by every seed, so that the total
# and the longest series (and with it the chunked entries' job count)
# are the same for every seed.
EVENTS_USERS = 150
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_PER_SERIES = 6.7


GROUPED_APPLY = ["ts_ewma", "ts_brown", "ts_pelt", "ts_sigma_clip"]
CHUNKED = ["ts_kalman_chunked", "ts_holt_winters_chunked"]
SORTED_BATCH = [
    "ts_kalman", "ts_holt_winters", "ts_holt_linear", "ts_lttb_downsample",
    "ts_matrix_profile", "ts_moments", "ts_mann_kendall",
]
SUMMARIES = [
    "ts_tier_1h_cascade", "ts_hist_quantiles", "ts_ohlc_1d_cascade",
    "ts_m4_downsample", "ts_tier_merge_late", "ts_hll_distinct",
    "ts_cms_topk", "ts_kmv_distinct",
]
SERIES_OPS = GROUPED_APPLY + CHUNKED + SORTED_BATCH + SUMMARIES

# serve: rounds per run (p75 then has ten samples beyond it), untimed
# warm-up rounds, and the skew of the conversation draw
SERVE_READS = 40
SERVE_WARM_READS = 3
ZIPF_A = 1.3


@dataclass
class Outcome:
    """What a workload measured. ``info`` holds named figures with units."""

    setup_s: float = 0.0
    pass_s: float = 0.0
    passes: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: dict[str, tuple[float, str]] = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".rstrip())

    def first_pass(self) -> None:
        """``pass_s`` from the first pass; later ones are warm."""
        self.pass_s = self.passes[0]
        if len(self.passes) > 1:
            self.info["warm_pass_s"] = (statistics.median(self.passes[1:]), "s")


def start_python_workers(spark) -> None:
    """Start one Python worker per core, so that no timed pass pays for
    process start-up (the workers stay up for reuse)."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()


def timed_passes(seconds: float, one_pass) -> list[float]:
    """Run whole passes of ``one_pass()`` within ``seconds``: one, then
    another as long as it is expected (by the last one) to end in time."""
    walls: list[float] = []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start + walls[-1] <= seconds:
        t0 = time.perf_counter()
        one_pass()
        walls.append(time.perf_counter() - t0)
    return walls


def dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


# --------------------------------------------------------------------- ingest

def length_cut(lengths: list[int], budget: int) -> int:
    """The largest L with sum(min(n, L)) <= budget (no cut if all fit)."""
    n = np.sort(np.asarray(lengths))
    if n.sum() <= budget:
        return int(n[-1])
    cuts = np.arange(1, n[-1] + 1)
    below = np.concatenate([[0], np.cumsum(n)])[np.searchsorted(n, cuts)]
    totals = below + cuts * (len(n) - np.searchsorted(n, cuts))
    return int(cuts[totals <= budget][-1])


def transcripts(spark, data: Path, seed: int) -> tuple[str, int, list[str]]:
    """The seed's transcript fact table (cached), its turn count and its
    conversation ids."""
    import json

    from pyspark.sql import functions as F

    from tsengine import synth, tables

    d = data / f"transcripts-s{seed}-c{INGEST_CONVS}-m{INGEST_MEGA}-t{INGEST_TURNS}"
    marker = d / "input.json"
    if not marker.exists():
        shutil.rmtree(d, ignore_errors=True)
        tr = synth.generate_transcripts(
            spark, n_convs=INGEST_CONVS, seed=seed, mega_turns=INGEST_MEGA)
        lengths = {r["conv_id"]: r["count"] for r in tr.groupBy("conv_id").count().collect()}
        mega = lengths.pop(MEGA_ID)
        cut = length_cut(list(lengths.values()), INGEST_TURNS - mega)
        turns = mega + sum(min(n, cut) for n in lengths.values())
        tables.write_fact(tr.where((F.col("conv_id") == MEGA_ID) | (F.col("turn_idx") < cut)),
                          str(d / "fact"), mode="overwrite")
        marker.write_text(json.dumps({"turns": turns, "cut": cut, "ids": sorted([MEGA_ID, *lengths])}))
    got = json.loads(marker.read_text())
    return str(d / "fact"), got["turns"], got["ids"]


def ingest_pass(spark, fact: str, out: Path) -> tuple[float, float]:
    """One run of the production job; returns (pipeline_s, compaction_s)."""
    from tsengine import jobs, tables

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    jobs.run_pipeline(spark, tables.read_fact(spark, fact), str(out))
    t1 = time.perf_counter()
    jobs.run_compaction(spark, str(out))
    return t1 - t0, time.perf_counter() - t1


def check_ingest(spark, out: Path, turns: int, res: Outcome) -> int:
    """Output checks of one ingest pass; returns the number of points."""
    from pyspark.sql import functions as F

    from tsengine import chunks, lineage, validate

    read = lambda name: spark.read.parquet(str(out / name))  # noqa: E731
    t1m, t1h, t1d = read("tier_1m"), read("tier_1h"), read("tier_1d")
    n_chars = t1m.where(F.col("metric") == "n_chars").agg(F.sum("cnt")).first()[0]
    res.check("tier_1m_turns", n_chars == turns, f"{n_chars} != {turns}")
    for name, fine, coarse, tier in (("1m_1h", t1m, t1h, "1h"), ("1h_1d", t1h, t1d, "1d")):
        bad = validate.tier_consistency_violations(fine, coarse, tier).count()
        res.check(f"tier_consistency_{name}", bad == 0, f"{bad} rows")
    lin = lineage.LineageLog(spark, str(out)).metrics().where(F.col("status") == "done")
    got = {(r["job_id"], r["stage"]): r["count"] for r in lin.groupBy("job_id", "stage").count().collect()}
    want = {
        ("pipeline", "tier_cascade"): N_BUCKETS,
        ("pipeline", "chunks"): N_BUCKETS,
        ("compaction", "compact_7d"): N_BUCKETS,
    }
    res.check("lineage_rows", got == want, f"{got}")
    a = chunks.decode_chunks(read("chunks"))
    b = chunks.decode_chunks(read("chunks_7d"))
    n_a, n_b = a.count(), b.count()
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    res.check("compaction_points", n_a == n_b and diff == 0, f"{n_a} vs {n_b}, {diff} differ")
    return n_a


def ingest(spark, work: Path, data: Path, seed: int, seconds: float, res: Outcome, tracer=None) -> None:
    fact, turns, ids = transcripts(spark, data, seed)
    pipe: list[float] = []
    comp: list[float] = []

    def one() -> None:
        if tracer is not None:
            tracer.open_pass()
        p, c = ingest_pass(spark, fact, work / "out")
        if tracer is not None:
            tracer.close_pass()
        pipe.append(p)
        comp.append(c)

    res.passes = timed_passes(seconds, one)
    res.attempted += 2 * len(res.passes)
    res.first_pass()
    points = check_ingest(spark, work / "out", turns, res)
    res.info.update({
        "input_turns": (turns, "count"),
        "input_conversations": (len(ids), "count"),
        "pipeline_turns_per_s": (turns / pipe[0], "1/s"),
        "compaction_points_per_s": (points / comp[0], "1/s"),
        "stored_bytes_per_turn": (dir_bytes(work / "out") / turns, "B"),
    })


# ---------------------------------------------------------------- series_ops

def series_lengths() -> np.ndarray:
    """The fixed multiset of series lengths (at least one row each)."""
    rng = np.random.default_rng(0)
    return np.maximum(rng.poisson(EVENTS_PER_SERIES, EVENTS_USERS * len(EVENT_TYPES)), 1)


def make_events(seed: int) -> pd.DataFrame:
    """An ``events`` table shaped like the registry's test data: 30 days
    of time-ordered events, cent-quantized positive values (the registry's
    oracles rely on exact cents)."""
    rng = np.random.default_rng(seed)
    lengths = rng.permutation(series_lengths())
    series = np.repeat(np.arange(len(lengths)), lengths)
    rows = len(series)
    base = pd.Timestamp("2024-01-01").value // 1000
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, rows))
    series = rng.permutation(series)  # which series each time-ordered row belongs to
    return pd.DataFrame({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": pd.to_datetime(base + us, unit="us"),
        "user_id": (series // len(EVENT_TYPES)).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[series % len(EVENT_TYPES)],
        "value": np.round(rng.lognormal(3.5, 0.9, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })


def events_dir(data: Path, seed: int) -> str:
    """Directory holding the seed's ``events.parquet`` (cached)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = data / f"events-s{seed}-u{EVENTS_USERS}-r{EVENTS_PER_SERIES}"
    f = d / "events.parquet"
    if not f.exists():
        d.mkdir(parents=True, exist_ok=True)
        table = pa.Table.from_pandas(make_events(seed), preserve_index=False)
        table = table.cast(table.schema.set(1, pa.field("ts", pa.timestamp("us"))))
        pq.write_table(table, d / "events.parquet.tmp")
        (d / "events.parquet.tmp").rename(f)
    return str(d)


def run_entries(spark, sf_dir: str, tracer=None) -> tuple[dict[str, pd.DataFrame], dict[str, float]]:
    """Every series_ops entry, collected; returns results and wall times."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, pd.DataFrame] = {}
    walls: dict[str, float] = {}
    for name in SERIES_OPS:
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.span(f"op.{name}", layer="op"):
                out[name] = qs[name](spark, sf_dir).toPandas()
        else:
            out[name] = qs[name](spark, sf_dir).toPandas()
        walls[name] = time.perf_counter() - t0
    return out, walls


# Entries whose DuckDB twin sums floats in another order, so that a value
# rounded by both sides can differ in its last kept digit (ROADMAP,
# "Carried defects": ts_moments): their key columns and the absolute
# tolerance their values are compared with instead of by value hash.
FOLD_ORDER_TOLERANCE = {"ts_moments": (["conv_id", "metric"], 1.5e-6)}


def frames_match(a: pd.DataFrame, b: pd.DataFrame, keys: list[str],
                 atol: float = 0.0, rtol: float = 0.0) -> bool:
    """Same columns and rows (matched by ``keys``); floats within the
    tolerances, every other value equal."""
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    a = a.sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            if not np.allclose(x, y, rtol=rtol, atol=atol, equal_nan=True):
                return False
        elif not (x == y).all():
            return False
    return True


def _signless_zeros(df: pd.DataFrame) -> pd.DataFrame:
    """-0.0 as 0.0 in every float column. DuckDB's round keeps the sign of
    a tiny negative, Spark's does not, and value_hash writes them as "-0"
    and "0"; oracles that skip the ``+ 0.0`` fix (ts_brown's trend, on
    some inputs) would fail on a value both engines compute alike."""
    out = df.copy()
    for c in out.columns:
        if out[c].dtype.kind == "f":
            out[c] = out[c] + 0.0
    return out


def check_oracles(sf_dir: str, results: dict[str, pd.DataFrame], res: Outcome) -> None:
    """Each entry against its DuckDB twin, compared the way
    tools/compare_oracle.py compares them (rows, columns, value hash),
    with signed zeros taken as equal."""
    import duckdb

    import __spark_entry__ as entry
    from tools.compare_oracle import value_hash

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
        for name, sdf in results.items():
            sdf, odf = _signless_zeros(sdf), _signless_zeros(con.sql(sql[name]).df())
            ok = len(sdf) == len(odf) and sorted(sdf.columns) == sorted(odf.columns)
            if ok and name in FOLD_ORDER_TOLERANCE:
                keys, tol = FOLD_ORDER_TOLERANCE[name]
                ok = frames_match(sdf, odf, keys, atol=tol)
            elif ok:
                ok = value_hash(sdf) == value_hash(odf)
            res.check(f"oracle_{name}", ok, f"rows {len(sdf)} vs {len(odf)}")
    finally:
        con.close()


def series_ops(spark, work: Path, data: Path, seed: int, seconds: float, res: Outcome, tracer=None) -> None:
    sf_dir = events_dir(data, seed)
    first: dict[str, pd.DataFrame] = {}
    per_op: list[dict[str, float]] = []

    def one() -> None:
        if tracer is not None:
            tracer.open_pass()
        out, walls = run_entries(spark, sf_dir, tracer)
        if tracer is not None:
            tracer.close_pass()
        if not first:
            first.update(out)
        per_op.append(walls)

    res.passes = timed_passes(seconds, one)
    res.attempted += len(SERIES_OPS) * len(res.passes)
    res.first_pass()
    check_oracles(sf_dir, first, res)
    for group, names in (
        ("grouped_apply", GROUPED_APPLY), ("chunked", CHUNKED),
        ("sorted_batch_apply", SORTED_BATCH), ("summaries", SUMMARIES),
    ):
        res.info[f"group_s.{group}"] = (sum(per_op[0][n] for n in names), "s")


# --------------------------------------------------------------------- serve

def serve_tables(spark, data: Path, seed: int) -> tuple[str, Path, list[str]]:
    """The seed's fact table, the tables ``ingest`` writes from it (built
    once per seed and size, then cached) and its conversation ids."""
    fact, _, ids = transcripts(spark, data, seed)
    out = Path(fact).parent / "tables"
    done = out / "_built"
    if not done.exists():
        ingest_pass(spark, fact, out)
        done.write_text("ok")
    return fact, out, ids


def read_plan(seed: int, ids: list[str], n: int) -> list[str]:
    """Conversations of ``n`` reads: a seeded Zipf draw over them in id
    order, so a few hot ones (the mega-conversation first) take most
    reads."""
    rng = np.random.default_rng([seed, 7])
    return [ids[int(r - 1) % len(ids)] for r in rng.zipf(ZIPF_A, n)]


def week_of(cid: str) -> tuple[pd.Timestamp, pd.Timestamp]:
    """A 7-day window from the day conversation ``cid`` starts (synth
    staggers conversation starts by 977 s per id number)."""
    from tsengine.synth import EPOCH_BASE

    i = int(cid.rsplit("-", 1)[1])
    t0 = (EPOCH_BASE + pd.Timedelta(seconds=977 * i)).floor("D")
    return t0, t0 + pd.Timedelta(days=7) - pd.Timedelta(microseconds=1)


def _point_read(spark, fact: str, cid: str) -> pd.DataFrame:
    from tsengine import tables

    return tables.read_fact(spark, fact, conv_id=cid).toPandas()


def _range_read(spark, out: Path, cid: str, lo, hi) -> pd.DataFrame:
    from pyspark.sql import functions as F

    from tsengine import chunks

    c7 = spark.read.parquet(str(out / "chunks_7d")).where(F.col("conv_id") == cid)
    return chunks.decode_range(c7, lo, hi, chunk_span="7d").toPandas()


def _tier_read(spark, out: Path, cid: str) -> pd.DataFrame:
    from pyspark.sql import functions as F

    from tsengine import rollup

    t = spark.read.parquet(str(out / "tier_1h")).where(F.col("conv_id") == cid)
    return rollup.finalize(t).toPandas()


def serve_references(spark, fact: str, out: Path, cids: list[str]) -> dict:
    """Untimed expected results for every conversation the plan reads,
    from plain filters over the raw tables: the unpruned fact scan, the
    gap-filled series the chunks encode, and the 1h tier's components."""
    from pyspark.sql import functions as F

    pick = F.col("conv_id").isin(sorted(set(cids)))
    raw = spark.read.parquet(fact).where(pick).drop("pbucket", "pday").toPandas()
    filled = spark.read.parquet(str(out / "filled_1m")).where(pick).select(
        "conv_id", "metric", "bucket_ts", "value").toPandas()
    tier = spark.read.parquet(str(out / "tier_1h")).where(pick).toPandas()
    tier["mean"] = tier["sum"] / tier["cnt"]
    tier["std_pop"] = np.sqrt(np.maximum(tier["sumsq"] / tier["cnt"] - tier["mean"] ** 2, 0.0))
    ref = {}
    for cid in set(cids):
        lo, hi = week_of(cid)
        f = filled[(filled.conv_id == cid) & (filled.bucket_ts >= lo) & (filled.bucket_ts <= hi)]
        ref[cid] = (raw[raw.conv_id == cid], f, tier[tier.conv_id == cid])
    return ref


def serve(spark, work: Path, data: Path, seed: int, seconds: float, res: Outcome, tracer=None) -> None:
    fact, out, ids = serve_tables(spark, data, seed)
    plan = read_plan(seed, ids, SERVE_WARM_READS + SERVE_READS * 4)
    ref = serve_references(spark, fact, out, plan)
    lat: dict[str, list[float]] = {"point_read": [], "range_read": [], "tier_read": []}

    def reads(cid: str, record: bool) -> None:
        lo, hi = week_of(cid)
        calls = (
            ("point_read", lambda: _point_read(spark, fact, cid)),
            ("range_read", lambda: _range_read(spark, out, cid, lo, hi)),
            ("tier_read", lambda: _tier_read(spark, out, cid)),
        )
        got = {}
        wall = 0.0
        for name, call in calls:
            t0 = time.perf_counter()
            if tracer is not None and record:
                with tracer.span(f"serve.{name}", layer=name):
                    got[name] = call()
            else:
                got[name] = call()
            dt = time.perf_counter() - t0
            wall += dt
            if record:
                lat[name].append(dt)
        if record:
            res.passes.append(wall)
            raw, filled, tier = ref[cid]
            res.check("point_read", frames_match(got["point_read"], raw, ["turn_idx"]))
            res.check("range_read", frames_match(got["range_read"], filled, ["metric", "bucket_ts"]))
            res.check("tier_read", frames_match(got["tier_read"], tier, ["metric", "bucket_ts"], rtol=1e-12))

    t0 = time.perf_counter()
    for cid in plan[:SERVE_WARM_READS]:
        reads(cid, record=False)
    res.setup_s += time.perf_counter() - t0

    t_end = time.perf_counter() + seconds
    for cid in plan[SERVE_WARM_READS:]:
        if len(res.passes) >= SERVE_READS and time.perf_counter() >= t_end:
            break
        if tracer is not None:
            tracer.open_pass()
        reads(cid, record=True)
        if tracer is not None:
            tracer.close_pass()
    res.pass_s = statistics.median(res.passes)
    for name, xs in lat.items():
        q = statistics.quantiles([x * 1000 for x in xs], n=4)
        res.info[f"{name}_ms.p50"] = (q[1], "ms")
        res.info[f"{name}_ms.p75"] = (q[2], "ms")


WORKLOADS = {"ingest": ingest, "series_ops": series_ops, "serve": serve}
