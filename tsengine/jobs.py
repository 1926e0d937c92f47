"""End-to-end pipeline entry points (spark-submit friendly).

The flagship job reproduces the reference's E1/E3 lifecycle shape
(SURVEY.md §3) Spark-first:

    scan transcripts
      → per-turn signal pack (features.py, pure Column exprs)
      → long format
      → 1m wide-stats tier (ONE shuffle over raw, map-side partial agg,
        one row per (conv, minute) carrying all metrics — never per-metric)
      → 1h wide (from 1m wide) → 1d wide (from 1h wide)   # cascade, never raw
      → public long tiers = post-agg unpivots of the wide scratch
      → gap-filled 1m grid (gapfill.py, Catalyst path)
      → chunk blobs (chunks.py: delta-of-delta + Gorilla-XOR)
    with per-unit lineage rows → resumable (lineage.py)

Work units are conv_id hash buckets (≙ Iceberg ``bucket(B, conv_id)``
partitions). Each unit is an independent sub-job: at cluster scale units
run as separate applications over disjoint partition predicates; here they
run sequentially to exercise the checkpoint/resume path.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine import chunks as chunks_mod
from tsengine import features, gapfill, lineage, rollup

GAPFILL_METRICS = ["latency_s", "char_rate", "tool_intensity"]


class PipelineFailure(RuntimeError):
    """Injected failure for resume tests."""


def bucket_expr(n_buckets: int):
    return F.crc32(F.col("conv_id")) % n_buckets


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    *,
    n_buckets: int = 4,
    job_id: str = "pipeline",
    fingerprint: str = "na",
    gapfill_freq: str = "1m",
    chunk_span: str = "1d",
    resume: bool = True,
    fail_after_units: int | None = None,
) -> dict[str, str]:
    """Run (or resume) the full pipeline; returns output table paths."""
    log = lineage.LineageLog(spark, out_root)
    paths = {
        t: os.path.join(out_root, f"tier_{t}") for t in rollup.TIER_ORDER
    } | {
        "1m_wide": os.path.join(out_root, "tier_1m_wide"),
        "1h_wide": os.path.join(out_root, "tier_1h_wide"),
        "chunks": os.path.join(out_root, "chunks"),
        "filled": os.path.join(out_root, "filled_1m"),
    }

    done = {
        stage: (log.completed_units(job_id, stage, fingerprint) if resume else set())
        for stage in ("tier_cascade", "chunks")
    }

    executed = 0
    for k in range(n_buckets):
        unit = f"bucket={k}"
        part = transcripts.where(bucket_expr(n_buckets) == k)

        if unit not in done["tier_cascade"]:
            if fail_after_units is not None and executed >= fail_after_units:
                raise PipelineFailure(f"injected failure before {unit}")

            def tier_work(part=part, k=k):
                mets = features.DEFAULT_METRICS
                wide = features.derive_features_chunked(part)
                # wide-path rollup AND cascade: the only raw-volume shuffle
                # carries one row per (conv, minute) — not per metric — and
                # the coarser tiers re-aggregate the wide scratch, so no
                # shuffle in the whole cascade carries a string metric key.
                # Public long tiers are post-agg unpivots of the scratch.
                g1m = rollup.rollup(wide, rollup.STATS, "1m", mets)
                g1m.write.mode("overwrite").parquet(f"{paths['1m_wide']}/unit={k}")
                # overlapped publish: each tier's long-form unpivot write
                # runs concurrently with the next cascade level — the
                # coarse-tier tail is two overlap groups, not five
                # sequential small jobs (rollup.publish_cascade_wide)
                rollup.publish_cascade_wide(
                    spark, out_root, mets, suffix=f"/unit={k}"
                )
                n_out = spark.read.parquet(f"{paths['1m']}/unit={k}").count()
                return None, n_out

            lineage.run_unit(log, job_id, "tier_cascade", unit, fingerprint, tier_work)
            executed += 1

        if unit not in done["chunks"]:
            if fail_after_units is not None and executed >= fail_after_units:
                raise PipelineFailure(f"injected failure before chunks {unit}")

            def chunk_work(part=part, k=k):
                wide = features.derive_features_chunked(part)
                long = features.to_long(wide, GAPFILL_METRICS)
                filled = gapfill.gapfill_sql(long, freq=gapfill_freq, method="linear")
                filled.write.mode("overwrite").parquet(f"{paths['filled']}/unit={k}")
                filled_r = spark.read.parquet(f"{paths['filled']}/unit={k}")
                ch = chunks_mod.encode_chunks(filled_r, chunk_span=chunk_span)
                ch.write.mode("overwrite").parquet(f"{paths['chunks']}/unit={k}")
                n_out = spark.read.parquet(f"{paths['chunks']}/unit={k}").count()
                return None, n_out

            lineage.run_unit(log, job_id, "chunks", unit, fingerprint, chunk_work)
            executed += 1

    return paths


def run_compaction(
    spark: SparkSession,
    out_root: str,
    *,
    to_span: str = "7d",
    job_id: str = "compaction",
    fingerprint: str = "na",
    resume: bool = True,
) -> str:
    """Recompress a pipeline run's chunk table into coarser blobs — the
    scheduled retention job that follows ``run_pipeline`` once a period's
    chunks stop receiving writes (see ``chunks.compact_chunks``). Reuses
    the pipeline's unit layout (one sub-job per conv-hash bucket) and the
    same lineage log, so a killed compaction resumes exactly like the
    pipeline does and every unit leaves rows_in/rows_out/wall_ms rows
    behind. Returns the compacted table path (``chunks_{to_span}``)."""
    log = lineage.LineageLog(spark, out_root)
    src = os.path.join(out_root, "chunks")
    dst = os.path.join(out_root, f"chunks_{to_span}")
    stage = f"compact_{to_span}"
    done = log.completed_units(job_id, stage, fingerprint) if resume else set()
    # discover the pipeline's ACTUAL unit layout rather than assuming a
    # bucket count: an independent default silently compacts a subset
    # when the pipeline ran with more buckets (found in self-review)
    units = sorted(
        int(d.name.split("=", 1)[1])
        for d in Path(src).iterdir()
        if d.is_dir() and d.name.startswith("unit=")
    )
    if not units:
        raise FileNotFoundError(f"no unit=* bucket dirs under {src}")
    for k in units:
        unit = f"bucket={k}"
        if unit in done:
            continue

        def work(k=k):
            src_df = spark.read.parquet(f"{src}/unit={k}")
            merged = chunks_mod.compact_chunks(src_df, to_span=to_span)
            merged.write.mode("overwrite").parquet(f"{dst}/unit={k}")
            out_df = spark.read.parquet(f"{dst}/unit={k}")
            # one bookkeeping scan per side: blob count + point count
            n_in, pts_in = src_df.agg(F.count("*"), F.sum("n")).first()
            n_out, pts_out = out_df.agg(F.count("*"), F.sum("n")).first()
            # invariant worth failing loudly on: compaction must conserve
            # points exactly (blobs merge, points never drop or duplicate)
            if pts_in != pts_out:
                raise RuntimeError(
                    f"compaction lost points in {unit}: {pts_in} -> {pts_out}"
                )
            return n_in, n_out

        lineage.run_unit(log, job_id, stage, unit, fingerprint, work)
    return dst
