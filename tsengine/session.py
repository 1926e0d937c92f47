"""SparkSession construction.

Local mode is a single JVM with N executor threads; on a real cluster the
same config block applies minus ``driver.memory`` sizing. Everything here is
plain public Spark configuration. UTC everywhere so pandas / Spark / DuckDB
agree on timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tsengine.env_tuning import setdefault_simd


# Share of physical memory the default driver heap takes. The JVM's
# resident size runs above its heap (metaspace, code cache, direct
# buffers) and the Python workers live beside it, so the heap stays well
# under half of RAM.
HEAP_SHARE = 0.4


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized from the host: ``HEAP_SHARE`` of
    MemTotal, in MiB. Falls back to 4g where /proc/meminfo is missing
    (non-Linux hosts). ``TSENGINE_DRIVER_MEM`` overrides it."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{int(kib / 1024 * HEAP_SHARE)}m"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "tsengine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the local parallelism
    so small-scale shuffles don't fan out into 200 empty tasks; on a real
    cluster, set it to ~2-3× total executor cores (AQE coalesces the rest).
    """
    # must run before the JVM launches: python workers inherit the env, and
    # numpy's SIMD dispatch is fixed at first import (see env_tuning.py)
    simd_workaround = setdefault_simd()

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("TSENGINE_PARQUET_CODEC", "zstd"),
        )
        # zstd level 1 for writes: the publish stage is write-throughput
        # bound (55 M-row long-tier publish measured 14.5 s at level 3 vs
        # 11.2 s at level 1 for +1.7% size on numeric tier data); bump via
        # env where storage cost dominates over write latency
        .config(
            "spark.hadoop.parquet.compression.codec.zstd.level",
            os.environ.get("TSENGINE_ZSTD_LEVEL", "1"),
        )
        # parquet dictionary encoding off for writes: the engine's bulk
        # writes are dominated by high-cardinality columns (conv_id keys,
        # per-bucket stats doubles, codec blobs) where the writer builds a
        # dictionary page per column chunk only to overflow it and fall
        # back — measured 2.56 s -> 1.68 s for the 55 M-row long-tier
        # publish with ~5% size change either way (zstd absorbs the
        # low-card columns' dict loss). Readers are unaffected (encoding
        # choice only; row-group stats pushdown unchanged). Re-enable via
        # env for dict-friendly archival tables.
        .config(
            "spark.hadoop.parquet.enable.dictionary",
            os.environ.get("TSENGINE_PARQUET_DICT", "false"),
        )
        # heap is lazily allocated — size for the worst stage, not the
        # average (at ~35M turns the wide-rollup hash agg spills below 24g
        # and 8 concurrent spilling tasks on virtio disk ran 3x slower),
        # but never past the host: a heap larger than physical RAM gets
        # the JVM OOM-killed before it collects. See default_driver_memory.
        .config(
            "spark.driver.memory",
            os.environ.get("TSENGINE_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # committer v2: task outputs move to the final location at task
        # commit — avoids the driver-side sequential rename storm of v1
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # scan split sizing: Spark targets totalSize/defaultParallelism per
        # split but FLOORS the split size at openCostInBytes (default 4 MB),
        # so a few-MB zstd parquet input collapses to 1-2 scan partitions
        # and every narrow stage (md5 hashing, per-row feature exprs) runs
        # on 1-2 of N cores — measured 9.2 s -> 1.2 s for a 64-bit simhash
        # over a 5.7 MB input at local[32]. 64 KB keeps split sizing
        # following totalSize/parallelism for small inputs; at cluster
        # scale files are >> maxPartitionBytes and openCost is irrelevant
        # to split size (it only pads the packing cost model — raise via
        # env when scanning millions of tiny files on object storage).
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("TSENGINE_OPEN_COST_BYTES", "65536"),
        )
    )
    if simd_workaround:
        b = b.config(
            "spark.executorEnv.NPY_DISABLE_CPU_FEATURES",
            os.environ["NPY_DISABLE_CPU_FEATURES"],
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the bench harness to switch
    parallelism levels between runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # SparkContext in local mode lives in the same JVM; a fresh
    # getOrCreate() after stop() honors a new master.


def sorted_batch_apply(
    df, keys: list[str], order: list[str], fn, schema,
    carry: bool = False, chunk_rows: int | None = None,
):
    """The engine's one per-series Python primitive: every series (rows
    sharing ``keys``) is handed to ``fn`` in ``order``, streamed through
    mapInPandas as Arrow batches.

    Shape: one exchange. ``repartition(N, keys)`` with N =
    ``spark.sql.shuffle.partitions`` (an explicit repartition is exempt
    from AQE coalescing, which sizes partitions by bytes while a
    per-series Python stage costs per series — a small input would
    otherwise fold into one partition and run every series in one
    task), then ``sortWithinPartitions(keys + order)`` so each series is
    contiguous and pre-sorted, then numpy change-point detection finds
    the series boundaries inside each batch. Per-series cost is an index
    slice, not the ~5 ms per group of ``groupBy().applyInPandas``.

    Two modes share that pipeline:

    - whole-series (default): ``fn(pdf, starts, ends) -> pdf_out``
      processes every series in the batch (series g = rows
      ``starts[g]:ends[g]``) and returns one DataFrame matching
      ``schema``. A series never spans two calls: the last, possibly
      incomplete series of each Arrow batch is carried into the next
      batch, so ``fn`` always sees complete series. Memory per task is
      one batch plus one series — the mode for operators that need the
      whole series at once (a DP backtrack, a global argmax, all
      windows).
    - carried state (``carry=True``): ``fn(piece, state) -> (out,
      state)`` is called on consecutive pieces of each series, in order,
      and the returned state is passed to the next piece of the same
      series (``None`` at the start of every series). ``piece`` maps
      each input column to a numpy view of the piece's rows; ``out``
      maps each ``schema`` column, in order, to the values of the rows
      the piece emits. (Plain arrays, not DataFrames: slicing, extending
      and concatenating a pandas frame per piece measured ~800 us per
      series against ~30 us for the arrays, 5 000 short Kalman series
      on one core of a 4-core host.) A piece never spans an
      Arrow batch and holds at most ``chunk_rows`` rows (``None``: no
      cut beyond the batch). The state is a Python local that crosses
      batch boundaries, so memory per task is O(batch) however long the
      series — ``spark.sql.execution.arrow.maxRecordsPerBatch`` is the
      memory bound — and the operator is still one job: no driver loop,
      no broadcast, no collect. Exact for any recursion whose state at a
      cut is what the unbroken loop holds there.
    """
    import numpy as np
    import pandas as pd

    if chunk_rows is not None and (not carry or int(chunk_rows) < 1):
        raise ValueError(
            f"chunk_rows must be >= 1 and needs carry=True, got {chunk_rows}"
        )
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartition(n_part, *keys).sortWithinPartitions(*keys, *order)

    def group_starts(key_arrays, n):
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for a in key_arrays:
            change[1:] |= a[1:] != a[:-1]
        return np.flatnonzero(change)

    def run_whole(batches):
        tail = None
        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            n = len(pdf)
            if not n:
                continue
            starts = group_starts([pdf[k].to_numpy() for k in keys], n)
            tail = pdf.iloc[starts[-1]:].reset_index(drop=True)
            if len(starts) == 1:  # whole batch is one (continuing) group
                continue
            # hand fn ONLY the complete groups — the carried tail must
            # never appear in its input frame
            done = pdf.iloc[:starts[-1]].reset_index(drop=True)
            yield fn(done, starts[:-1], starts[1:])
        if tail is not None and len(tail):
            n = len(tail)
            starts = group_starts([tail[k].to_numpy() for k in keys], n)
            yield fn(tail, starts, np.append(starts[1:], n))

    def run_carry(batches):
        last_key, state = None, None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            starts = group_starts([cols[k] for k in keys], n)
            ends = np.append(starts[1:], n)
            step = n if chunk_rows is None else int(chunk_rows)
            outs = []
            for g, (s, e) in enumerate(zip(starts, ends)):
                # only the batch's first series can continue the previous
                # batch's last one
                if g or tuple(cols[k][0] for k in keys) != last_key:
                    state = None
                for a in range(s, e, step):
                    b = min(a + step, e)
                    out, state = fn({c: v[a:b] for c, v in cols.items()}, state)
                    outs.append(out)
            last_key = tuple(cols[k][-1] for k in keys)
            yield pd.DataFrame(
                {c: np.concatenate([o[c] for o in outs]) for c in outs[0]}
            )

    return d.mapInPandas(run_carry if carry else run_whole, schema)
