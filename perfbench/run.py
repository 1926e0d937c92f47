"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a tsengine source tree. With ``--trace 0`` the
last line of standard output is one JSON object carrying the end-to-end
metrics; with ``--trace 1`` the run records spans and Spark's event log
and the object carries the per-layer metrics instead. Lines before it
name every other figure the workload measured, with its unit. The exit
code is 0 only if every operation and output check succeeded.
"""

from __future__ import annotations

import argparse
import compileall
import json
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
if str(HERE.parent) not in sys.path:
    sys.path.insert(0, str(HERE.parent))

from perfbench import host as hostmod  # noqa: E402

END_TO_END = {"pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
WORKLOADS = ("ingest", "series_ops", "serve")

# workloads.SERIES_OPS, named here because importing the workloads loads
# numpy, which must wait for the session's SIMD workaround
OPS = [
    "ts_ewma", "ts_brown", "ts_pelt", "ts_sigma_clip",
    "ts_kalman_chunked", "ts_holt_winters_chunked",
    "ts_kalman", "ts_holt_winters", "ts_holt_linear", "ts_lttb_downsample",
    "ts_matrix_profile", "ts_moments", "ts_mann_kendall",
    "ts_tier_1h_cascade", "ts_hist_quantiles", "ts_ohlc_1d_cascade",
    "ts_m4_downsample", "ts_tier_merge_late", "ts_hll_distinct",
    "ts_cms_topk", "ts_kmv_distinct",
]

PER_LAYER = {
    "tables.listing_jobs": "count", "tables.listing_s": "s",
    "tables.files_read": "count", "tables.bytes_read": "B", "tables.scan_s": "s",
    "tables.self_s": "s",
    "features.raw_passes": "count", "features.sort_s": "s",
    "features.spill_bytes": "B", "features.self_s": "s",
    "rollup.agg_build_s": "s", "rollup.agg_peak_bytes": "B", "rollup.spill_bytes": "B",
    "rollup.publish_s": "s", "rollup.tier_rows": "count", "rollup.self_s": "s",
    "gapfill.grid_rows": "count", "gapfill.agg_build_s": "s", "gapfill.self_s": "s",
    "chunks.python_s": "s", "chunks.python_start_s": "s",
    "chunks.bytes_to_python": "B", "chunks.bytes_from_python": "B",
    "chunks.blobs": "count", "chunks.blob_bytes": "B", "chunks.self_s": "s",
    "exchange.shuffle_bytes": "B", "exchange.shuffle_write_s": "s",
    "exchange.fetch_wait_s": "s", "exchange.self_s": "s",
    "write.files": "count", "write.bytes": "B", "write.commit_s": "s", "write.self_s": "s",
    "lineage.records": "count", "lineage.record_s": "s", "lineage.lookup_s": "s",
    "lineage.self_s": "s",
    "jobs.unit_s.tier_cascade": "s", "jobs.unit_s.chunks": "s",
    "jobs.unit_s.compact_7d": "s", "jobs.spark_jobs": "count", "jobs.tasks": "count",
    "jobs.driver_s": "s", "jobs.self_s": "s", "jobs.unattributed_s": "s",
    "session.python_s": "s", "session.python_start_s": "s",
    "session.spark_jobs": "count", "session.gc_s": "s", "session.self_s": "s",
    **{f"op.{name}_s": "s" for name in OPS},
    "trace.pass_s": "s", "trace.wall_s": "s", "trace.layer_sum_s": "s",
    "trace.fallback_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(run_dir: Path) -> dict[str, float]:
    from perfbench import eventlog

    spans = json.loads((run_dir / "spans.json").read_text())
    log = eventlog.parse(eventlog.read_lines(*eventlog.find_log(run_dir / "eventlog")))
    got = eventlog.attribute(log, spans)
    return {name: float(got.get(name, 0.0)) for name in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "tsengine" / "__init__.py").is_file() or not (root / "__spark_entry__.py").is_file():
        print("perfbench: no tsengine sources in the current directory; "
              "run from the root of the source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    # the build step: byte-compile the sources once per tree, so that the
    # first run does not compile them inside its timed pass (driver and
    # workers alike)
    compileall.compile_dir(root / "tsengine", quiet=1)
    work = HERE / ".work"
    run_dir = work / "run" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    host = hostmod.configure(root, work)

    from tsengine.env_tuning import setdefault_simd

    setdefault_simd()  # before numpy loads (see tsengine/env_tuning.py)

    from perfbench import workloads
    from tsengine.session import get_spark

    conf = hostmod.spark_conf(work, host)
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
        }
    res = workloads.Outcome()
    with hostmod.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{host.cpus}]", extra_conf=conf)
        tracer = None
        try:
            workloads.start_python_workers(spark)
            res.setup_s = time.perf_counter() - t0
            if args.trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark)
                tracer.install_engine()
            workloads.WORKLOADS[args.workload](
                spark, run_dir, work / "data", args.seed, args.seconds, res, tracer)
        except Exception:
            traceback.print_exc()
            res.attempted += 1
            res.failed += 1
            res.errors.append("workload raised")
        finally:
            if tracer is not None:
                tracer.restore()
                tracer.dump(run_dir / "spans.json")
            stop_spark(spark)
    hostmod.wait_children()

    if not res.passes:
        res.errors.append("no timed pass completed")
        res.attempted = max(res.attempted, 1)
        res.failed = max(res.failed, 1)
    if args.trace:
        try:
            values = layer_metrics(run_dir)
        except Exception:
            traceback.print_exc()
            values = {}
            res.failed += 1
            res.attempted += 1
            res.errors.append("event log attribution failed")
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "pass_s": res.pass_s,
            "setup_s": res.setup_s,
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.as_dict(), "host_key": host.key(),
        "passes": res.passes, "info": {k: {"value": v, "unit": u} for k, (v, u) in res.info.items()},
        "errors": res.errors, "metrics": metrics,
    }
    (work / "results").mkdir(parents=True, exist_ok=True)
    (work / "results" / f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json").write_text(
        json.dumps(report, indent=1))

    print(f"# host {host.key()} source={host.source_digest} passes={len(res.passes)}")
    for name, (v, unit) in res.info.items():
        print(f"# {name} = {v:.6g} {unit}")
    for err in res.errors:
        print(f"# FAILED: {err}")
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
