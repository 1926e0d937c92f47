"""Tests of the event-log reader and the per-layer attribution.

The fixture under data/ is the timed pass of one traced ingest run
(``python3 perfbench/run.py --workload ingest --seed 1 --seconds 1
--trace 1``), cut down to the events and fields the reader uses. Make it
again from a run directory with:

    python3 perfbench/tests/test_eventlog.py perfbench/.work/run/ingest-s1-t1
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog  # noqa: E402

DATA = HERE / "data"
EVENTS = DATA / "ingest_pass.events.zstd"
SPANS = DATA / "ingest_pass.spans.json"


@pytest.fixture(scope="module")
def captured():
    log = eventlog.parse(eventlog.read_lines(EVENTS))
    spans = json.loads(SPANS.read_text())
    return log, spans, eventlog.attribute(log, spans)


def test_reader_keeps_every_job_and_its_span(captured):
    log, spans, _ = captured
    n_starts = sum('"SparkListenerJobStart"' in line for line in eventlog.read_lines(EVENTS))
    assert len(log.jobs) == n_starts > 0
    assert all(j.end >= j.submit for j in log.jobs.values())
    described = [j for j in log.jobs.values() if j.description.startswith("span:")]
    ids = {s["id"] for s in spans}
    assert described and all(int(j.description.split(":")[1]) in ids for j in described)
    assert any(j.listing for j in log.jobs.values())
    assert any(m.node.name == "MapInPandas" for m in log.metrics.values())


def test_self_times_cover_the_job(captured):
    _, _, out = captured
    assert out["trace.layer_sum_s"] + out.get("jobs.unattributed_s", 0.0) == pytest.approx(
        out["trace.pass_s"], rel=1e-9)
    # run_pipeline + run_compaction wall; the pass also holds the input listing
    assert out["trace.layer_sum_s"] == pytest.approx(out["trace.wall_s"], rel=0.10)
    for layer in ("tables", "features", "rollup", "gapfill", "chunks", "lineage", "jobs"):
        assert out[f"{layer}.self_s"] > 0, layer


def test_layer_counters(captured):
    _, spans, out = captured
    units = sum(s["name"] == "unit.tier_cascade" for s in spans)
    assert units == 4
    # each unit runs the feature window over raw input twice today
    assert out["features.raw_passes"] == 2.0
    # one lineage row per unit and stage: tier_cascade, chunks, compact_7d
    assert out["lineage.records"] == 3 * units
    first = next(s for s in spans if s["name"] == "pass")
    log = captured[0]
    assert out["jobs.spark_jobs"] == sum(
        first["start"] <= j.submit <= first["end"] for j in log.jobs.values())
    for key in ("tables.files_read", "tables.bytes_read", "rollup.tier_rows",
                "gapfill.grid_rows", "chunks.blobs", "chunks.bytes_to_python",
                "exchange.shuffle_bytes", "write.files", "write.bytes"):
        assert out[key] > 0, key
    assert out.get("session.python_s", 0.0) == 0.0  # the codec owns Python time here


def _stage(sid, a, b, run_ms, acc=None):
    st = eventlog.Stage(sid, submit=a, complete=b, tasks=1, run_ms=run_ms)
    for k, v in (acc or {}).items():
        st.acc[k] = v
        st.acc_max[k] = v
    return st


def test_slices_are_shared_between_overlapping_stages():
    """Two stages overlap for one second; a gap between them is driver
    time of the enclosing span."""
    log = eventlog.Log()
    scan = eventlog.Node(0, "Scan parquet", "", "")
    log.metrics[1] = eventlog.Metric(scan, "scan time", "timing")
    log.executions[0] = (100.0, "span:1:unit.tier_cascade")
    log.jobs[1] = eventlog.Job(1, 100.0, 103.0, "span:1:unit.tier_cascade", 0, [1])
    log.jobs[2] = eventlog.Job(2, 102.0, 104.0, "span:2:publish", None, [2])
    log.stages[1] = _stage(1, 100.0, 103.0, 400.0, {1: 100.0})  # 1/4 scan
    log.stages[2] = _stage(2, 102.0, 104.0, 50.0)  # no operator metric
    spans = [
        {"id": 0, "name": "pass", "layer": "jobs", "parent": None, "start": 100.0, "end": 106.0},
        {"id": 1, "name": "unit.tier_cascade", "layer": "jobs", "parent": 0,
         "start": 100.0, "end": 106.0, "stage": "tier_cascade"},
        {"id": 2, "name": "publish", "layer": "rollup", "parent": 1, "start": 102.0, "end": 105.0},
    ]
    out = eventlog.attribute(log, spans)
    # stage 1 alone for 2 s, shared for 1 s: 2.5 s, all of it the scan's
    # stage (a quarter measured scan time, the rest by fallback); stage 2
    # has no operator of any layer: 0.5 + 1 s unattributed
    assert out["tables.self_s"] == pytest.approx(2.5)
    assert out["trace.fallback_s"] == pytest.approx(2.5 * 0.75)
    assert out["jobs.unattributed_s"] == pytest.approx(1.5)
    # 104-105 inside publish, 105-106 inside the unit
    assert out["rollup.self_s"] == pytest.approx(1.0)
    assert out["jobs.driver_s"] == pytest.approx(1.0)
    assert out["trace.pass_s"] == pytest.approx(6.0)
    assert out["tables.scan_s"] == pytest.approx(0.1)


def test_benchmark_json_names_every_metric():
    from perfbench import run, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    # run.py names the entries without importing the workloads (numpy must
    # not load before the session sets its SIMD workaround)
    assert run.OPS == workloads.SERIES_OPS
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# ------------------------------------------------------------ fixture capture

def _slim_plan(node: dict) -> dict:
    keep = node["nodeName"].strip() == eventlog.WRITE_NODE
    return {
        "nodeName": node["nodeName"],
        "simpleString": node.get("simpleString", "") if keep else "",
        "metrics": node["metrics"],
        "children": [_slim_plan(c) for c in node["children"]],
    }


def _slim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        first = e["Stage Infos"][0] if e["Stage Infos"] else {}
        return {
            "Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
            "Stage IDs": e["Stage IDs"],
            "Stage Infos": [{"Details": first.get("Details", "").split("\n", 1)[0]}] if first else [],
            "Properties": {k: props[k] for k in ("spark.job.description", "spark.sql.execution.id")
                           if k in props},
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        info = e["Stage Info"]
        return {"Event": kind, "Stage Info": {k: info[k] for k in (
            "Stage ID", "Submission Time", "Completion Time") if k in info}}
    if kind == "SparkListenerTaskEnd":
        tm = e.get("Task Metrics") or {}
        return {
            "Event": kind, "Stage ID": e["Stage ID"],
            "Task Metrics": {
                "Executor Run Time": tm.get("Executor Run Time", 0),
                "JVM GC Time": tm.get("JVM GC Time", 0),
                "Shuffle Write Metrics": tm.get("Shuffle Write Metrics", {}),
                "Shuffle Read Metrics": {"Fetch Wait Time": (tm.get("Shuffle Read Metrics") or {})
                                         .get("Fetch Wait Time", 0)},
            },
            "Task Info": {"Accumulables": [
                {"ID": a["ID"], "Update": a["Update"], "Metadata": "sql"}
                for a in e["Task Info"].get("Accumulables", []) if a.get("Metadata") == "sql"]},
        }
    if kind.endswith("SparkListenerSQLExecutionStart"):
        return {"Event": kind, "executionId": e["executionId"], "time": e["time"],
                "description": e.get("description", ""), "sparkPlanInfo": _slim_plan(e["sparkPlanInfo"])}
    if kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": e["executionId"],
                "sparkPlanInfo": _slim_plan(e["sparkPlanInfo"])}
    if kind.endswith("SparkListenerDriverAccumUpdates"):
        return e
    return None


def capture(run_dir: Path) -> None:
    """Write the fixture from the first timed pass of a traced ingest run."""
    import pyarrow as pa

    spans = json.loads((run_dir / "spans.json").read_text())
    chain = eventlog.Spans(spans)
    first = next(s for s in spans if s["name"] == "pass")
    kept = [s for s in spans if s is first or chain.ancestor(s, "pass") is first]
    lo, hi = first["start"] * 1000 - 1, first["end"] * 1000 + 1
    events = [json.loads(line) for line in eventlog.read_lines(*eventlog.find_log(run_dir / "eventlog"))]
    jobs = {e["Job ID"] for e in events
            if e["Event"] == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi}
    stages = {s for e in events if e["Event"] == "SparkListenerJobStart" and e["Job ID"] in jobs
              for s in e["Stage IDs"]}
    execs = {e["executionId"] for e in events
             if e["Event"].endswith("SQLExecutionStart") and lo <= e["time"] <= hi}
    out = []
    for e in events:
        kind = e["Event"]
        if kind.startswith("SparkListenerJob") and e["Job ID"] not in jobs:
            continue
        if kind.startswith("SparkListenerStage") and e["Stage Info"]["Stage ID"] not in stages:
            continue
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] not in stages:
            continue
        if "executionId" in e and e["executionId"] not in execs:
            continue
        slim = _slim(e)
        if slim is not None:
            out.append(json.dumps(slim, separators=(",", ":")))
    DATA.mkdir(exist_ok=True)
    with pa.CompressedOutputStream(str(EVENTS), "zstd") as f:
        f.write(("\n".join(out) + "\n").encode())
    for s in kept:
        s.pop("_prev_desc", None)
    SPANS.write_text(json.dumps(kept))


if __name__ == "__main__":
    capture(Path(sys.argv[1]))
