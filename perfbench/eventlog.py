"""Spark event-log reader and per-layer attribution of a traced run.

Spark writes its event log as JSON lines, zstd-compressed by default.
``parse`` keeps what attribution needs: jobs (with the description that
names their span), stages, per-task counters, and every SQL-node metric
with the plan node it belongs to.

``attribute`` then assigns the work inside the traced window to the
engine's layers, by the span a job ran under and by plan-node type:

- Scan -> tables; listing jobs (no SQL execution, started by a reader)
  -> tables;
- Window and the Sort feeding it -> features;
- HashAggregate -> gapfill inside a ``chunks`` unit, else rollup;
- Generate -> gapfill;
- Python map/group operators -> session inside a registry entry's span
  (per-series dispatch), else chunks (the codec);
- shuffle write and fetch wait -> exchange;
- file-write commit -> write;
- anything that runs inside a lineage span -> lineage.

Self time: the traced window is cut at every stage boundary. A slice
with running stages is shared among them, and each stage's share is
split by the task time its operators report; the rest of its task time
goes to the layer of its dominant operator and is also counted in
``trace.fallback_s``. A slice with no stage running is driver time of
the innermost open span's layer. So the layers' self times add up to the
window, except time in stages that have no operator of any layer, which
is reported as ``jobs.unattributed_s``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_NODES = {
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "AggregateInPandas", "WindowInPandas",
}
AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
# a Sort belongs to the operator that consumes its order
SORT_CONSUMERS = PYTHON_NODES | {"Window", "SortMergeJoin"}

# driver time with no stage running, by the innermost span's layer
SPAN_LAYER = {
    "jobs": "jobs", "lineage": "lineage", "rollup": "rollup", "op": "session",
    "point_read": "tables", "range_read": "chunks", "tier_read": "rollup",
}


@dataclass
class Node:
    execution: int
    name: str
    detail: str
    consumer: str  # nearest ancestor in SORT_CONSUMERS, or ""


@dataclass
class Metric:
    node: Node
    name: str
    kind: str  # sum | size | timing (ms) | nsTiming | average


@dataclass
class Stage:
    id: int
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0
    shuffle_write_ns: float = 0.0
    fetch_wait_ms: float = 0.0
    # accumulator id -> summed task updates / largest task update
    acc: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    acc_max: dict[int, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    description: str = ""
    execution: int | None = None
    stages: list[int] = field(default_factory=list)
    listing: bool = False


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    metrics: dict[int, Metric] = field(default_factory=dict)
    executions: dict[int, tuple[float, str]] = field(default_factory=dict)
    # driver-side SQL metric values (file listing sizes, job commit time)
    driver_acc: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    driver_acc_exec: dict[int, int] = field(default_factory=dict)


def read_lines(*paths: Path) -> Iterator[str]:
    """Lines of event-log files in order, zstd-compressed or plain."""
    for path in paths:
        if path.suffix == ".zstd":
            import pyarrow as pa

            with pa.CompressedInputStream(pa.OSFile(str(path)), "zstd") as f:
                data = f.read()
            yield from data.decode().splitlines()
        else:
            with open(path) as f:
                yield from f


def find_log(directory: Path) -> list[Path]:
    """The event files of the one application logged below ``directory``
    (``eventlog_v2_<app>/events_<n>_<app>``, in rolling order)."""
    apps = list(directory.glob("eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application's event log under {directory}, found {apps}")
    files = [p for p in apps[0].glob("events_*") if not p.name.endswith(".crc")]
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


def _walk_plan(log: Log, execution: int, node: dict, consumer: str) -> None:
    name = node["nodeName"].strip()
    n = Node(execution, name, node.get("simpleString", ""), consumer)
    for m in node["metrics"]:
        log.metrics[m["accumulatorId"]] = Metric(n, m["name"], m["metricType"])
    if name in SORT_CONSUMERS:
        consumer = name
    elif not (name.startswith("WholeStageCodegen") or name in {
            "InputAdapter", "Sort", "Project", "Filter", "AQEShuffleRead",
            "ShuffleQueryStage", "Exchange", "ColumnarToRow"}):
        consumer = ""
    for c in node["children"]:
        _walk_plan(log, execution, c, consumer)


def parse(lines: Iterable[str]) -> Log:
    log = Log()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            job = Job(
                id=e["Job ID"], submit=e["Submission Time"] / 1000.0,
                description=props.get("spark.job.description") or "",
                execution=int(execution) if execution else None,
                stages=list(e["Stage IDs"]),
            )
            details = e["Stage Infos"][0].get("Details", "") if e["Stage Infos"] else ""
            job.listing = job.execution is None and "DataFrameReader" in details.split("\n", 1)[0]
            log.jobs[job.id] = job
        elif kind == "SparkListenerJobEnd":
            log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"])).submit = (
                info.get("Submission Time", 0) / 1000.0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = info.get("Submission Time", 0) / 1000.0 or st.submit
            st.complete = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            tm = e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            st.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
            st.fetch_wait_ms += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    v = float(a["Update"])
                    st.acc[a["ID"]] += v
                    st.acc_max[a["ID"]] = max(st.acc_max[a["ID"]], v)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            log.executions[e["executionId"]] = (e["time"] / 1000.0, e.get("description", ""))
            _walk_plan(log, e["executionId"], e["sparkPlanInfo"], "")
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(log, e["executionId"], e["sparkPlanInfo"], "")
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                log.driver_acc[acc_id] += float(v)
                log.driver_acc_exec[acc_id] = e["executionId"]
    return log


# ------------------------------------------------------------- attribution

class Spans:
    """Span lookup by id and by time (innermost = latest-starting span
    that is open at that time)."""

    def __init__(self, spans: list[dict]):
        self.all = spans
        self.by_id = {s["id"]: s for s in spans}

    def at(self, t: float) -> dict | None:
        best = None
        for s in self.all:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    def of_description(self, desc: str, t: float) -> dict | None:
        if desc.startswith("span:"):
            sid = int(desc.split(":", 2)[1])
            if sid in self.by_id:
                return self.by_id[sid]
        return self.at(t)

    def ancestor(self, span: dict | None, prefix: str) -> dict | None:
        while span is not None:
            if span["name"].startswith(prefix):
                return span
            span = self.by_id.get(span["parent"])
        return None

    def within_pass(self, span: dict | None) -> bool:
        return self.ancestor(span, "pass") is not None


def _python_layer(chain: Spans, span: dict | None) -> str:
    return "session" if chain.ancestor(span, "op.") is not None else "chunks"


def _node_layer(m: Metric, chain: Spans, span: dict | None) -> str | None:
    name = m.node.name
    if name.startswith("Scan"):
        return "tables"
    if name == "Window":
        return "features"
    if name == "Sort":
        if m.node.consumer == "Window":
            return "features"
        if m.node.consumer in PYTHON_NODES:
            return _python_layer(chain, span)
        return None
    if name in AGG_NODES:
        unit = chain.ancestor(span, "unit.")
        return "gapfill" if unit is not None and unit.get("stage") == "chunks" else "rollup"
    if name == "Generate":
        return "gapfill"
    if name in PYTHON_NODES:
        return _python_layer(chain, span)
    if name == WRITE_NODE:
        return "write"
    if name == "Exchange":
        return "exchange"
    return None


# SQL metrics that measure time spent inside a node, in task time. Not
# "time to initialize Python workers": it runs from worker start until
# the task's input arrives, so it also covers the upstream sort and
# shuffle read.
_TIME_METRICS = {
    "scan time", "sort time", "time in aggregation build",
    "time to run Python workers", "time to start Python workers",
    "task commit time",
}
_OWNER_ORDER = ["chunks", "session", "features", "gapfill", "rollup", "write", "tables", "exchange"]


def _ms(m: Metric, v: float) -> float:
    return v / 1e6 if m.kind == "nsTiming" else v


def attribute(log: Log, spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of everything that ran inside ``pass`` spans."""
    chain = Spans(spans)
    out: dict[str, float] = defaultdict(float)
    passes = [s for s in spans if s["name"] == "pass"]
    out["trace.pass_s"] = sum(s["end"] - s["start"] for s in passes)

    # spans: durations by kind
    for s in spans:
        if not chain.within_pass(s):
            continue
        d = s["end"] - s["start"]
        if s["name"].startswith("unit."):
            out[f"jobs.unit_s.{s['stage']}"] += d
        elif s["name"] == "lineage.record":
            out["lineage.records"] += 1
            out["lineage.record_s"] += d
        elif s["name"] == "lineage.lookup":
            out["lineage.lookup_s"] += d
        elif s["name"] == "publish":
            out["rollup.publish_s"] += d
        elif s["name"].startswith("op."):
            out[f"{s['name']}_s"] += d
        if s["name"] in ("run_pipeline", "run_compaction") or s["name"].startswith(("serve.", "op.")):
            out["trace.wall_s"] += d

    # jobs and stages inside the window
    job_span: dict[int, dict] = {}
    for j in log.jobs.values():
        s = chain.of_description(j.description, j.submit)
        if chain.within_pass(s):
            job_span[j.id] = s
    exec_span: dict[int, dict] = {}
    for eid, (t, desc) in log.executions.items():
        s = chain.of_description(desc, t)
        if chain.within_pass(s):
            exec_span[eid] = s

    weights: dict[int, dict[str, float]] = {}
    window_execs: set[int] = set()
    for jid, span in job_span.items():
        j = log.jobs[jid]
        out["jobs.spark_jobs"] += 1
        if chain.ancestor(span, "op.") is not None:
            out["session.spark_jobs"] += 1
        if j.listing:
            out["tables.listing_jobs"] += 1
            out["tables.listing_s"] += j.end - j.submit
        in_lineage = chain.ancestor(span, "lineage.") is not None
        for sid in j.stages:
            st = log.stages.get(sid)
            if st is None or st.tasks == 0:
                continue
            out["jobs.tasks"] += st.tasks
            out["session.gc_s"] += st.gc_ms / 1000.0
            out["exchange.shuffle_bytes"] += st.shuffle_bytes
            out["exchange.shuffle_write_s"] += st.shuffle_write_ns / 1e9
            out["exchange.fetch_wait_s"] += st.fetch_wait_ms / 1000.0
            w: dict[str, float] = defaultdict(float)
            w["exchange"] += st.shuffle_write_ns / 1e6 + st.fetch_wait_ms
            present: set[str] = set()
            for acc_id, v in st.acc.items():
                m = log.metrics.get(acc_id)
                if m is None:
                    continue
                layer = _node_layer(m, chain, span)
                _count(out, m, v, st.acc_max[acc_id], layer, window_execs)
                if layer is None:
                    continue
                present.add(layer)
                if m.name in _TIME_METRICS:
                    w[layer] += _ms(m, v)
            if in_lineage:
                w = {"lineage": 1.0}
            else:
                explained = sum(w.values())
                rest = max(st.run_ms - explained, 0.0)
                owner = next((x for x in _OWNER_ORDER if x in present), None)
                if owner is None and j.listing:
                    owner = "tables"
                # "~" marks task time no operator metric explains
                w[f"{owner}~" if owner else "unattributed"] += rest
            weights[sid] = w

    # driver-side SQL metrics (file listing sizes, job commit time)
    for acc_id, v in log.driver_acc.items():
        m = log.metrics.get(acc_id)
        if m is None or log.driver_acc_exec.get(acc_id) not in exec_span:
            continue
        span = exec_span[log.driver_acc_exec[acc_id]]
        _count(out, m, v, v, _node_layer(m, chain, span), window_execs)

    units = sum(1 for s in spans if chain.within_pass(s) and s["name"] == "unit.tier_cascade")
    if units:
        out["features.raw_passes"] = len(window_execs) / units

    _self_times(out, log, chain, passes, weights)
    return dict(out)


def _count(out, m: Metric, v: float, vmax: float, layer, window_execs) -> None:
    """Fold one SQL metric value into the layer counters."""
    name, node = m.name, m.node.name
    if node.startswith("Scan"):
        if name == "number of files read":
            out["tables.files_read"] += v
        elif name == "size of files read":
            out["tables.bytes_read"] += v
        elif name == "scan time":
            out["tables.scan_s"] += v / 1000.0
    elif layer == "features":
        if node == "Window":
            window_execs.add(m.node.execution)
        if name == "sort time":
            out["features.sort_s"] += v / 1000.0
        elif name == "spill size":
            out["features.spill_bytes"] += v
    elif node in AGG_NODES:
        if name == "time in aggregation build":
            out[f"{layer}.agg_build_s"] += v / 1000.0
        elif layer == "rollup" and name == "peak memory":
            out["rollup.agg_peak_bytes"] = max(out["rollup.agg_peak_bytes"], vmax)
        elif layer == "rollup" and name == "spill size":
            out["rollup.spill_bytes"] += v
    elif node == "Generate" and name == "number of output rows":
        out["gapfill.grid_rows"] += v
    elif node in PYTHON_NODES:
        key = {
            "time to run Python workers": "python_s",
            "time to start Python workers": "python_start_s",
            "data sent to Python workers": "bytes_to_python",
            "data returned from Python workers": "bytes_from_python",
        }.get(name)
        if key is not None:
            scale = 1000.0 if key.endswith("_s") else 1.0
            out[f"{layer}.{key}"] += v / scale
    elif node == WRITE_NODE:
        path = m.node.detail
        is_tier = any(f"/tier_{t}/" in path for t in ("1m", "1h", "1d"))
        is_chunks = "/chunks/" in path or "/chunks_7d/" in path
        if name == "number of written files":
            out["write.files"] += v
        elif name == "written output":
            out["write.bytes"] += v
            if is_chunks:
                out["chunks.blob_bytes"] += v
        elif name in ("task commit time", "job commit time"):
            out["write.commit_s"] += v / 1000.0
        elif name == "number of output rows":
            if is_tier:
                out["rollup.tier_rows"] += v
            if is_chunks:
                out["chunks.blobs"] += v


def _self_times(out, log: Log, chain: Spans, passes: list[dict], weights: dict[int, dict[str, float]]) -> None:
    """Cut the pass windows at stage and span boundaries and share each
    slice."""
    active = [(log.stages[sid].submit, log.stages[sid].complete, w)
              for sid, w in weights.items() if sum(w.values()) > 0]
    self_s: dict[str, float] = defaultdict(float)
    bounds = [(a, b) for a, b, _ in active] + [(s["start"], s["end"]) for s in chain.all]
    for p in passes:
        cuts = {p["start"], p["end"]}
        for a, b in bounds:
            if b > p["start"] and a < p["end"]:
                cuts.update((max(a, p["start"]), min(b, p["end"])))
        cuts = sorted(cuts)
        for t0, t1 in zip(cuts, cuts[1:]):
            dt = t1 - t0
            mid = (t0 + t1) / 2
            running = [w for a, b, w in active if a <= mid < b]
            if running:
                for w in running:
                    total = sum(w.values())
                    for layer, x in w.items():
                        self_s[layer] += dt * x / total / len(running)
            else:
                span = chain.at(mid)
                self_s[SPAN_LAYER.get(span["layer"] if span else "jobs", "jobs") + ".driver"] += dt
    for key, v in self_s.items():
        if key.endswith("~"):
            out["trace.fallback_s"] += v
            key = key[:-1]
        if key == "unattributed":
            out["jobs.unattributed_s"] += v
        elif key == "jobs.driver":
            out["jobs.driver_s"] += v
            out["jobs.self_s"] += v
        else:
            out[f"{key.removesuffix('.driver')}.self_s"] += v
    out["trace.layer_sum_s"] = sum(v for k, v in out.items() if k.endswith(".self_s"))
