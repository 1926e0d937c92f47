"""Spans around the engine's public functions, for the traced run.

A span records name, layer, start, end and the span that encloses it.
Each span also sets the Spark job description to ``span:<id>:<name>``
so that the event log ties jobs to spans; jobs submitted from threads
the engine starts itself carry no description and are matched to spans
by time (see eventlog.py). Spans stay in memory and are written out when
the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._pass = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str, **attrs) -> dict:
        stack = self._stack()
        with self._lock:
            span = {
                "id": len(self.spans), "name": name, "layer": layer,
                "parent": stack[-1] if stack else None,
                "start": time.time(), "end": None, **attrs,
            }
            self.spans.append(span)
        span["_prev_desc"] = self.sc.getLocalProperty(DESC)
        self.sc.setJobDescription(f"span:{span['id']}:{name}")
        stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()
        self.sc.setJobDescription(span.pop("_prev_desc"))

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self.begin(name, layer, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def open_pass(self) -> None:
        self._pass = self.begin("pass", "jobs")

    def close_pass(self) -> None:
        self.end(self._pass)
        self._pass = None

    def wrap(self, owner, attr: str, name: str, layer: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by ``restore``)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            full = f"{name}.{attrs['stage']}" if "stage" in attrs else name
            with self.span(full, layer, **attrs):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def install_engine(self) -> None:
        """Spans around the production job's public functions."""
        from tsengine import jobs, lineage, rollup

        self.wrap(jobs, "run_pipeline", "run_pipeline", "jobs")
        self.wrap(jobs, "run_compaction", "run_compaction", "jobs")
        # run_unit(log, job_id, stage, unit, fingerprint, fn)
        self.wrap(lineage, "run_unit", "unit", "jobs",
                  attrs_of=lambda *a, **k: {"stage": a[2], "unit": a[3]})
        self.wrap(lineage.LineageLog, "completed_units", "lineage.lookup", "lineage")
        self.wrap(lineage.LineageLog, "record", "lineage.record", "lineage")
        self.wrap(rollup, "publish_cascade_wide", "publish", "rollup")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))
