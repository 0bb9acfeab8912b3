"""Tracing for the benchmark's ``--trace 1`` runs.

Nothing here edits the engine. ``Tracer.install`` wraps the public
functions of each layer's modules from the outside and rebinds every
name in the package that refers to them (a query module that did
``from ..sources import load_table`` gets the wrapper too). Each call
becomes a span: name, layer, start, end, parent span and request id.

Stage, task, shuffle and spill figures come from the uncompressed Spark
event log (``EVENTLOG_CONF``), keyed by job group; the workloads set the
job group to the request id. Streaming figures come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "cse_datapipeline_and_mls_spark"

# layer -> modules whose public functions become spans
LAYERS = {
    "session": ["session"],
    "sources": ["sources.loader", "sources.ingest", "sources.sinks"],
    "operators": [
        "operators.graph",
        "operators.dedup",
        "operators.similarity",
        "operators.relational",
        "operators.tswindow",
        "operators.text",
    ],
    "ml": ["ml.pipelines"],
    "serving": ["serving"],
    "streaming": ["streaming.pipeline"],
}


def eventlog_conf(directory: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
    }


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self.request = None  # request id of spans opened outside any span

    # -- spans -----------------------------------------------------------

    def begin(self, name: str, layer: str) -> dict:
        stack = self._stack()
        span = {
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "rid": stack[-1]["rid"] if stack else self.request,
        }
        with self._lock:
            span["id"] = next(self._ids)
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            span = self.begin(name, layer)
            try:
                return fn(*a, **kw)
            finally:
                self.end(span)

        return traced

    # -- installation ----------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of the layer modules and rebind all
        references to it inside the package."""
        import importlib

        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for m in mods:
                mod = importlib.import_module(f"{PKG}.{m}")
                sub = m.split(".")[-1]
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn):
                        continue
                    if fn.__module__ != mod.__name__:
                        continue
                    originals[id(fn)] = self.wrap(fn, f"{layer}.{sub}.{attr}", layer)
        for modname, mod in list(sys.modules.items()):
            if not (modname == PKG or modname.startswith(PKG + ".")) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None:
                    setattr(mod, attr, w)
        from cse_datapipeline_and_mls_spark.queries import QUERIES

        for name, fn in list(QUERIES.items()):
            QUERIES[name] = self.wrap(fn, f"queries.{name}", "queries")

    # -- reports ---------------------------------------------------------

    def _ancestors(self, span: dict, by_id: dict):
        while span["parent"] is not None and span["parent"] in by_id:
            span = by_id[span["parent"]]
            yield span

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the time covered
        by its child spans."""
        done = [s for s in self.spans if s["end"] is not None]
        child: dict[int, float] = defaultdict(float)
        for s in done:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in done:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def sum_prefix(self, prefix: str) -> float:
        """Seconds inside spans whose name starts with ``prefix``,
        counting only the outermost of nested matches."""
        by_id = {s["id"]: s for s in self.spans}
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["end"] is not None
            and s["name"].startswith(prefix)
            and not any(p["name"].startswith(prefix) for p in self._ancestors(s, by_id))
        )

    def count_prefix(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s["name"].startswith(prefix))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark event log -----------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    out, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                out += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        out += cur_e - cur_s
    return out


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def read_eventlog(directory: str, app_id: str) -> dict[str, dict]:
    """One ledger row per job group: jobs, stages, tasks, time with a job
    running, task run and CPU time, shuffle read/write bytes and spill.
    Call after the SparkContext has stopped, so the log is complete."""
    paths = []
    for p in glob.glob(os.path.join(directory, f"*{app_id}*")):
        if os.path.isdir(p):  # rolling (v2) layout: events_<n>_<app id>
            parts = glob.glob(os.path.join(p, "events_*"))
            paths += sorted(parts, key=lambda q: int(os.path.basename(q).split("_")[1]))
        else:
            paths.append(p)
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {directory}")
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "job_intervals": [],
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
    )
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "(none)"
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            rows[g]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                rows[job_group[jid]]["job_intervals"].append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            rows[stage_group.get(sid, "(none)")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            r = rows[stage_group.get(ev["Stage ID"], "(none)")]
            r["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            r["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for r in rows.values():
        r["action_s"] = _union_len(r.pop("job_intervals"))
    return dict(rows)


def total(ledger: dict[str, dict], groups, key: str) -> float:
    return sum(ledger[g][key] for g in groups if g in ledger)


# -- streaming listener --------------------------------------------------


def make_stream_listener(sink: list):
    """A StreamingQueryListener that appends each progress report (as a
    dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
