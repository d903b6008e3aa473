"""Traced-run tooling: spans around the program's public entry points.

Only ``run.py --trace 1`` imports this module; a timed run never loads
it. ``install`` rebinds each entry point to a timing wrapper where its
callers look the name up (a module global for names imported with
``from ... import``, the class attribute for methods). Every span
records name, start, end and parent, plus the Spark jobs, stages and
tasks submitted while it was the innermost span (via a per-span job
group and ``statusTracker``). Shuffle, spill, executor CPU and GC come
from the Spark event log, parsed after the session stops. Spans stay in
memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self._undo: list[tuple] = []
        # time spent in the tracer's own bookkeeping (job-group calls,
        # status queries, manifest diffs): the tracing overhead the
        # traced run can measure directly
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sid = self._next
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{sid}",
            **attrs,
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._job_counts(rec["group"]))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numTasks:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # -- rebinding -----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span.
        ``on_exit(rec, args, kwargs, result)`` adds counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_exit is not None:
                    t0 = time.perf_counter()
                    on_exit(rec, args, kwargs, result)
                    tracer.overhead_s += time.perf_counter() - t0
                return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- output --------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover (children
        of one span never overlap: the driver thread runs them in
        turn)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=selfs[s["id"]]) for s in sorted(self.spans, key=lambda s: s["id"])]
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f)


def _file_paths_counts(rec, args, kwargs, result) -> None:
    """Files a ``file_paths`` call planned vs the snapshot's total, and
    whether predicates pruned it (the MERGE candidate count)."""
    table = args[0]
    version = kwargs.get("version", args[1] if len(args) > 1 else None)
    rec["n_paths"] = len(result)
    rec["n_total"] = len(table.manifest(version)["files"])
    rec["pruned"] = bool(kwargs.get("predicates", args[2] if len(args) > 2 else None))


def install(tracer: Tracer) -> None:
    """Rebind the program's public entry points to timing wrappers."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators import (
        cdc_apply,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table,
        maintenance,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import (
        base,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming import (
        pipeline,
    )

    for owner, attr, name in (
        # streaming.pipeline imported these by name
        (pipeline, "transform", "cdc_transform.transform"),
        (pipeline, "typed_rows", "cdc_apply.typed_rows"),
        (pipeline, "apply_batch", "cdc_apply.apply_batch"),
        # apply_batch looks merge_into up in cdc_apply's globals
        (cdc_apply, "merge_into", "merge.merge_into"),
        # process_batch imports this from the module at call time
        (maintenance, "rewrite_delete_files", "maintenance.rewrite_delete_files"),
        (lake_table.LakeTable, "commit", "lake_table.commit"),
        (lake_table.LakeTable, "read", "lake_table.read"),
        (lake_table.LakeTable, "file_paths", "lake_table.file_paths"),
        (base.QuerySpec, "run_spark", "queries.run_spark"),
    ):
        tracer.wrap(owner, attr, name,
                    _file_paths_counts if name == "lake_table.file_paths" else None)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Sum task metrics from a Spark event log per job group:
    {group: {shuffle_read_bytes, shuffle_write_bytes, spill_bytes,
    executor_cpu_s, gc_s, tasks}}."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = {}
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in e.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    group = stage_group.get(e.get("Stage ID"))
                    m = e.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc = out.setdefault(
                        group or "",
                        {
                            "shuffle_read_bytes": 0,
                            "shuffle_write_bytes": 0,
                            "spill_bytes": 0,
                            "executor_cpu_s": 0.0,
                            "gc_s": 0.0,
                            "tasks": 0,
                        },
                    )
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["tasks"] += 1
    return out
