"""Turn a workload ``Result`` into the record and the metric sets.

End-to-end metrics (``--trace 0``) have one name for every workload;
what an "operation" is differs per workload:

- ``cdc_upsert_cow``: a delivery buffer; latency = due time -> commit
  visible (ingest latency, queue wait included); capacity = envelopes
  applied per second of ``process_batch`` busy time.
- ``cdc_mor_fresh_reads``: a delivery buffer; latency = due time -> the
  runbook read set returned on the new snapshot (freshness); capacity
  as above.
- ``analytic_sql``: one query; latency = one query's build + plan +
  collect; capacity = queries per second of pass busy time.

The record holds the workload-specific names as well (ingest_latency_s,
freshness_s, query_pass_s, write_bytes_per_input_byte, ...), with
sample counts.
"""

from __future__ import annotations

import json
import os
import statistics


def tail(xs: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples
    beyond it (None when the run has fewer than eleven samples)."""
    s = sorted(xs)
    n = len(s)
    out = {"n": n, "p50": statistics.median(s) if s else None, "max": s[-1] if s else None}
    if n >= 11:
        out["tail"] = s[n - 11]
        out["tail_pct"] = round(100.0 * (n - 10) / n, 1)
    else:
        out["tail"] = None
        out["tail_pct"] = None
    return out


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def build(args, res, host, sizes, session_s, gen_s, gc_s) -> dict:
    ops = res.ops
    rss = res.extra["peak_rss_mb"]
    n_checks = len(res.checks)
    failed_ops = sum(1 for o in ops if not o.get("ok", True))
    failed_checks = sum(1 for ok in res.checks.values() if not ok)
    attempted = len(ops) + n_checks
    failed = failed_ops + failed_checks
    setup_s = session_s + statistics.median(res.setup_reps_s) + res.warmup_s
    named: dict = {
        "setup_s": {"value": setup_s, "unit": "s", "session_s": session_s,
                    "setup_reps_s": res.setup_reps_s, "warmup_s": res.warmup_s},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "failed_op_ratio": {"value": failed / attempted if attempted else 1.0,
                            "unit": "ratio", "failed": failed, "attempted": attempted},
    }
    if args.workload == "analytic_sql":
        ok = [o for o in ops if o["ok"]]
        lat = tail([o["latency_s"] for o in ok])
        passes = res.extra["passes"]
        busy = sum(p["pass_s"] for p in passes)
        named["query_pass_s"] = dict(tail([p["pass_s"] for p in passes]), unit="s")
        named["query_latency_s"] = dict(lat, unit="s")
        capacity = len(ok) / busy if busy else 0.0
        named["query_capacity_per_s"] = {"value": capacity, "unit": "1/s"}
        latency_p50 = lat["p50"] or 0.0
    else:
        ok = [o for o in ops if o["ok"]]
        busy = sum(o["batch_s"] for o in ops)
        named["ingest_latency_s"] = dict(tail([o["latency_s"] for o in ok]), unit="s")
        capacity = sum(o["envelopes"] for o in ok) / busy if busy else 0.0
        named["ingest_capacity_rows_per_s"] = {"value": capacity, "unit": "1/s"}
        commits = res.extra["commits"]
        written = sum(c["bytes_added"] + c["delete_bytes_added"] for c in commits.values())
        named["write_bytes_per_input_byte"] = {
            "value": written / res.extra["input_bytes"], "unit": "ratio",
            "bytes_written": written, "input_bytes": res.extra["input_bytes"]}
        head = res.extra["head"]
        named["live_bytes_per_row"] = {
            "value": head["bytes"] / head["rows"] if head["rows"] else 0.0, "unit": "B",
            "head_bytes": head["bytes"], "head_rows": head["rows"]}
        if args.workload == "cdc_mor_fresh_reads":
            named["freshness_s"] = dict(tail([o["freshness_s"] for o in ok]), unit="s")
            latency_p50 = named["freshness_s"]["p50"] or 0.0
        else:
            latency_p50 = named["ingest_latency_s"]["p50"] or 0.0
    end_to_end = {
        "setup_s": _m(setup_s, "s"),
        "latency_s.p50": _m(latency_p50, "s"),
        "capacity_per_s": _m(capacity, "1/s"),
        "peak_rss_mb": _m(rss, "MB"),
    }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failures": res.failures[:20],
        "host": host,
        "sizes": sizes,
        "input_gen_s": gen_s,
        "check_s": res.extra.get("check_s"),
        "timed_wall_s": res.extra.get("timed_wall_s"),
        "jvm_gc_s": gc_s,
        "named": named,
        "end_to_end": end_to_end,
        "ops": [{k: v for k, v in o.items() if k not in ("span",)} for o in ops],
    }


# --------------------------------------------------------------------------
# per-layer metrics (traced run)
# --------------------------------------------------------------------------
PER_LAYER_NOTES = {
    "cdc_transform": "transform builds a lazy plan: build_s times plan building only; "
    "its execution cost lands in the jobs of apply_batch and merge_into",
    "units": "CDC metrics are means per timed batch, query metrics means per pass or "
    "query; layers a workload does not exercise read 0",
}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


class _Tree:
    def __init__(self, spans: list[dict], self_s: dict[int, float]):
        self.by_id = {s["id"]: s for s in spans}
        self.kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)
        self.self_s = self_s

    def subtree(self, sid: int):
        stack = [sid]
        while stack:
            s = self.by_id.get(stack.pop())
            if s is None:
                continue
            yield s
            stack.extend(k["id"] for k in self.kids.get(s["id"], []))

    def total(self, sid: int, key: str) -> int:
        return sum(s.get(key, 0) for s in self.subtree(sid))

    def named(self, sid: int, name: str) -> list[dict]:
        return [s for s in self.subtree(sid) if s["name"] == name]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload: str, res, tracer, ev: dict, gc_s: float, rec: dict) -> dict:
    from workloads import ANALYTIC_QUERIES

    tree = _Tree(tracer.spans, tracer.self_times())
    v: dict[str, float] = {}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    if workload != "analytic_sql":
        batches = [tree.by_id[o["span"]] for o in res.ops if o.get("span") in tree.by_id]
        nb = len(batches) or 1
        v["pipeline.batch_s"] = _mean(o["batch_s"] for o in res.ops)
        v["pipeline.batch_s.max"] = max((o["batch_s"] for o in res.ops), default=0.0)
        v["pipeline.start_late_s"] = _mean(o["start_late_s"] for o in res.ops)
        v["pipeline.jobs_per_batch"] = _mean(tree.total(b["id"], "jobs") for b in batches)
        v["pipeline.stages_per_batch"] = _mean(tree.total(b["id"], "stages") for b in batches)
        v["pipeline.tasks_per_batch"] = _mean(tree.total(b["id"], "tasks") for b in batches)
        v["pipeline.commits_per_batch"] = _mean(
            len(tree.named(b["id"], "lake_table.commit")) for b in batches)
        v["pipeline.self_s"] = _mean(tree.self_s[b["id"]] for b in batches)

        def per_batch(name, f):
            return _mean(sum(f(s) for s in tree.named(b["id"], name)) for b in batches)

        bufs = res.extra["buffers"]
        v["cdc_transform.build_s"] = per_batch("cdc_transform.transform", dur)
        v["cdc_transform.rows_in"] = _mean(b["rows_in"] for b in bufs)
        v["cdc_transform.dead_rows"] = _mean(b["dead_rows"] for b in bufs)
        v["cdc_apply.s"] = per_batch("cdc_apply.apply_batch", dur)
        v["cdc_apply.self_s"] = per_batch("cdc_apply.apply_batch", lambda s: tree.self_s[s["id"]])
        v["cdc_apply.jobs"] = per_batch("cdc_apply.apply_batch", lambda s: tree.total(s["id"], "jobs"))
        v["cdc_apply.collapse_rows_in"] = _mean(sum(b["ops"].values()) for b in bufs)
        v["cdc_apply.collapse_rows_out"] = _mean(b["distinct_keys"] for b in bufs)
        v["merge.s"] = per_batch("merge.merge_into", dur)
        v["merge.self_s"] = per_batch("merge.merge_into", lambda s: tree.self_s[s["id"]])
        v["merge.jobs"] = per_batch("merge.merge_into", lambda s: tree.total(s["id"], "jobs"))

        def candidates(m):
            fp = [s for s in tree.named(m["id"], "lake_table.file_paths") if s.get("pruned")]
            return fp[0]["n_paths"] if fp else 0

        v["merge.files_candidate"] = per_batch("merge.merge_into", candidates)
        commits = res.extra["commits"]
        mc = commits.get("merge", {})
        v["merge.files_rewritten"] = mc.get("files_removed", 0) / nb
        v["merge.rows_rewritten"] = mc.get("rows_added", 0) / nb
        mor = workload == "cdc_mor_fresh_reads"
        changed = sum(b["distinct_keys"] - (b["final_deletes"] if mor else 0) for b in bufs)
        v["merge.rows_changed"] = changed / nb
        v["merge.rewrite_efficiency"] = (
            changed / mc["rows_added"] if mc.get("rows_added") else 0.0)
        pc = res.extra["path_counts"]
        for p in ("probe_job", "probe_skip_small", "no_candidates"):
            v[f"merge.path.{p}"] = pc.get(f"merge.{p}", 0) / nb
        v["lake_table.commit_s"] = per_batch("lake_table.commit", dur)
        v["lake_table.commit_conflicts"] = sum(
            1 for s in tracer.spans if s["name"] == "lake_table.commit"
            and s.get("error") in ("CommitConflict", "DanglingDeleteRefs"))
        v["lake_table.bytes_written"] = sum(
            c["bytes_added"] + c["delete_bytes_added"] for c in commits.values()) / nb
        v["lake_table.files_added"] = sum(c["files_added"] for c in commits.values()) / nb
        v["lake_table.delete_files_added"] = sum(
            c["delete_files_added"] for c in commits.values()) / nb
        v["lake_table.files_live"] = res.extra["head"]["files"]
        v["lake_table.delete_files_live"] = res.extra["head"]["delete_files"]
        hit, miss = pc.get("manifest_cache.hit", 0), pc.get("manifest_cache.miss", 0)
        v["lake_table.manifest_cache_hit_ratio"] = hit / (hit + miss) if hit + miss else 0.0
        v["lake_table.bloom.inprocess_small"] = pc.get("bloom.inprocess_small", 0) / nb
        v["lake_table.bloom.distributed"] = pc.get("bloom.distributed", 0) / nb
        reads = [o["reads"] for o in res.ops if "reads" in o]
        for k in ("count", "groupby", "point", "time_travel"):
            v[f"lake_table.read_s.{k}"] = _mean(r[k] for r in reads)
        rf = [o["read_files"] for o in res.ops if "read_files" in o]
        v["lake_table.read_files_planned"] = _mean(r["planned"] for r in rf)
        v["lake_table.read_files_total"] = _mean(r["total"] for r in rf)
        rw = [s for b in batches for s in tree.named(b["id"], "maintenance.rewrite_delete_files")]
        v["maintenance.rewrite_delete_files.count"] = len(rw)
        v["maintenance.rewrite_delete_files.s"] = _mean(dur(s) for s in rw)
        v["maintenance.bytes_rewritten"] = commits.get("rewrite-deletes", {}).get("bytes_added", 0)
    else:
        passes = [tree.by_id[p["span"]] for p in res.extra["passes"] if p["span"] in tree.by_id]
        v["queries.pass_s.max"] = max(p["pass_s"] for p in res.extra["passes"])
        v["queries.stages"] = _mean(tree.total(p["id"], "stages") for p in passes)
        v["queries.tasks"] = _mean(tree.total(p["id"], "tasks") for p in passes)

        def ev_sum(p, key):
            return sum(ev.get(s["group"], {}).get(key, 0) for s in tree.subtree(p["id"]))

        v["queries.shuffle_bytes"] = _mean(
            ev_sum(p, "shuffle_read_bytes") + ev_sum(p, "shuffle_write_bytes") for p in passes)
        v["queries.spill_bytes"] = _mean(ev_sum(p, "spill_bytes") for p in passes)
        v["queries.executor_cpu_s"] = _mean(ev_sum(p, "executor_cpu_s") for p in passes)
        for q in ANALYTIC_QUERIES:
            qo = [o for o in res.ops if o["name"] == q and o["ok"]]
            for f in ("build_s", "plan_s", "exec_s"):
                v[f"queries.{q}.{f}"] = _mean(o[f] for o in qo)
            v[f"queries.{q}.jobs"] = _mean(
                tree.total(o["span"], "jobs") for o in qo if o["span"] in tree.by_id)

    v["jvm.gc_s"] = gc_s
    v["failed_op_ratio"] = rec["named"]["failed_op_ratio"]["value"]
    v["trace.overhead_s"] = tracer.overhead_s
    v["trace.spans"] = len(tracer.spans)
    return {n: _m(v.get(n, 0.0), u) for n, u in per_layer_names()}


def overhead(out_dir: str, args, rec: dict, tracer) -> dict:
    """Traced minus untraced end-to-end numbers, when an untraced record
    of the same workload and seed exists in ``out_dir``."""
    out = {"tracer_bookkeeping_s": tracer.overhead_s}
    p = os.path.join(out_dir, f"record_{args.workload}_s{args.seed}_{args.seconds}s_t0.json")
    if os.path.exists(p):
        with open(p) as f:
            base = json.load(f)
        out["traced_minus_untraced"] = {
            k: rec["end_to_end"][k]["value"] - base["end_to_end"][k]["value"]
            for k in rec["end_to_end"]
        }
    else:
        out["traced_minus_untraced"] = None
        out["note"] = "run --trace 0 with the same workload, seed and seconds first"
    return out
