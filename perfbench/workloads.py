"""The three benchmark workloads.

Each workload function takes the Spark session, its generated inputs
and the run settings, and returns a ``Result``: per-operation samples,
correctness outcomes and the raw counts the report turns into metrics.
The workloads call only the program's public entry points, the same
ones the traced run rebinds.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    Predicate,
    metrics as path_metrics,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import (
    QUERY_SPECS,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    DEAD_LETTER,
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
    read_cdc_batch,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming import (
    CdcStreamPipeline,
)

import bench
import gen

# set-up repetitions per run; setup_s reports their median
SETUP_REPS = 3

CDC = {
    "cdc_upsert_cow": {
        "mode": "upsert",
        "properties": {"write.delete.mode": "copy-on-write"},
        "n_seed": 100_000,
        "buffer_size": 1000,
        "interval_s": 2.5,
        "reads": False,
    },
    "cdc_mor_fresh_reads": {
        "mode": "insert_delete",
        "properties": {
            "write.delete.mode": "merge-on-read",
            # the reference threshold is 10: at 4 the warm-up buffer's
            # delete file plus three timed ones trigger rewrite_delete_files
            # once in a 15 s run, on its last buffer, so the maintenance
            # layer is measured; no later buffer queues behind it
            "optimize_rewrite_delete_file_threshold": "4",
        },
        "n_seed": 100_000,
        "buffer_size": 1000,
        "interval_s": 5.0,
        "reads": True,
    },
}

# the bench.py headline set without the CDC replay spec
ANALYTIC_QUERIES = [q for q in bench.BENCH_QUERIES if q != "cdc_retail_replay"]
ANALYTIC_SF = 0.005
ANALYTIC_WARMUP_PASSES = 2


@dataclass
class Result:
    setup_reps_s: list[float] = field(default_factory=list)
    # warm-up done once after the repeated set-up (analytic_sql only)
    warmup_s: float = 0.0
    # one entry per timed operation (buffer or query)
    ops: list[dict] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)


def _guard(res: Result, name: str, fn, *a, **kw):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn(*a, **kw), True
    except Exception:  # a failing operation is reported, never fatal
        res.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
        return None, False


# --------------------------------------------------------------------------
# CDC workloads
# --------------------------------------------------------------------------
def _row_tuple(r) -> tuple:
    return (r[1], r[2], r[3], r[4], r[5], r[6])


def _select_rows(df):
    return df.select(
        "trans_id", "customer_id", "event", "sku", "amount", "device",
        F.col("trans_datetime").cast("long").alias("trans_datetime"),
    )


def _manifest_walk(table: LakeTable, v0: int, v1: int) -> dict:
    """Per-operation file and byte deltas of the commits in (v0, v1]."""
    out: dict[str, dict] = {}
    prev = table.manifest(v0)
    for v in range(v0 + 1, v1 + 1):
        m = table.manifest(v)
        op = m["summary"].get("operation", "?")
        pf = {f["path"]: f for f in prev["files"]}
        cf = {f["path"]: f for f in m["files"]}
        pd_ = {d["path"] for d in prev.get("delete_files", [])}
        added = [f for p, f in cf.items() if p not in pf]
        removed = [f for p, f in pf.items() if p not in cf]
        added_del = [d for d in m.get("delete_files", []) if d["path"] not in pd_]
        acc = out.setdefault(
            op,
            {"commits": 0, "files_added": 0, "files_removed": 0, "rows_added": 0,
             "bytes_added": 0, "delete_files_added": 0, "delete_bytes_added": 0},
        )
        acc["commits"] += 1
        acc["files_added"] += len(added)
        acc["files_removed"] += len(removed)
        acc["rows_added"] += sum(f["rows"] for f in added)
        acc["bytes_added"] += sum(int(f.get("bytes", 0)) for f in added)
        acc["delete_files_added"] += len(added_del)
        acc["delete_bytes_added"] += sum(int(d.get("bytes", 0)) for d in added_del)
        prev = m
    return out


def run_cdc(spark, name: str, work: str, inputs: gen.CdcInputs, seconds: int,
            tracer, host) -> Result:
    cfg = CDC[name]
    res = Result()
    span = tracer.span if tracer is not None else None

    # -- set-up, repeated (setup_s takes the median): create the tables,
    # load the seed, apply one warm-up buffer. Every repetition starts
    # from the same seed, so the last one's tables enter the timed phase
    # in the modelled state, after the earlier ones settled the JIT.
    target = dl = pipe = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        root = os.path.join(work, f"tables{rep}")
        target = LakeTable.create(
            os.path.join(root, "retail_trans"), RETAIL_TRANS,
            keys=RETAIL_TRANS_KEYS, cluster_by=RETAIL_TRANS_PARTITION,
            properties=dict(cfg["properties"]),
        )
        dl = LakeTable.create(os.path.join(root, "dead_letter"), DEAD_LETTER)
        target.append(spark.read.parquet(inputs.seed_path))
        pipe = CdcStreamPipeline(target, "testdb", "retail_trans", dead_letter_table=dl)
        pipe.process_batch(read_cdc_batch(spark, inputs.warmup.path), 0)
        if cfg["reads"]:
            # warm the read path too; its checks go to a throwaway result
            _read_set(spark, Result(), target, inputs.warmup, 0, 0, 0)
        res.setup_reps_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(root, ignore_errors=True)
    res.check("setup.rows", target.row_count() == inputs.warmup.rows_after,
              f"{target.row_count()} != {inputs.warmup.rows_after}")
    res.extra["calibration_s"] = host.calibrate()

    # -- timed phase: open loop, buffer i due at t0 + i * interval
    interval = cfg["interval_s"]
    v_start = target.current_version()
    paths0 = path_metrics.snapshot()
    dead_expected = inputs.warmup.n_malformed
    prev_version, prev_rows = v_start, inputs.warmup.rows_after
    t_start = time.perf_counter()
    for i, buf in enumerate(inputs.buffers):
        due = t_start + i * interval
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        op = {"due": due - t_start, "envelopes": buf.n_envelopes}
        start = time.perf_counter()
        # batch id 0 was the warm-up buffer
        with span("pipeline.process_batch", batch=i + 1) if span else nullcontext({}) as rec:
            _, ok = _guard(res, f"batch{i + 1}", pipe.process_batch,
                           read_cdc_batch(spark, buf.path), i + 1)
        op["span"] = rec.get("id")
        end = time.perf_counter()
        op.update(ok=ok, start_late_s=start - due, batch_s=end - start,
                  latency_s=end - due)
        if cfg["reads"]:
            op["reads"] = _read_set(spark, res, target, buf, i + 1, prev_version, prev_rows)
            op["freshness_s"] = time.perf_counter() - due
            k = [Predicate("trans_id", "=", buf.point_key)]
            op["read_files"] = {"planned": len(target.file_paths(predicates=k)),
                                "total": len(target.manifest()["files"])}
        # the checks below only read manifests: no Spark job
        dead_expected += buf.n_malformed
        n = target.row_count()
        res.check(f"batch{i + 1}.row_count", n == buf.rows_after, f"{n} != {buf.rows_after}")
        nd = dl.row_count()
        res.check(f"batch{i + 1}.dead_letter", nd == dead_expected, f"{nd} != {dead_expected}")
        op["version"] = prev_version = target.current_version()
        prev_rows = buf.rows_after
        res.ops.append(op)
    res.extra["timed_wall_s"] = time.perf_counter() - t_start
    res.extra["peak_rss_mb"] = host.peak_rss_mb()
    paths1 = path_metrics.snapshot()
    res.extra["path_counts"] = {
        k: paths1.get(k, 0) - paths0.get(k, 0) for k in set(paths0) | set(paths1)
    }
    v_end = target.current_version()
    res.extra["commits"] = _manifest_walk(target, v_start, v_end)
    head = target.manifest()
    res.extra["head"] = {
        "rows": target.row_count(),
        "files": len(head["files"]),
        "delete_files": len(head.get("delete_files", [])),
        "bytes": sum(int(f.get("bytes", 0)) for f in head["files"])
        + sum(int(d.get("bytes", 0)) for d in head.get("delete_files", [])),
    }
    res.extra["input_bytes"] = sum(b.input_bytes for b in inputs.buffers)
    res.extra["buffers"] = [
        {"ops": b.ops, "distinct_keys": b.distinct_keys, "final_deletes": b.final_deletes,
         "rows_in": b.n_envelopes + b.n_malformed, "dead_rows": b.n_malformed}
        for b in inputs.buffers
    ]

    # -- correctness: head snapshot equals the reference model
    t0 = time.perf_counter()
    got, ok = _guard(res, "head.read", lambda: _select_rows(target.read(spark)).toArrow())
    if ok:
        cols = got.to_pydict()
        keys = cols["trans_id"]
        state = {
            k: (c, e, s, a, d, t)
            for k, c, e, s, a, d, t in zip(
                keys, cols["customer_id"], cols["event"], cols["sku"],
                cols["amount"], cols["device"], cols["trans_datetime"],
            )
        }
        res.check("head.unique_keys", len(state) == len(keys),
                  f"{len(keys) - len(state)} duplicate keys")
        model = gen.load_model(inputs)
        diff = sum(1 for k, v in model.items() if state.get(k) != v)
        extra_keys = len(set(state) - set(model))
        res.check("head.rows_match_model", diff == 0 and extra_keys == 0,
                  f"{diff} rows differ, {extra_keys} unexpected keys")
    res.extra["check_s"] = time.perf_counter() - t0
    return res


def _read_set(spark, res: Result, table: LakeTable, buf: gen.Buffer, batch: int,
              prev_version: int, prev_rows: int) -> dict:
    """The runbook reads on the snapshot a batch just committed."""
    times = {}

    t0 = time.perf_counter()
    n, _ = _guard(res, f"read{batch}.count", lambda: table.read(spark).count())
    times["count"] = time.perf_counter() - t0
    res.check(f"read{batch}.count", n == buf.rows_after, f"{n} != {buf.rows_after}")

    t0 = time.perf_counter()
    g, _ = _guard(res, f"read{batch}.groupby",
                  lambda: table.read(spark).groupBy("event").count().collect())
    times["groupby"] = time.perf_counter() - t0
    got = {r["event"]: r["count"] for r in g or []}
    res.check(f"read{batch}.groupby", got == buf.events_after)

    t0 = time.perf_counter()
    k = buf.point_key
    p, _ = _guard(
        res, f"read{batch}.point",
        lambda: _select_rows(
            table.read(spark, predicates=[Predicate("trans_id", "=", k)])
        ).filter(F.col("trans_id") == k).collect(),
    )
    times["point"] = time.perf_counter() - t0
    want = [buf.point_row] if buf.point_row is not None else []
    res.check(f"read{batch}.point", [_row_tuple(r) for r in p or []] == want)

    t0 = time.perf_counter()
    n, _ = _guard(res, f"read{batch}.time_travel",
                  lambda: table.read(spark, version=prev_version).count())
    times["time_travel"] = time.perf_counter() - t0
    res.check(f"read{batch}.time_travel", n == prev_rows, f"{n} != {prev_rows}")
    return times


# --------------------------------------------------------------------------
# analytic_sql
# --------------------------------------------------------------------------
def _persistent_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _release_blocks(spark, before: set) -> None:
    """Unpersist what a query left cached: the client discards each
    result, and blocks left behind would turn into GC inside later
    queries."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in {int(k) for k in m.keySet().toArray()} - before:
        if m.containsKey(rid):
            m.get(rid).unpersist(True)


def _one_pass(spark, fixtures: str, res: Result, tag: str, span=None) -> dict:
    """Run every query once: build, forced planning, collect."""
    out = {}
    for name in ANALYTIC_QUERIES:
        spec = QUERY_SPECS[name]
        before = _persistent_ids(spark)
        t0 = time.perf_counter()

        def run():
            df = spec.run_spark(spark, fixtures)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            return df.columns, rows, t1, t2

        with span(f"queries.{name}", query=name) if span else nullcontext({}) as rec:
            got, ok = _guard(res, f"{tag}.{name}", run)
        t3 = time.perf_counter()
        _release_blocks(spark, before)
        q = {"ok": ok, "latency_s": t3 - t0, "span": rec.get("id")}
        if ok:
            cols, rows, t1, t2 = got
            q.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, cols=cols, rows=rows)
        out[name] = q
    return out


def run_analytic(spark, fixtures: str, seconds: int, tracer, host) -> Result:
    res = Result()
    span = tracer.span if tracer is not None else None
    # set-up: load the fixture views, repeated (setup_s takes the
    # median), then warm-up passes until pass times level off; the last
    # warm-up pass's results feed the oracle check
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.catalog import (
        load_table,
    )

    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for f in sorted(os.listdir(fixtures)):
            load_table(spark, fixtures, f[: -len(".parquet")]).count()
        res.setup_reps_s.append(time.perf_counter() - t0)
    last = None
    t0 = time.perf_counter()
    for rep in range(ANALYTIC_WARMUP_PASSES):
        last = _one_pass(spark, fixtures, res, f"warmup{rep}")
        res.extra.setdefault("warmup_pass_s", []).append(time.perf_counter() - t0)
        t0 = time.perf_counter()
    res.warmup_s = sum(res.extra["warmup_pass_s"])
    res.extra["calibration_s"] = host.calibrate()

    passes = []
    t_start = time.perf_counter()
    # closed loop: start another pass while at least half of one still
    # fits in the window
    while not passes or time.perf_counter() - t_start < seconds - passes[-1]["pass_s"] / 2:
        p0 = time.perf_counter()
        with span("queries.pass", n=len(passes)) if span else nullcontext({}) as rec:
            qs = _one_pass(spark, fixtures, res, f"pass{len(passes)}", span)
        passes.append({"pass_s": time.perf_counter() - p0, "span": rec.get("id")})
        for name, q in qs.items():
            q.pop("cols", None)
            q.pop("rows", None)
            res.ops.append(dict(q, name=name, pass_index=len(passes) - 1))
    res.extra["timed_wall_s"] = time.perf_counter() - t_start
    res.extra["peak_rss_mb"] = host.peak_rss_mb()
    res.extra["passes"] = passes

    # correctness, once per run and outside the timed passes
    t0 = time.perf_counter()
    _oracle_check(res, fixtures, last)
    res.extra["check_s"] = time.perf_counter() - t0
    return res


def _norm(v) -> str:
    """tests/test_oracle_parity.py's value normalization (doubles at 6
    dp, timestamps as ISO), plus element-wise lists. It is repeated here
    because importing the test module pulls in pytest and its conftest,
    which points the environment at the test fixtures."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        if r == int(r) and abs(r) < 1e15:
            return str(int(r))
        return f"{r:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _normalized(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


# an oracle output column `CAST(ROUND(SUM|AVG(...), <scale>) AS DOUBLE) AS <name>`
_ROUNDED_AGG = re.compile(
    r"ROUND\((?:SUM|AVG)\(.*\),\s*(\d+)\)\s+AS\s+DOUBLE\)\s+AS\s+(\w+)", re.IGNORECASE
)


def rounded_aggregates(sql: str) -> dict[str, int]:
    """Declared scale of each ROUND()ed aggregate column of an oracle query."""
    return {m.group(2): int(m.group(1)) for m in _ROUNDED_AGG.finditer(sql)}


def _same_result(a, b, scales: dict[str, int]) -> bool:
    """Normalized results equal, cell by cell. The one slack: a ROUND()ed
    aggregate column may differ by one unit at its declared scale. An
    exact sum that sits on a rounding boundary rounds either way,
    depending on each engine's summation order. Every other column
    (integers, ids, booleans, strings, unrounded doubles) must match
    exactly."""
    (ca, ra), (cb, rb) = a, b
    if ca != cb or len(ra) != len(rb):
        return False
    slack = [10.0 ** -scales[c] * (1 + 1e-9) if c in scales else None for c in ca]
    for x, y in zip(ra, rb):
        for u, v, tol in zip(x, y, slack):
            if u == v:
                continue
            if tol is None or "NULL" in (u, v) or "NaN" in (u, v):
                return False
            if abs(float(u) - float(v)) > tol:
                return False
    return True


def _oracle_check(res: Result, fixtures: str, spark_results: dict) -> None:
    """Each query's Spark result against its DuckDB oracle over the same
    parquet files (order-insensitive, doubles at 6 dp; see _same_result)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for f in sorted(os.listdir(fixtures)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(fixtures, f)}'"
                )
        for name in ANALYTIC_QUERIES:
            q = spark_results.get(name, {})
            if not q.get("ok"):
                res.check(f"oracle.{name}", False, "spark side failed")
                continue
            sql = QUERY_SPECS[name].oracle_text()
            want, ok = _guard(res, f"oracle.{name}", lambda: (
                lambda c: ([d[0] for d in c.description], c.fetchall())
            )(con.execute(sql)))
            if not ok:
                res.check(f"oracle.{name}", False, "oracle failed")
                continue
            a = _normalized(q["cols"], q["rows"])
            b = _normalized(*want)
            same = _same_result(a, b, rounded_aggregates(sql))
            res.check(f"oracle.{name}", same and len(q["rows"]) > 0,
                      f"{len(q['rows'])} spark rows vs {len(want[1])} oracle rows")
    finally:
        con.close()
