"""Merge-on-read: position-delete files, read-time anti-join, delete
rewrite at the reference's threshold (optimize_rewrite_delete_file_
threshold=10, README.md:307), and no-resurrection under copy-on-write
rewrites of files carrying pending deletes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_apply import (
    apply_batch,
    typed_rows,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.cdc_transform import (
    transform,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    merge_into,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
    compact,
    rewrite_delete_files,
    should_rewrite_deletes,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
    RETAIL_TRANS,
    RETAIL_TRANS_KEYS,
    RETAIL_TRANS_PARTITION,
)
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
    read_cdc_batch,
    write_golden_corpus,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("cat", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ]
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


@pytest.fixture()
def mor_table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        cluster_by=["cat"],
        properties={"write.delete.mode": "merge-on-read"},
    )


def _data_paths(table):
    return sorted(f["path"] for f in table.manifest()["files"])


def test_mor_delete_no_data_rewrite(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a" if i % 2 else "b", float(i)) for i in range(10)]))
    before = _data_paths(t)
    v_before = t.current_version()
    t.delete_where(spark, "id >= 7")
    # data files untouched — only a position-delete file was written
    assert _data_paths(t) == before
    dels = t.manifest()["delete_files"]
    assert len(dels) == 1 and dels[0]["rows"] == 3
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(7))
    assert t.row_count() == 7  # manifest-only, no scan
    # time travel to before the delete still sees all rows
    assert t.read(spark, version=v_before).count() == 10


def test_mor_delete_idempotent_and_incremental(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(10)]))
    t.delete_where(spark, "id >= 8")
    v = t.current_version()
    # same condition again: every matching row is already deleted -> no-op
    assert t.delete_where(spark, "id >= 8") == v
    # different rows accumulate a second delete file
    t.delete_where(spark, "id < 2")
    assert len(t.manifest()["delete_files"]) == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3, 4, 5, 6, 7]
    assert t.row_count() == 6


def test_cow_update_does_not_resurrect(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(6)]))
    t.delete_where(spark, "id IN (1, 3)")
    # COW update rewrites the file(s) holding id=0..5 — the pending
    # deletes must be applied, not resurrected, and the delete entries
    # pruned (they reference only removed files afterwards)
    t.update_where(spark, "id = 2", {"val": "99.0"})
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert set(rows) == {0, 2, 4, 5}
    assert rows[2] == 99.0
    assert t.manifest()["delete_files"] == []
    assert t.row_count() == 4


def test_merge_does_not_resurrect(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(6)]))
    t.delete_where(spark, "id = 5")
    merge_into(t, _mk(spark, [(0, "a", 100.0)]), on=["id"])
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    assert rows[0] == 100.0


def test_rewrite_delete_files_restores_plain_scan(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        properties={
            "write.delete.mode": "merge-on-read",
            "optimize_rewrite_delete_file_threshold": "3",
        },
    )
    # several appends -> several files; deletes spread across them
    for part in range(4):
        t.append(_mk(spark, [(part * 10 + i, "a", 1.0) for i in range(10)]))
    t.delete_where(spark, "id = 1")
    t.delete_where(spark, "id = 11")
    assert not should_rewrite_deletes(t)
    t.delete_where(spark, "id = 21")
    assert should_rewrite_deletes(t)  # property threshold 3 reached

    files_before = set(_data_paths(t))
    affected = {r for d in t.manifest()["delete_files"] for r in d["refs"]}
    rewrite_delete_files(spark, t)
    m = t.manifest()
    assert m["delete_files"] == []
    assert m["summary"]["operation"] == "rewrite-deletes"
    # only the files referenced by deletes were rewritten
    assert files_before - set(_data_paths(t)) == affected
    assert (files_before & set(_data_paths(t))) == files_before - affected
    assert sorted(r["id"] for r in t.read(spark).collect()) == sorted(
        set(range(40)) - {1, 11, 21}
    )
    assert t.row_count() == 37


def test_compact_folds_deletes(spark, mor_table):
    t = mor_table
    t.append(_mk(spark, [(i, "a", 1.0) for i in range(10)]))
    t.delete_where(spark, "id >= 5")
    compact(spark, t, binpack=False)  # full rewrite folds pending deletes
    m = t.manifest()
    assert m["delete_files"] == []
    assert t.read(spark).count() == 5
    assert t.row_count() == 5


def test_compact_binpack_rewrites_only_small_files(spark, mor_table):
    """Binpack (the default, and the only shape that scales): small
    write-frontier files merge; files at/above the size floor carry over
    by reference; pending deletes on victims fold in, deletes on
    untouched files stay pending."""
    t = mor_table
    t.append(_mk(spark, [(j, "a", 1.0) for j in range(100)]))  # the "big" file
    for i in range(1, 4):  # three smaller single-commit files
        t.append(_mk(spark, [(100 * i + j, "a", 1.0) for j in range(10)]))
    paths_before = set(f["path"] for f in t.manifest()["files"])
    assert len(paths_before) >= 4
    t.delete_by_keys_mor(spark, spark.createDataFrame([(101,)], "id int"))

    # pretend the big file is already target-sized: floor just below it
    big = sorted(t.manifest()["files"], key=lambda f: -f["bytes"])[0]
    compact(spark, t, small_bytes=big["bytes"])
    m = t.manifest()
    after = set(f["path"] for f in m["files"])
    assert big["path"] in after  # carried over by reference
    assert len(after) < len(paths_before)  # small files merged
    assert t.read(spark).count() == 129
    assert t.row_count() == 129
    # a lone small file (or none) is a no-op, not a rewrite
    v = t.current_version()
    assert compact(spark, t, small_bytes=1) == v


def test_delete_heavy_cdc_bounded_write_amplification(spark, tmp_path):
    """Delete-heavy CDC: merge-on-read must write O(deleted positions),
    not rewrite the data files (COW would rewrite every touched file)."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(1000)]))
    data_bytes = sum(f["bytes"] for f in t.manifest()["files"])
    before = _data_paths(t)

    # a pure-delete CDC batch for 100 keys
    dels = spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        F.lit("delete").alias("operation"),
    )
    t.delete_by_keys_mor(spark, dels.select("id"), ["id"])
    m = t.manifest()
    assert _data_paths(t) == before, "MOR delete rewrote data files"
    del_bytes = sum(d["bytes"] for d in m["delete_files"])
    assert del_bytes < data_bytes / 2, (
        f"delete file {del_bytes}B not small vs data {data_bytes}B"
    )
    assert t.read(spark).count() == 900
    assert t.row_count() == 900


def test_cdc_golden_corpus_same_result_mor(spark, tmp_path):
    """The golden CDC replay must produce the identical 12-row outcome
    whether deletes run copy-on-write or merge-on-read."""
    p1, p2 = write_golden_corpus(str(tmp_path / "gen"))
    results = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = LakeTable.create(
            str(tmp_path / f"retail_{mode}"),
            RETAIL_TRANS,
            keys=RETAIL_TRANS_KEYS,
            properties={"write.delete.mode": mode},
        )
        for p in (p1, p2):
            good, _dead = transform(read_cdc_batch(spark, p), "db", "tbl")
            apply_batch(t, typed_rows(good))
        results[mode] = sorted(
            tuple(r) for r in t.read(spark).collect()
        )
    assert results["copy-on-write"] == results["merge-on-read"]
    assert len(results["merge-on-read"]) == 12


def test_mor_table_survives_relocation(spark, mor_table, tmp_path):
    """Position-delete files store ROOT-RELATIVE data-file paths, so a
    moved/copied table root still matches its pending deletes — deleted
    rows must not resurrect and row_count must agree with the scan
    (round-2 advice: absolute paths broke relocation)."""
    import shutil

    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(10)]))
    t.delete_where(spark, "id >= 6")
    assert t.read(spark).count() == 6 and t.row_count() == 6

    moved = str(tmp_path / "relocated")
    shutil.move(t.root, moved)
    t2 = LakeTable.load(moved)
    assert sorted(r["id"] for r in t2.read(spark).collect()) == list(range(6))
    assert t2.row_count() == 6
    # and further MOR DML on the moved table still composes
    t2.delete_where(spark, "id = 0")
    assert sorted(r["id"] for r in t2.read(spark).collect()) == [1, 2, 3, 4, 5]


def test_mor_with_reserved_like_column_names(spark, tmp_path):
    """A table whose OWN schema has columns named ``file`` and ``pos``
    must read and delete cleanly under merge-on-read — the engine's
    internal delete-join columns are namespaced (round-2 advice:
    unqualified join names hit ambiguous-reference errors)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("file", T.StringType(), True),
            T.StructField("pos", T.LongType(), True),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "clash"),
        schema,
        keys=["id"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        spark.createDataFrame(
            [(i, f"f{i}", i * 10) for i in range(8)], schema=schema
        )
    )
    t.delete_where(spark, "id >= 6")
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(6))
    # keyed MOR delete (the CDC path) with the clashing schema
    keys_df = spark.createDataFrame([(0,), (1,)], "id int")
    t.delete_by_keys_mor(spark, keys_df)
    out = sorted((r["id"], r["file"], r["pos"]) for r in t.read(spark).collect())
    assert out == [(2, "f2", 20), (3, "f3", 30), (4, "f4", 40), (5, "f5", 50)]
    assert t.row_count() == 4


# ---------------------------------------------------------------------------
# one CDC micro-batch = one snapshot (RowDelta-style merge-on-read apply)
# ---------------------------------------------------------------------------


def _retail_mor(spark, root, n_rows):
    """A merge-on-read retail table seeded with keys 0..n_rows-1."""
    t = LakeTable.create(
        root, RETAIL_TRANS, keys=RETAIL_TRANS_KEYS,
        cluster_by=RETAIL_TRANS_PARTITION,
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(
        spark.range(n_rows).select(
            F.col("id").cast("int").alias("trans_id"),
            F.lit("c").alias("customer_id"),
            F.element_at(
                F.array(*[F.lit(e) for e in ("visit", "view", "cart")]),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("event"),
            F.lit("s").alias("sku"),
            F.col("id").cast("int").alias("amount"),
            F.lit("pc").alias("device"),
            F.lit("2023-01-16 06:00:00").cast("timestamp").alias("trans_datetime"),
        )
    )
    return t


def _write_buffer(path, inserts, deletes, malformed=0):
    """One JSONL delivery buffer: insert envelopes for ``inserts``, delete
    envelopes for ``deletes``, then ``malformed`` unparseable lines."""
    import json
    import random

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.cdc_jsonl import (
        _envelope,
        _mk_row,
    )

    rng = random.Random(11)
    ops = [(k, "insert") for k in inserts] + [(k, "delete") for k in deletes]
    with open(path, "w") as f:
        for i, (k, op) in enumerate(ops):
            ts = f"2023-01-17T01:{i // 60:02d}:{i % 60:02d}.000001Z"
            f.write(json.dumps(_envelope(_mk_row(rng, k), op, ts, 90_000 + i)) + "\n")
        for _ in range(malformed):
            f.write("not json\n")
    return str(path)


def _pipeline(t, dl):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming.pipeline import (
        CdcStreamPipeline,
    )

    return CdcStreamPipeline(t, "testdb", "retail_trans", dead_letter_table=dl)


def _dead_letter(tmp_path):
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.schemas import (
        DEAD_LETTER,
    )

    return LakeTable.create(str(tmp_path / "dead"), DEAD_LETTER)


def _ids(df):
    return sorted(r["trans_id"] for r in df.select("trans_id").collect())


def test_mor_cdc_batch_is_one_snapshot(spark, tmp_path):
    """A merge-on-read micro-batch with inserts AND deletes publishes
    exactly one snapshot holding the new data file, the new position-
    delete file and the stream watermark — a reader never sees the
    deletes without the inserts."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.sources.lake_stream import (
        _LakeStreamReader,
    )

    t = _retail_mor(spark, str(tmp_path / "t"), 200)
    pipe = _pipeline(t, _dead_letter(tmp_path))
    buf = _write_buffer(tmp_path / "b1.jsonl", range(1000, 1010), [3, 50, 120])
    parent = t.current_version()
    before = t.manifest(parent)
    pipe.process_batch(spark.read.text(buf), 1)

    v = t.current_version()
    assert v == parent + 1
    m = t.manifest()
    new_files = {f["path"] for f in m["files"]} - {f["path"] for f in before["files"]}
    new_dels = [
        d for d in m["delete_files"]
        if d["path"] not in {x["path"] for x in before.get("delete_files", [])}
    ]
    assert len(new_files) >= 1 and len(new_dels) == 1
    assert new_dels[0]["rows"] == 3
    assert m["summary"]["stream_sink_txn"] == {"default": 1}
    assert m["summary"]["operation"] == "merge"

    assert _ids(t.read(spark, version=parent)) == list(range(200))
    assert _ids(t.read(spark)) == sorted(
        set(range(200)) - {3, 50, 120} | set(range(1000, 1010))
    )
    assert t.row_count() == 200 - 3 + 10
    log = t.changelog(spark, parent, v)
    got = sorted((r["_change_type"], r["trans_id"]) for r in log.collect())
    assert got == sorted(
        [("DELETE", k) for k in (3, 50, 120)]
        + [("INSERT", k) for k in range(1000, 1010)]
    )

    # a row-level change commit for the append-only stream source
    reader = _LakeStreamReader(t.root, RETAIL_TRANS, skip_change_commits=False)
    with pytest.raises(ValueError, match="non-append commit"):
        reader.partitions({"version": parent}, {"version": v})
    skip = _LakeStreamReader(t.root, RETAIL_TRANS, skip_change_commits=True)
    assert skip.partitions({"version": parent}, {"version": v}) == []


_OVERLAP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("cat", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ]
)


@pytest.mark.parametrize("same_file", [True, False], ids=["same-file", "other-file"])
@pytest.mark.parametrize("shape", ["single-key", "composite-key", "null-key"])
def test_mor_update_and_delete_overlap(spark, tmp_path, shape, same_file):
    """One batch updates key A and deletes key B. When A and B share a
    data file, the MERGE rewrites that file: the rewrite must drop B's
    staged position and the staged delete entry must lose its ref to the
    rewritten file (else DanglingDeleteRefs, or B comes back). Either way
    the merge-on-read table ends equal to the copy-on-write one."""
    keys = ["id", "cat"] if shape == "composite-key" else ["id"]
    seed = [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "b", 4.0)]
    batch = [
        (1, "a", 10.0, "update"),                   # A
        (2 if same_file else 4, "a" if same_file else "b", None, "delete"),  # B
        (0, "c", 0.5, "insert"),  # keeps the upsert key range off id 4
    ]
    if shape == "null-key":
        batch.append((None, "z", 99.0, "insert"))  # key-less: dropped
    out = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = LakeTable.create(
            str(tmp_path / mode), _OVERLAP_SCHEMA, keys=keys,
            properties={"write.delete.mode": mode},
        )
        # one data file per append; in the other-file case B (id 4)
        # sits in a second file the MERGE does not touch
        for part in [seed] if same_file else [seed[:3], seed[3:]]:
            t.append(spark.createDataFrame(part, _OVERLAP_SCHEMA).coalesce(1))
        assert len(t.manifest()["files"]) == (1 if same_file else 2)
        v0 = t.current_version()
        typed = spark.createDataFrame(
            [(*r, i) for i, r in enumerate(batch)],
            "id int, cat string, val double, operation string, _order_txn long",
        ).withColumn("_order_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        apply_batch(t, typed)
        assert t.current_version() == v0 + 1
        if mode == "merge-on-read":
            # the B file is rewritten iff it holds A too
            b_file_kept = t.manifest(v0)["files"][-1]["path"] in {
                f["path"] for f in t.manifest()["files"]
            }
            assert b_file_kept is not same_file
        rows = sorted(tuple(r) for r in t.read(spark).collect())
        assert t.row_count() == len(rows)
        m = t.manifest()
        live = {f["path"] for f in m["files"]}
        assert all(set(d["refs"]) <= live for d in m.get("delete_files", []))
        out[mode] = rows
    assert out["merge-on-read"] == out["copy-on-write"]
    b = (2, "a") if same_file else (4, "b")
    assert b not in {(r[0], r[1]) for r in out["merge-on-read"]}
    assert (1, "a", 10.0) in out["merge-on-read"]


def _batch_jobs(spark, fn) -> int:
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None))
    fn()
    return len(st.getJobIdsForGroup(None)) - before


def test_mor_cdc_batch_job_budget(spark, tmp_path):
    """Structural gate: one merge-on-read process_batch (inserts,
    deletes, a malformed line, dead-letter table wired) runs at most 8
    Spark jobs and publishes exactly 1 target snapshot — and the same job
    count when the seed table is 10x larger (the delta-cost check).
    Raising the bound needs a CHANGES.md entry saying why."""
    counts = []
    for n_rows in (1_000, 10_000):
        root = tmp_path / f"n{n_rows}"
        t = _retail_mor(spark, str(root / "t"), n_rows)
        pipe = _pipeline(t, _dead_letter(root))
        warm = _write_buffer(root / "b1.jsonl", range(50_000, 50_050), range(0, 40, 2), 1)
        pipe.process_batch(spark.read.text(warm), 1)
        buf = _write_buffer(root / "b2.jsonl", range(60_000, 60_050), range(1, 40, 2), 1)
        v0 = t.current_version()
        counts.append(_batch_jobs(spark, lambda: pipe.process_batch(spark.read.text(buf), 2)))
        assert t.current_version() == v0 + 1
        assert t.row_count() == n_rows - 40 + 100
    assert counts[0] <= 8, f"MOR CDC batch ran {counts[0]} Spark jobs (bound 8)"
    assert counts[1] == counts[0], f"job count grew with table size: {counts}"


@pytest.mark.parametrize("exc", ["CommitConflict", "DanglingDeleteRefs"])
def test_mor_cdc_batch_replans_after_lost_race(spark, tmp_path, monkeypatch, exc):
    """A commit that loses to a concurrent compaction re-plans the WHOLE
    batch once: the staged (file, pos) tuples name files the compaction
    removed, so they are recomputed against the new head."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table as lt,
    )

    t = _retail_mor(spark, str(tmp_path / "t"), 200)
    pipe = _pipeline(t, _dead_letter(tmp_path))
    buf = _write_buffer(tmp_path / "b1.jsonl", range(1000, 1010), [3, 50, 120])
    real = lt.LakeTable.commit
    attempts = []

    def racing_commit(self, added, *a, **kw):
        if self.root == t.root and kw.get("added_deletes"):
            attempts.append(kw["added_deletes"])
            if len(attempts) == 1:
                compact(spark, self, binpack=False)  # the race's winner
                raise getattr(lt, exc)("lost to a concurrent compaction")
        return real(self, added, *a, **kw)

    monkeypatch.setattr(lt.LakeTable, "commit", racing_commit)
    v0 = t.current_version()
    pipe.process_batch(spark.read.text(buf), 1)
    assert len(attempts) == 2  # re-planned once
    assert attempts[1][0]["refs"] != attempts[0][0]["refs"]  # against the new head
    assert t.current_version() == v0 + 2  # the compaction, then the batch
    assert _ids(t.read(spark)) == sorted(
        set(range(200)) - {3, 50, 120} | set(range(1000, 1010))
    )
    assert t.row_count() == 207


def test_mor_cdc_crash_before_commit_leaves_only_orphans(spark, tmp_path, monkeypatch):
    """A crash between staging the delete file and committing publishes
    nothing; the staged file is unreferenced, expire_snapshots' orphan
    sweep removes it, and the replayed batch converges."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table as lt,
    )
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.maintenance import (
        expire_snapshots,
    )

    t = _retail_mor(spark, str(tmp_path / "t"), 200)
    pipe = _pipeline(t, _dead_letter(tmp_path))
    buf = _write_buffer(tmp_path / "b1.jsonl", range(1000, 1010), [3, 50, 120])
    real = lt.LakeTable.commit

    def crashing_commit(self, added, *a, **kw):
        if self.root == t.root and kw.get("added_deletes"):
            raise RuntimeError("writer killed before commit")
        return real(self, added, *a, **kw)

    v0 = t.current_version()
    monkeypatch.setattr(lt.LakeTable, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="killed"):
        pipe.process_batch(spark.read.text(buf), 1)
    monkeypatch.setattr(lt.LakeTable, "commit", real)
    assert t.current_version() == v0
    assert _ids(t.read(spark)) == list(range(200))

    def staged_files():
        data = os.path.join(t.root, "data")
        return {
            os.path.join("data", n) for n in os.listdir(data)
            if n.startswith("del-") and n.endswith(".parquet")
        }

    orphans = staged_files() - t.referenced_files()
    assert len(orphans) == 1
    report = expire_snapshots(t, keep_last=100)
    assert report["removed_orphans"] >= 1
    assert not (staged_files() & orphans)

    pipe.process_batch(spark.read.text(buf), 1)  # the replay
    assert t.current_version() == v0 + 1
    assert _ids(t.read(spark)) == sorted(
        set(range(200)) - {3, 50, 120} | set(range(1000, 1010))
    )
    assert t.row_count() == 207


def test_delete_where_mor_writes_one_sorted_file(spark, mor_table):
    """MOR DELETE WHERE stays on the Spark writer: one position-delete
    file, sorted by (file, pos)."""
    import pyarrow.parquet as pq

    t = mor_table
    t.append(_mk(spark, [(i, "a" if i % 3 else "b", float(i)) for i in range(60)]))
    t.append(_mk(spark, [(100 + i, "c", float(i)) for i in range(20)]))
    t.delete_where(spark, "id % 4 = 1")
    (d,) = t.manifest()["delete_files"]
    tbl = pq.read_table(os.path.join(t.root, d["path"]))
    pairs = list(zip(tbl.column("file").to_pylist(), tbl.column("pos").to_pylist()))
    assert pairs == sorted(pairs) and len(pairs) == d["rows"] == 20
    assert t.row_count() == 60


def test_mor_key_delete_skips_already_deleted_positions(spark, mor_table):
    """Deleting a key whose row a live delete file already removed writes
    nothing: the delete set stays duplicate-free and row_count exact."""
    t = mor_table
    t.append(_mk(spark, [(i, "a", float(i)) for i in range(10)]))
    t.delete_by_keys_mor(spark, spark.createDataFrame([(2,), (5,)], "id int"))
    v = t.current_version()
    assert t.delete_by_keys_mor(spark, spark.createDataFrame([(5,)], "id int")) == v
    t.delete_by_keys_mor(spark, spark.createDataFrame([(5,), (7,)], "id int"))
    assert [d["rows"] for d in t.manifest()["delete_files"]] == [2, 1]
    assert t.row_count() == t.read(spark).count() == 7
