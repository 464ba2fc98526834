"""Compaction and merge-upsert: data preserved byte-for-byte, file counts
shrink, matched keys replaced, unmatched appended."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.operators.maintenance import (
    compact_parquet,
    file_stats,
    merge_upsert,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_compact_shrinks_files_preserves_rows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(20).write.parquet(path)
    before_rows = _rows(spark.read.parquet(path))
    assert file_stats(path)["n_files"] == 20

    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = file_stats(path)
    assert n == 1 and after["n_files"] == 1
    assert _rows(spark.read.parquet(path)) == before_rows


def test_compact_sort_within_restores_locality(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(8).write.parquet(path)
    compact_parquet(
        spark, path, target_file_bytes=1 << 30, sort_within_by=["event_id"]
    )
    got = [r["event_id"] for r in spark.read.parquet(path).collect()]
    assert got == sorted(got)  # single file, fully ordered


def test_merge_upsert_replaces_and_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    merge_upsert(spark, path, updates, keys=["k"])
    got = {r["k"]: (r["s"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_duplicate_keys_deterministic(spark, tmp_path):
    """Duplicate-key CDC batches must pick a deterministic survivor:
    greatest version_col when given, else greatest remaining columns —
    never partition-order-dependent."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 0, "init")], "k long, ver long, s string").write.parquet(path)
    dup = spark.createDataFrame(
        [(1, 2, "second"), (1, 3, "third"), (1, 1, "first"), (2, 1, "new")],
        "k long, ver long, s string",
    ).repartition(8)  # scatter duplicates across partitions
    merge_upsert(spark, path, dup, keys=["k"], version_col="ver")
    got = {r["k"]: (r["ver"], r["s"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (3, "third"), 2: (1, "new")}
    # without version_col: lexicographically greatest remaining columns
    path2 = str(tmp_path / "t2")
    spark.createDataFrame([(9, "x")], "k long, s string").write.parquet(path2)
    dup2 = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "c")], "k long, s string"
    ).repartition(8)
    merge_upsert(spark, path2, dup2, keys=["k"])
    got2 = {r["k"]: r["s"] for r in spark.read.parquet(path2).collect()}
    assert got2 == {1: "c", 9: "x"}


def test_merge_upsert_idempotent_replay(spark, tmp_path):
    """Replaying the same update batch (at-least-once delivery) leaves the
    table unchanged — the upsert is the idempotent sink the streaming
    spine's dedup contract assumes."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double").write.parquet(path)
    updates = spark.createDataFrame([(2, 5.0), (3, 3.0)], "k long, v double")
    merge_upsert(spark, path, updates, keys=["k"])
    once = _rows(spark.read.parquet(path))
    merge_upsert(spark, path, updates, keys=["k"])
    assert _rows(spark.read.parquet(path)) == once


def test_delete_where_erases_only_targets(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.operators.maintenance import delete_where

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "ev")
    ev.write.parquet(path)
    flagged = {3, 7, 11}
    before, deleted = delete_where(
        spark, path, F.col("user_id").isin(*flagged)
    )
    assert before == ev.count()
    assert deleted == ev.filter(F.col("user_id").isin(*flagged)).count()
    after = spark.read.parquet(path)
    assert after.filter(F.col("user_id").isin(*flagged)).count() == 0
    assert after.count() == before - deleted
    # idempotent: a second erasure deletes nothing
    _, again = delete_where(spark, path, F.col("user_id").isin(*flagged))
    assert again == 0


def test_maintenance_recovers_interrupted_swap(spark, sf_dir, tmp_path):
    """A crash between swap renames must degrade to 'rewrite didn't
    happen', never to a vanished table."""
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.operators.maintenance import compact_parquet
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    path = str(tmp_path / "ev")
    ev.write.parquet(path)
    n = spark.read.parquet(path).count()
    fs = HadoopFs(spark, path)
    # simulate: base renamed aside, replacement never landed
    fs.rename(path, path + ".__old")
    assert not fs.exists(path)
    fs.heal(path, path + ".__old")
    assert fs.exists(path) and not fs.exists(path + ".__old")  # restored
    assert spark.read.parquet(path).count() == n
    # the maintenance ops self-heal: rename aside again, then compact
    fs.rename(path, path + ".__old")
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == n


class _Crash(Exception):
    pass


def test_stale_swap_leftover_is_deleted_and_newest_restored(
    spark, tmp_path, monkeypatch
):
    """A completed rewrite that crashed before dropping its aside, then a
    later rewrite torn between its renames: the leftover must not
    outlive the next maintenance call (it still holds erased rows), and
    recovery must restore the NEWEST table, not the leftover."""
    from dvh_airflow_kafka_spark.operators.maintenance import (
        compact_parquet,
        delete_where,
    )
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    path = str(tmp_path / "t")
    spark.createDataFrame([(1,), (2,), (3,)], "k long").write.parquet(path)

    def keys(p):
        return sorted(r.k for r in spark.read.parquet(p).collect())

    real_delete, real_rename = HadoopFs.delete, HadoopFs.rename

    def crash_on_aside_delete(self, p):
        if p.endswith(".__old"):
            raise _Crash
        real_delete(self, p)

    def crash_on_rename_in(self, src, dst):
        if src.endswith(".__new"):
            raise _Crash
        real_rename(self, src, dst)

    # 1. the erasure swap lands, the aside (still holding k=1) stays
    monkeypatch.setattr(HadoopFs, "delete", crash_on_aside_delete)
    with pytest.raises(_Crash):
        delete_where(spark, path, F.col("k") == 1)
    monkeypatch.setattr(HadoopFs, "delete", real_delete)
    assert keys(path) == [2, 3]

    # 2. the next rewrite tears between its two renames
    monkeypatch.setattr(HadoopFs, "rename", crash_on_rename_in)
    with pytest.raises(_Crash):
        delete_where(spark, path, F.col("k") == 2)
    monkeypatch.setattr(HadoopFs, "rename", real_rename)
    siblings = [p for p in glob.glob(path + "*") if p != path]
    assert siblings, "the tear left no aside to restore from"
    for sib in siblings:
        assert 1 not in keys(sib), f"erased row survives in {sib}"

    # 3. the next maintenance call restores the newest table
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert keys(path) == [2, 3]
    assert glob.glob(path + "*") == [path]


def test_crashed_rewrite_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """A crash after the temp write, before the swap, must not leave a
    temp dir behind once the rewrite is re-run — for every rewrite."""
    from dvh_airflow_kafka_spark.operators.maintenance import (
        compact_parquet,
        delete_where,
        merge_upsert,
        zorder_layout,
    )
    from dvh_airflow_kafka_spark.streaming.fsio import HadoopFs

    path = str(tmp_path / "t")
    rows = [(i, i % 3) for i in range(6)]
    spark.createDataFrame(rows, "k long, v long").write.parquet(path)
    updates = spark.createDataFrame([(0, 9), (7, 9)], "k long, v long")
    rewrites = [
        lambda: compact_parquet(spark, path, target_file_bytes=1 << 30),
        lambda: merge_upsert(spark, path, updates, ["k"]),
        lambda: zorder_layout(spark, path, ["k", "v"], n_files=2),
        lambda: delete_where(spark, path, F.col("k") == 1),
    ]

    def crash(self, src, dst):
        raise _Crash

    for rewrite in rewrites:
        monkeypatch.setattr(HadoopFs, "rename", crash)
        with pytest.raises(_Crash):
            rewrite()
        monkeypatch.undo()
        rewrite()
        assert os.listdir(tmp_path) == ["t"]
    out = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert out == [(0, 9), (2, 2), (3, 0), (4, 1), (5, 2), (7, 9)]
