"""Shared index lifecycle (operators/index_maintenance.py): the
generation-manifest atomic swap (readers mid-compaction see OLD or NEW,
never a missing table), snapshot-scoped tombstone clearing (deletes
racing a compaction survive it), and typed tombstone keys (mismatched
id dtypes raise instead of silently deleting nothing)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.operators import dedup_index as DI
from rds_pgbadger_etl_spark.operators import index_maintenance as M

THRESHOLD = 0.5


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"maintenance doc {i} about subject {i % 5} " * 8)
        for i in range(20)
    ]
    texts = dict(rows)
    rows[9] = (9, texts[4] + "tail")  # planted near-dup across roles
    return spark.createDataFrame(rows, "doc_id long, text string")


def _store(spark, docs, path):
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") < 16), path)
    return path


def test_reader_mid_compaction_sees_old_or_new(spark, docs, tmp_path):
    """A DataFrame that resolved its table path BEFORE the compaction
    (the mid-compaction reader) must keep scanning the complete old
    generation — retention = 1 — while new resolutions get the new
    generation; the two read identical rows."""
    d = _store(spark, docs, str(tmp_path / "store"))
    old_path = M.table_path(d, "bands")
    reader_old = spark.read.parquet(old_path)
    rows_before = reader_old.count()
    DI.compact_dedup_index(spark, d)
    new_path = M.table_path(d, "bands")
    assert new_path != old_path  # the manifest flipped
    assert os.path.isdir(old_path)  # superseded generation retained
    assert reader_old.count() == rows_before  # in-flight reader intact
    assert spark.read.parquet(new_path).count() == rows_before


def test_second_compaction_drops_only_oldest_generation(spark, docs, tmp_path):
    d = _store(spark, docs, str(tmp_path / "store"))
    gen0 = M.table_path(d, "bands")
    DI.compact_dedup_index(spark, d)
    gen1 = M.table_path(d, "bands")
    DI.compact_dedup_index(spark, d)
    gen2 = M.table_path(d, "bands")
    assert len({gen0, gen1, gen2}) == 3
    assert not os.path.isdir(gen0)  # two generations back: reclaimed
    assert os.path.isdir(gen1)  # previous: retained for readers
    assert os.path.isdir(gen2)
    assert (
        spark.read.parquet(gen2).count() == spark.read.parquet(gen1).count()
    )


def test_crash_before_flip_leaves_readers_on_old_generation(
    spark, docs, tmp_path
):
    """A stray half-written next-generation dir (crash between the
    rewrite and the manifest flip) must be invisible to readers and
    harmlessly overwritten by the next compaction."""
    d = _store(spark, docs, str(tmp_path / "store"))
    cur = M.table_path(d, "bands")
    stray = f"{d}/bands__g1"
    os.makedirs(stray, exist_ok=True)  # empty husk: the "crash" artifact
    assert M.table_path(d, "bands") == cur  # manifest never flipped
    rows = spark.read.parquet(cur).count()
    DI.compact_dedup_index(spark, d)
    assert M.table_path(d, "bands") == stray  # overwritten and published
    assert spark.read.parquet(stray).count() == rows


def test_tombstones_written_mid_compaction_survive(
    spark, docs, tmp_path, monkeypatch
):
    """Compaction clears exactly the tombstone files it snapshotted at
    entry: a delete landing AFTER the snapshot keeps filtering reads
    (and is applied physically by the NEXT compaction)."""
    d = _store(spark, docs, str(tmp_path / "store"))
    DI.delete_from_dedup_index(spark, [4], d)  # pre-compaction tombstone

    snapshot_taker = M._tombstone_files
    fired = []

    def race(index_dir):
        snap = snapshot_taker(index_dir)
        if not fired:  # inject the racing delete after the snapshot
            fired.append(True)
            DI.delete_from_dedup_index(spark, [7], index_dir)
        return snap

    monkeypatch.setattr(M, "_tombstone_files", race)
    DI.compact_dedup_index(spark, d)
    monkeypatch.undo()

    # the racing tombstone survived the clear and still filters reads
    left = M.tombstones(spark, d)
    assert left is not None
    assert [r.doc_id for r in left.collect()] == [7]
    prof = spark.read.parquet(M.table_path(d, "profiles"))
    assert prof.filter(F.col("doc_id") == 4).count() == 0  # applied
    assert prof.filter(F.col("doc_id") == 7).count() == 1  # not yet
    assert (
        M.live(spark, d, prof, "doc_id").filter(F.col("doc_id") == 7).count()
        == 0
    )
    # the NEXT compaction applies it physically and clears the side table
    DI.compact_dedup_index(spark, d)
    assert M._tombstone_files(d) == []
    assert (
        spark.read.parquet(M.table_path(d, "profiles"))
        .filter(F.col("doc_id") == 7)
        .count()
        == 0
    )


def test_tombstone_keys_must_cast_cleanly(spark, tmp_path):
    d = str(tmp_path / "store")
    os.makedirs(d, exist_ok=True)
    bad = spark.createDataFrame([("not-a-number",)], "doc_id string")
    with pytest.raises(ValueError, match="cast cleanly"):
        M.write_tombstones(spark, bad, d, "doc_id", "long")
    with pytest.raises(Exception):  # schema-pinned createDataFrame raises
        M.write_tombstones(spark, ["not-a-number"], d, "doc_id", "long")
    assert M._tombstone_files(d) == []  # nothing half-written
    # a string-keyed artifact passes its own dtype through
    M.write_tombstones(spark, ["doc-a", "doc-b"], d, "doc_id", "string")
    got = sorted(r.doc_id for r in M.tombstones(spark, d).collect())
    assert got == ["doc-a", "doc-b"]


def test_metadata_cache_is_a_true_lru(monkeypatch):
    """The batch verbs' metadata cache evicts the LEAST RECENTLY USED
    entry at its bound, not the oldest inserted: an entry read just
    before the insert that fills the cache past its bound survives, and
    the entry nobody read since is the one recomputed."""
    monkeypatch.setattr(M, "_META_CACHE", type(M._META_CACHE)())
    monkeypatch.setattr(M, "META_CACHE_ENTRIES", 3)
    computed = []

    def get(name):
        return M.cached_meta(
            "/store", (name,), lambda: (computed.append(name), name)[1]
        )

    for name in ("a", "b", "c"):
        get(name)
    assert get("a") == "a" and computed == ["a", "b", "c"]  # a hit
    get("d")  # past the bound: evicts b, the least recently used
    assert len(M._META_CACHE) == 3
    get("a")
    get("c")
    assert computed == ["a", "b", "c", "d"]  # a and c survived
    get("b")
    assert computed == ["a", "b", "c", "d", "b"]  # b was the one evicted
