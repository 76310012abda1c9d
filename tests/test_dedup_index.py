"""Persisted dedup signature store (operators/dedup_index.py): lookup
parity with the in-session pipeline, append == one-shot build, and the
partition-pruned probe plan (the incremental-ingest contract: a new
batch dedups against the corpus without the corpus being re-read)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.operators import dedup as D
from rds_pgbadger_etl_spark.operators import dedup_index as DI
from rds_pgbadger_etl_spark.operators import index_maintenance as M
from rds_pgbadger_etl_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

THRESHOLD = 0.5


def _rows(df):
    return sorted(map(str, df.select(sorted(df.columns)).collect()))


@pytest.fixture(scope="module")
def docs(spark):
    """40 synthetic documents; ids with doc_id%10 < 8 play the stored
    corpus, >= 8 the new batch. One planted cross-role near-dup pair
    (18 copies 11) guarantees the lookup provably bites."""
    rows = []
    for i in range(40):
        rows.append((i, f"document number {i} talks about topic {i % 7} " * 8))
    texts = dict(rows)
    rows[18] = (18, texts[11] + "tiny tail")
    rows[29] = (29, texts[3])
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(docs):
    """The same answer with no store anywhere: in-session bands over the
    union corpus, candidates restricted to (old, new) role pairs, exact
    Jaccard verify via the family's shared join."""
    prof = D.shingle_profile(D.char_shingles(docs))
    bands = prof.select(
        "doc_id", F.explode(
            F.array(
                F.md5(F.concat_ws(":", "sig1", "sig2")),
                F.md5(F.concat_ws(":", "sig3", "sig4")),
            )
        ).alias("band"),
    ).distinct()
    old_b = bands.filter(F.col("doc_id") % 10 < 8).select(
        F.col("doc_id").alias("a"), "band"
    )
    new_b = bands.filter(F.col("doc_id") % 10 >= 8).select(
        F.col("doc_id").alias("b"), "band"
    )
    cands = old_b.join(new_b, "band").select("a", "b").distinct()
    return (
        D.pair_jaccard(cands, prof)
        .filter(F.col("jaccard") >= THRESHOLD)
        .select(
            F.col("a").alias("old_id"),
            F.col("b").alias("new_id"),
            "jaccard",
        )
    )


def test_lookup_matches_in_session_and_bites(spark, docs, tmp_path):
    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
    got = DI.dedup_index_lookup(
        spark, docs.filter(F.col("doc_id") % 10 >= 8), d, threshold=THRESHOLD
    )
    got_rows = _rows(got)
    assert got_rows == _rows(_expected(docs))
    # the planted cross dups are found
    found = {(int(r.old_id), int(r.new_id)) for r in got.collect()}
    assert (11, 18) in found and (3, 29) in found


def test_append_equals_one_shot_build(spark, docs, tmp_path):
    """build(40%) + append(40%) must be indistinguishable from one
    build(80%) — same per-doc rows by construction (hashes depend only
    on the doc), so lookups are bit-identical."""
    one_shot = str(tmp_path / "one")
    incr = str(tmp_path / "incr")
    old = docs.filter(F.col("doc_id") % 10 < 8)
    DI.build_dedup_index(spark, old, one_shot)
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 4), incr)
    DI.append_to_dedup_index(
        spark,
        docs.filter((F.col("doc_id") % 10 >= 4) & (F.col("doc_id") % 10 < 8)),
        incr,
    )
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    assert _rows(
        DI.dedup_index_lookup(spark, new, incr, threshold=THRESHOLD)
    ) == _rows(
        DI.dedup_index_lookup(spark, new, one_shot, threshold=THRESHOLD)
    )


def test_lookup_plan_is_partition_pruned(spark, tmp_path):
    """A small batch's probe must be a partition-pruned scan of the
    band table (pfx IN (...) PartitionFilters) and a bucket-pruned scan
    of the profiles — the store is never scanned in full."""
    d = str(tmp_path / "store")
    real = load_table(spark, SF_SMOKE, "documents")
    DI.build_dedup_index(spark, real.filter(F.col("doc_id") % 10 < 8), d)
    batch = real.filter(F.col("doc_id") % 10 >= 8).limit(3)
    got = DI.dedup_index_lookup(spark, batch, d, threshold=THRESHOLD)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "pfx" in plan and "bucket" in plan
    # 3 docs -> at most 6 bands -> at most 6 of 256 pfx partitions probed
    import re

    pfx_filters = re.findall(r"pfx#\d+ IN \(([^)]*)\)", plan)
    assert pfx_filters and len(pfx_filters[0].split(",")) <= 6


def test_verify_strategy_plumbed(spark, docs, tmp_path):
    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    assert _rows(
        DI.dedup_index_lookup(spark, new, d, verify_strategy="shuffle")
    ) == _rows(DI.dedup_index_lookup(spark, new, d, verify_strategy="broadcast"))


def test_lookup_meta_cache_hits_and_invalidates(
    spark, docs, tmp_path, monkeypatch
):
    """A repeated lookup of the same batch against an unchanged store
    reuses the cached plan metadata (pfx set / strategy / buckets —
    the strategy resolver runs ONCE), with rows identical to the first
    run; any store mutation (here a tombstone write) changes the
    fingerprint, so the metadata is recomputed and the result reflects
    the mutation instead of reusing stale buckets."""
    calls = []
    real = DI.resolve_verify_strategy

    def spy(strategy, cands):
        calls.append(strategy)
        return real(strategy, cands)

    monkeypatch.setattr(DI, "resolve_verify_strategy", spy)
    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    first_df = DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD)
    first = _rows(first_df)
    victims = sorted({int(r.old_id) for r in first_df.collect()})
    assert victims  # the planted cross dups guarantee hits
    assert len(calls) == 1
    assert (
        _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
        == first
    )
    assert len(calls) == 1  # cache hit: resolver not re-run
    DI.delete_from_dedup_index(spark, victims, d)
    got = DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD)
    assert len(calls) == 2  # mutation invalidated the entry
    assert not ({int(r.old_id) for r in got.collect()} & set(victims))


def test_lookup_meta_keyed_on_batch_files_not_plan_hash(
    spark, docs, tmp_path, monkeypatch
):
    """semanticHash() hashes the LOGICAL plan, not the data: a batch
    re-READ from an external path whose files were replaced (same root
    path, same schema ⇒ same plan hash) must NOT reuse the previous
    batch's cached pfx/bucket pruning metadata — that returned silently
    wrong/empty dup pairs before the leaf-file list joined the cache
    key (the r13 ADVICE high item). Also pins the LRU bound: cycling
    many distinct batches never grows the cache past
    M.META_CACHE_ENTRIES entries for the store."""
    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
    bdir = str(tmp_path / "batch")
    # first batch: doc 29 (copies stored doc 3)
    docs.filter(F.col("doc_id") % 10 == 9).write.mode("overwrite").parquet(
        bdir
    )
    got1 = _rows(
        DI.dedup_index_lookup(
            spark, spark.read.parquet(bdir), d, threshold=THRESHOLD
        )
    )
    assert any("old_id=3)" in r for r in got1), got1
    # replace the path's contents: doc 18 (copies stored doc 11)
    docs.filter(F.col("doc_id") % 10 == 8).write.mode("overwrite").parquet(
        bdir
    )
    got2 = _rows(
        DI.dedup_index_lookup(
            spark, spark.read.parquet(bdir), d, threshold=THRESHOLD
        )
    )
    M.clear_table_cache()
    want2 = _rows(
        DI.dedup_index_lookup(
            spark, spark.read.parquet(bdir), d, threshold=THRESHOLD
        )
    )
    assert got2 == want2 and any("old_id=11)" in r for r in got2), got2
    # LRU bound: distinct batches cycle, entries for the store stay capped
    monkeypatch.setattr(M, "META_CACHE_ENTRIES", 8)
    for i in range(M.META_CACHE_ENTRIES + 3):
        # each literal makes a distinct plan hash => a distinct key
        DI.dedup_index_lookup(
            spark,
            docs.filter(
                (F.col("doc_id") % 10 >= 8) & (F.col("doc_id") >= i)
            ),
            d,
            threshold=THRESHOLD,
        )
    key_dir = os.path.normpath(d)
    assert (
        len([k for k in M._META_CACHE if k[0] == key_dir])
        <= M.META_CACHE_ENTRIES
    )


def test_delete_then_compaction_applies(spark, docs, tmp_path):
    """Tombstoned docs vanish from lookup results (logical, zero
    rewrites); compaction applies tombstones physically — results
    identical, side table cleared, rows gone from the profiles."""
    import os

    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    base = DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD).collect()
    victims = sorted({int(r.old_id) for r in base})
    assert victims  # the planted cross dups guarantee hits
    DI.delete_from_dedup_index(spark, victims, d)
    got = DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD)
    assert not ({int(r.old_id) for r in got.collect()} & set(victims))
    logical = _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
    DI.compact_dedup_index(spark, d)
    assert M._tombstone_files(d) == []
    assert (
        _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
        == logical
    )
    assert (
        spark.read.parquet(M.table_path(d, "profiles"))
        .filter(F.col("doc_id").isin(victims))
        .count()
        == 0
    )


def test_store_compaction_after_append(spark, tmp_path):
    """build + append leaves >1 file-set in hot partitions; compaction
    restores one file-set per partition with lookups bit-identical."""
    real = load_table(spark, SF_SMOKE, "documents")
    d = str(tmp_path / "store")
    DI.build_dedup_index(spark, real.filter(F.col("doc_id") % 10 < 4), d)
    DI.append_to_dedup_index(
        spark,
        real.filter((F.col("doc_id") % 10 >= 4) & (F.col("doc_id") % 10 < 8)),
        d,
    )
    stats = {r.table: r for r in DI.dedup_index_stats(spark, d).collect()}
    assert stats["bands"].max_part_files > 1
    new = real.filter(F.col("doc_id") % 10 >= 8)
    before = _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
    fstats = DI.compact_dedup_index(spark, d)
    for t, s in fstats.items():
        assert s["files_after"] <= s["files_before"], (t, s)
    after = {r.table: r for r in DI.dedup_index_stats(spark, d).collect()}
    for t in ("bands", "profiles"):
        assert after[t].max_part_files == 1, t
        assert after[t].rows == stats[t].rows, t
    assert (
        _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
        == before
    )


def test_pfx_fanout_auto_sized_and_sticky(spark, docs, tmp_path):
    """A small-corpus store is created with the 1-hex (16-way) prefix
    fanout — appends then cost ~16 committer files, not 256 — the
    fanout is stamped in the manifest and STICKY (later appends and the
    pruned lookup resolve the same layout), and lookup answers equal
    the always-256 layout's. The at-scale rule is pinned separately:
    corpora >= PFX_SMALL_DOCS keep the 2-hex layout."""
    import os

    assert DI._choose_pfx_len(DI.PFX_SMALL_DOCS - 1) == 1
    assert DI._choose_pfx_len(DI.PFX_SMALL_DOCS) == 2

    old = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    d_small = str(tmp_path / "store_small")
    DI.build_dedup_index(spark, old.filter(F.col("doc_id") < 20), d_small)
    assert DI._pfx_len(d_small) == 1
    parts = [
        p
        for p in os.listdir(M.table_path(d_small, "bands"))
        if p.startswith("pfx=")
    ]
    assert parts and all(len(p) == len("pfx=") + 1 for p in parts)
    # sticky across appends: the second batch resolves the stamped 1
    DI.append_to_dedup_index(
        spark, old.filter(F.col("doc_id") >= 20), d_small
    )
    parts2 = {
        p
        for p in os.listdir(M.table_path(d_small, "bands"))
        if p.startswith("pfx=")
    }
    assert all(len(p) == len("pfx=") + 1 for p in parts2)
    got = _rows(DI.dedup_index_lookup(spark, new, d_small, threshold=THRESHOLD))
    # a store pinned to the legacy 2-hex layout answers identically
    d_big = str(tmp_path / "store_256")
    M.write_meta(d_big, DI._PFX_KEY, 2)
    DI.build_dedup_index(spark, old, d_big)
    assert DI._pfx_len(d_big) == 2
    want = _rows(DI.dedup_index_lookup(spark, new, d_big, threshold=THRESHOLD))
    assert got == want and got


def test_pfx_fanout_upgrades_at_compaction(spark, docs, tmp_path, monkeypatch):
    """A store created small (1-hex) that outgrows PFX_SMALL_DOCS must
    come out of its next compaction at the at-scale 2-hex fanout: the
    bands rewrite recomputes the prefix column and the new __pfx_len__
    publishes in the SAME atomic manifest write as the generation flip.
    Lookup answers are bit-identical across the upgrade."""
    import os

    old = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    d = str(tmp_path / "store_grow")
    DI.build_dedup_index(spark, old, d)
    assert DI._pfx_len(d) == 1  # created small
    before = _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))

    # the store "grows past" the threshold (lowered for the test)
    monkeypatch.setattr(DI, "PFX_SMALL_DOCS", 10)
    DI.compact_dedup_index(spark, d)
    assert DI._pfx_len(d) == 2
    parts = [
        p
        for p in os.listdir(M.table_path(d, "bands"))
        if p.startswith("pfx=")
    ]
    assert parts and all(len(p) == len("pfx=") + 2 for p in parts)
    after = _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
    assert after == before and before
    # appends after the upgrade land at the new width and stay visible
    DI.append_to_dedup_index(
        spark, new.filter(F.col("doc_id") == 18), d
    )
    assert DI._pfx_len(d) == 2
    again = _rows(DI.dedup_index_lookup(spark, new, d, threshold=THRESHOLD))
    assert set(before) <= set(again)
