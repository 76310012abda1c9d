"""Streaming (P13) behavioral tests + catalog/streaming oracle checks."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.plans.catalog_oracle import QUERIES as CAT_QUERIES
from rds_pgbadger_etl_spark.plans.streaming_oracle import QUERIES as STR_QUERIES
from rds_pgbadger_etl_spark.sources.logcatalog import select_log_files
from rds_pgbadger_etl_spark.streaming.ingest import (
    hourly_counts,
    read_event_stream,
    run_available_now,
)
from tests.oracle import compare

CASES = [
    (name, fn, sql)
    for qs in (CAT_QUERIES, STR_QUERIES)
    for name, (fn, sql) in qs.items()
    if sql
]


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_catalog_streaming_oracle(spark, sf_oracle, name, fn, sql):
    compare(fn(spark, sf_oracle), sql, sf_oracle)


def test_select_log_files_semantics(spark):
    """select_names over the listed names, and select_log_files, its
    adapter over a file-catalog DataFrame, pick the same files: newest
    first, closed hours only, undated names quarantined."""
    from rds_pgbadger_etl_spark.sources.logcatalog import select_names

    names = [
        "x/postgresql.log.2019-04-01-10",
        "x/postgresql.log.2019-04-01-09",
        "x/postgresql.log.2019-03-31-23",  # midnight boundary (O4)
        "x/postgresql.log.2019-04-01-11",  # the open reference hour → excluded
        "x/postgresql.log.2019-04-02-00",  # future → excluded
        "x/garbage",  # unparseable → quarantined
        "x/postgresql.log.2019-13-01-00",  # no month 13 → quarantined
        "x/postgresql.log.2019-04-01-08.gz",  # not a trailing hour → quarantined
    ]
    files = spark.createDataFrame([(n,) for n in names], ["file_name"])
    for ref, k, want in (
        (datetime.datetime(2019, 4, 1, 11, 30), 2,
         ["2019-04-01-10", "2019-04-01-09"]),
        (datetime.datetime(2019, 4, 1, 11, 0), 10,
         ["2019-04-01-10", "2019-04-01-09", "2019-03-31-23"]),
        (datetime.datetime(2019, 4, 1, 11, 0), None,
         ["2019-04-01-10", "2019-04-01-09", "2019-03-31-23"]),
        (datetime.datetime(2019, 3, 31, 23, 0), None, []),
    ):
        picked = select_names(names, ref, k)
        assert [n[-13:] for n in picked] == want
        got = select_log_files(files, ref, k).toArrow().to_pydict()
        assert got["file_name"] == picked
        # file_ts is the name's hour in the session's UTC zone, whatever
        # the process's local zone
        assert got["file_ts"] == [
            datetime.datetime.strptime(n[-13:], "%Y-%m-%d-%H").replace(
                tzinfo=datetime.timezone.utc
            )
            for n in picked
        ]


def test_streaming_hourly_counts_watermark(spark, sf_oracle, tmp_path):
    stream = read_event_stream(spark, sf_oracle)
    agg = hourly_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), "hourly_out")
    got = spark.sql("SELECT * FROM hourly_out")

    from rds_pgbadger_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_oracle, "events")
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(hours=1)

    got_rows = {(r.bucket, r.event_type): r.n_events for r in got.collect()}
    batch_rows = {(r.bucket, r.event_type): r.n_events for r in batch.collect()}
    # append mode + watermark: a window is emitted iff its END is at or
    # before the final watermark (max event time - 1h) — the streaming
    # form of the reference's skip-open-hour filter
    # (rds_pgbadger.py:112-115).
    open_keys = {
        k for k in batch_rows if k[0] + datetime.timedelta(hours=1) > watermark
    }
    assert set(got_rows) == set(batch_rows) - open_keys
    assert all(got_rows[k] == batch_rows[k] for k in got_rows)
    assert open_keys  # the open tail was actually withheld


def test_streaming_resume_is_incremental(spark, sf_oracle, tmp_path):
    from rds_pgbadger_etl_spark.streaming.ingest import run_available_now_to_parquet

    ckpt, out = str(tmp_path / "ckpt2"), str(tmp_path / "out")
    stream = read_event_stream(spark, sf_oracle)
    obs1 = run_available_now_to_parquet(hourly_counts(stream), ckpt, out)
    n1 = spark.read.parquet(out).count()
    # second drain from the same checkpoint: no new files → no new rows
    obs2 = run_available_now_to_parquet(hourly_counts(stream), ckpt, out)
    n2 = spark.read.parquet(out).count()
    assert n1 > 0
    assert n2 == n1
    # the streamed observe counters must agree with the sink truth:
    # first drain observed every written row, the resume observed none
    assert obs1 == n1
    assert obs2 == 0


def test_stateful_running_totals_matches_batch(spark, sf_oracle, tmp_path):
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.ingest import running_user_totals

    stream = read_event_stream(spark, sf_oracle)
    run_available_now(
        running_user_totals(stream), str(tmp_path / "ckpt"), "running_out",
        output_mode="update",
    )
    # update-mode memory sink: keep each user's LAST emitted row
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.max_value)
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
                 FROM running_out) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 6), r.mx)
        for r in load_table(spark, sf_oracle, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-4
        assert got[u][2] == want[u][2]


def test_incremental_dedup_flags_across_batches(spark, tmp_path):
    from rds_pgbadger_etl_spark.streaming.incremental_dedup import (
        run_incremental_dedup,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    flags = str(tmp_path / "flags")
    base = "the quick brown fox jumps over the lazy dog " * 8

    def stream():
        return spark.readStream.schema("doc_id long, text string").parquet(src)

    # batch 1: two distinct docs — nothing to duplicate yet
    spark.createDataFrame(
        [(1, base), (2, "completely different content here " * 10)],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    run_incremental_dedup(stream(), store, ckpt, flags)
    got1 = spark.read.parquet(flags)
    assert got1.filter("doc_id IS NOT NULL").count() == 0

    # batch 2: doc 3 near-duplicates doc 1 (from the PREVIOUS batch),
    # doc 4 is novel, doc 5 near-duplicates doc 4 WITHIN the batch —
    # only the cross-batch dup must be flagged: an intra-batch pair
    # appearing means the flags recomputed against the store AFTER the
    # batch was appended (the lineage hazard localCheckpoint closes)
    novel = "yet another novel document " * 10
    spark.createDataFrame(
        [(3, base + "tail"), (4, novel), (5, novel + "tail")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    run_incremental_dedup(stream(), store, ckpt, flags)
    rows = spark.read.parquet(flags).filter("doc_id IS NOT NULL").collect()
    assert {(r.doc_id, r.dup_of) for r in rows} == {(3, 1)}
    assert all(r.jaccard > 0.5 for r in rows)

    # the stream built a REAL signature store: the shared maintenance
    # verbs service it (one store layout for batch + streaming — r7
    # verdict item 3)
    from rds_pgbadger_etl_spark.operators.dedup_index import (
        dedup_index_lookup,
        dedup_index_stats,
    )

    st = {r.table: r for r in dedup_index_stats(spark, store).collect()}
    assert set(st) == {"bands", "profiles"}
    assert st["profiles"].rows == 5  # every accepted doc, both batches
    # and a BATCH lookup against the stream-built store agrees
    probe = spark.createDataFrame(
        [(99, base + " probe")], "doc_id long, text string"
    )
    got = dedup_index_lookup(spark, probe, store).collect()
    assert {(r.old_id, r.new_id) for r in got} >= {(1, 99), (3, 99)}


def test_incremental_dedup_mid_stream_compaction_identical(spark, tmp_path):
    """Compacting the signature store BETWEEN micro-batches must not
    change a single flag: lookups resolve table paths through the
    generation manifest, so the stream continues on the compacted
    generation transparently (r7 verdict item 3's done-criterion)."""
    from rds_pgbadger_etl_spark.operators.dedup_index import (
        compact_dedup_index,
    )
    from rds_pgbadger_etl_spark.streaming.incremental_dedup import (
        run_incremental_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    batches = [
        [(1, base), (2, "completely different content here " * 10)],
        [(3, base + " tail"), (4, "yet another novel document " * 10)],
        [(5, base + " other tail"), (6, "totally unrelated prose " * 10)],
    ]

    def run(root, compact_after=None):
        src = str(root / "src")
        store = str(root / "store")
        ckpt = str(root / "ckpt")
        flags = str(root / "flags")

        def stream():
            return spark.readStream.schema(
                "doc_id long, text string"
            ).parquet(src)

        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).write.mode("append").parquet(src)
            run_incremental_dedup(stream(), store, ckpt, flags)
            if compact_after == i:
                stats = compact_dedup_index(spark, store)
                # compaction actually restored one file-set/partition
                assert (
                    stats["bands"]["files_after"]
                    <= stats["bands"]["files_before"]
                )
        return store, {
            (r.doc_id, r.dup_of, round(r.jaccard, 9))
            for r in spark.read.parquet(flags)
            .filter("doc_id IS NOT NULL")
            .collect()
        }

    _, plain = run(tmp_path / "plain")
    _, compacted = run(tmp_path / "compacted", compact_after=1)
    assert plain == compacted  # bit-identical flags either way
    assert {(d, o) for d, o, _ in plain} >= {(3, 1), (5, 1)}


@pytest.mark.parametrize("n_groups", [1, 4])
def test_incremental_ann_stream_matches_batch_lifecycle(spark, tmp_path, n_groups):
    """Streamed ANN ingestion (bootstrap-build + flag + append per
    micro-batch), bootstrapped as one group of N_CENTROIDS cells or as
    N_GROUPS_2L groups, must (1) emit exactly the flags the batch verbs
    produce when interleaved the same way, (2) leave behind the same
    artifact — BOTH search arms (IVF-Flat and PQ/ADC) over the
    stream-built index equal the batch-built twin (build_ann_index for
    one group) — and (3) resume idempotently: a re-drain from the same
    checkpoint with no new files appends nothing."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.operators import similarity as S
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
        run_incremental_ann,
    )

    assert n_groups in (1, AI.N_GROUPS_2L)
    shape = {
        "n_groups": n_groups,
        "n_cells": S.N_CENTROIDS if n_groups == 1 else AI.N_CELLS_2L,
    }
    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    slices = [
        emb.filter(
            (F.col("vec_id") >= b * n // 3)
            & (F.col("vec_id") < (b + 1) * n // 3)
        )
        for b in range(3)
    ]

    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )

    def drain():
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, k=3, **shape,
        )

    for s in slices:
        s.write.mode("append").parquet(src)
        drain()

    twin = str(tmp_path / "twin")
    if n_groups == 1:
        AI.build_ann_index(spark, slices[0], twin)
    else:
        AI.build_ann_index_2level(spark, slices[0], twin)
    want = []
    for s in slices[1:]:
        f = flag_against_index(spark, s, twin, k=3)
        want.append(f)
        AI.append_to_ann_index(spark, s, twin)
    cols = ["vec_id", "neighbor_id", "cosine", "rank"]
    want_rows = sorted(
        str(r) for df in want for r in df.select(*cols).collect()
    )
    got_rows = sorted(
        str(r)
        for r in spark.read.parquet(flags)
        .filter("vec_id IS NOT NULL")
        .select(*cols)
        .collect()
    )
    assert got_rows == want_rows
    assert len(got_rows) == 3 * (n - n // 3)  # top-3 per later-batch vector

    q = _query_vectors(spark, sf)
    for reader in (AI.ann_index_ivf_topk, AI.ann_index_ivfpq_topk):
        a = sorted(map(str, reader(spark, store, q, 5).collect()))
        b = sorted(map(str, reader(spark, twin, q, 5).collect()))
        assert a == b and a, reader.__name__

    # resume: same checkpoint, no new source files → nothing flagged,
    # nothing appended (exactly-once per batch)
    rows_before = spark.read.parquet(flags).count()
    store_rows = spark.read.parquet(M.table_path(store, "raw")).count()
    drain()
    assert spark.read.parquet(flags).count() == rows_before
    assert (
        spark.read.parquet(M.table_path(store, "raw")).count() == store_rows
    )


def test_user_state_profiles_apis_agree_with_batch(spark, tmp_path):
    """The stateful per-user profile must equal a batch group-by, on
    whichever state API the environment supports (and on BOTH when the
    optional protobuf dep for transformWithStateInPandas is present —
    the two implementations share one fold, so they can only diverge if
    the API contract itself does)."""
    import uuid

    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.ingest import (
        _tws_available,
        read_event_stream,
        run_available_now,
        user_state_profiles,
    )

    sf = "/root/testdata/sf0.001"
    expected = {
        r.user_id: (r.n_events, r.n_error, r.span_us)
        for r in load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_error"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "span_us"
            ),
        )
        .collect()
    }
    apis = ["apiws"] + (["tws"] if _tws_available() else [])
    for api in apis:
        name = f"profiles_{api}_{uuid.uuid4().hex[:6]}"
        run_available_now(
            user_state_profiles(read_event_stream(spark, sf), api=api),
            str(tmp_path / f"ckpt_{api}"),
            name,
            output_mode="update",
            state_partitions=4,
        )
        got = {
            r.user_id: (r.n_events, r.n_error, r.span_us)
            for r in spark.sql(
                f"""SELECT user_id, n_events, n_error, span_us FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY user_id ORDER BY n_events DESC) AS rn
                      FROM {name}) WHERE rn = 1"""
            ).collect()
        }
        assert got == expected, api


def test_tws_processor_contract_with_stub_handle(spark):
    """Drive the REAL transformWithStateInPandas StatefulProcessor
    (make_profile_processor) through its handle contract with a stub
    ValueState — protobuf, required only by the live state server, is
    absent in this env, and the charter forbids installing it. Across
    three triggers with out-of-order batches the processor's emissions
    and final state must be identical to the applyInPandasWithState
    fold (whose Spark plumbing IS live-tested), and its final answer
    must match the closed-form batch profile."""
    import pandas as pd

    from rds_pgbadger_etl_spark.streaming.ingest import (
        _fold_profile,
        make_profile_processor,
    )

    class StubValueState:
        def __init__(self):
            self.value = None

        def get(self):
            return self.value

        def update(self, v):
            self.value = tuple(v)

    class StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttlDurationMs=None):
            assert name == "profile"
            assert "n BIGINT" in schema
            return self.states.setdefault(name, StubValueState())

    proc = make_profile_processor()
    handle = StubHandle()
    proc.init(handle)

    key = (42,)
    triggers = [
        [pd.DataFrame({"event_type": ["view", "error"], "ts_us": [2_000_000, 1_000_000]})],
        [pd.DataFrame({"event_type": [], "ts_us": []}),
         pd.DataFrame({"event_type": ["purchase"], "ts_us": [5_000_000]})],
        [pd.DataFrame({"event_type": ["error"], "ts_us": [500_000]})],
    ]

    emissions = []
    for batches in triggers:
        out = list(proc.handleInputRows(key, iter(batches), None))
        assert len(out) == 1
        emissions.append(out[0].iloc[0].to_dict())
    proc.close()

    # same fold applied cumulatively == what apiws emits per trigger
    state = (0, 0, None, None)
    for batches, em in zip(triggers, emissions):
        state = _fold_profile(state, iter(batches))
        n, nerr, lo, hi = state
        assert em == {"user_id": 42, "n_events": n, "n_error": nerr,
                      "span_us": hi - lo}

    assert handle.states["profile"].value == (4, 2, 500_000, 5_000_000)
    assert emissions[-1] == {"user_id": 42, "n_events": 4, "n_error": 2,
                             "span_us": 4_500_000}


def test_incremental_curation_funnel_semantics(spark, tmp_path):
    """Planted-doc semantics for the incremental funnel: a later batch's
    exact copy dies at stage 2 (hash store), a near-dup of an earlier
    batch dies at stage 3 (signature store), a doc embedding a benchmark
    8-gram dies at stage 4, and an IN-batch near-dup pair survives stage
    3 (the documented batch-granularity divergence — the store is probed
    before the batch is appended)."""
    from rds_pgbadger_etl_spark.operators import curation as CO
    from rds_pgbadger_etl_spark.streaming.incremental_curation import (
        run_incremental_curation,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    exact = str(tmp_path / "exact")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    good = "the quick brown fox jumps over a lazy dog of doom " * 5
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bench_grams = CO.word_ngram_grams(
        spark.createDataFrame(
            [(1, bench_text)], "doc_id long, text string"
        ),
        CO.DECON_NGRAM_N,
    ).select("gram")

    def stream():
        return spark.readStream.schema(
            "doc_id long, text string, lang string"
        ).parquet(src)

    def run():
        run_incremental_curation(
            stream(), store, exact, ckpt, out, bench_grams, 25
        )

    # batch 0: one good doc, one non-en twin
    spark.createDataFrame(
        [(30, good, "en"), (31, good + "x", "xx")],
        "doc_id long, text string, lang string",
    ).write.mode("append").parquet(src)
    run()

    # batch 1: exact copy of 30, near-dup of 30, novel, contaminated,
    # and an in-batch near-dup pair
    novel2 = "a fresh take on the business of writing tests " * 5
    spark.createDataFrame(
        [
            (40, good, "en"),
            (41, good + "tail", "en"),
            (42, "the first of a kind document about nothing at all " * 5,
             "en"),
            (43, "the second of a kind document with an appended gram "
             * 5 + " ".join(bench_text.split()[:8]), "en"),
            (44, novel2, "en"),
            (45, novel2 + "tail", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.mode("append").parquet(src)
    run()

    # batch 2: near-dups of docs accepted in batch 1 (NOT batch 0) —
    # the regression pin for the recacheByPath lineage bug: appending
    # the exact store invalidated every cached plan reading it, the
    # append inputs re-evaluated to empty, and batches >= 1 never
    # appended to the near-dup store, so exactly this case (dup of a
    # batch-1 original) went unflagged. Also an exact copy of a
    # batch-1 doc (hash store must have batch 1's hashes too).
    spark.createDataFrame(
        [
            (50, novel2 + "coda", "en"),  # near-dup of 44 (batch 1)
            (51, novel2, "en"),  # exact copy of 44 (batch 1)
            (52, "completely unrelated prose of the third wave " * 5,
             "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.mode("append").parquet(src)
    run()

    rows = {
        (r.batch_id, r.stage): (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(out).collect()
    }
    assert rows[(0, "0_raw")][0] == 2
    assert rows[(0, "1_lang_quality")][0] == 1  # the xx doc dies
    assert rows[(0, "4_decontaminated")][0] == 1
    assert rows[(1, "0_raw")][0] == 6
    assert rows[(1, "1_lang_quality")][0] == 6
    assert rows[(1, "2_exact_dedup")][0] == 5  # exact copy of 30 dies
    assert rows[(1, "3_near_dedup")][0] == 4  # near-dup of 30 dies;
    # the in-batch pair (44, 45) both survive — store probed pre-append
    assert rows[(1, "4_decontaminated")][0] == 3  # planted gram dies
    assert rows[(2, "0_raw")][0] == 3
    assert rows[(2, "2_exact_dedup")][0] == 2  # exact copy of 44 dies
    assert rows[(2, "3_near_dedup")][0] == 1  # near-dup of 44 dies
    assert rows[(2, "4_decontaminated")][0] == 1


def test_exact_store_compaction_preserves_lookups(spark, tmp_path):
    """The curation exact-hash store: N batch appends leave N file-sets
    per hot prefix; compact_exact_store collapses them behind the
    atomic manifest flip with lookup results identical, and the store
    keeps accepting appends afterwards (the new generation is the
    manifest-resolved write target)."""
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.streaming.incremental_curation import (
        _exact_store_append,
        _exact_store_lookup,
        compact_exact_store,
        exact_store_stats,
    )

    d = str(tmp_path / "exact")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, h string")
    h = lambda i: f"{i:032x}"
    _exact_store_append(mk([(i, h(i)) for i in range(40)]).select("h"), d)
    _exact_store_append(
        mk([(i, h(i)) for i in range(40, 80)]).select("h"), d
    )
    _exact_store_append(
        mk([(i, h(i)) for i in range(80, 120)]).select("h"), d
    )
    probe = mk([(200 + i, h(i)) for i in range(0, 120, 7)] + [(999, h(5000))])
    before = sorted(
        r.doc_id for r in _exact_store_lookup(probe, d).collect()
    )
    st = {r.table: r for r in exact_store_stats(spark, d).collect()}
    assert st["hashes"].max_part_files >= 3  # one file-set per append

    stats = compact_exact_store(spark, d)
    assert stats["hashes"]["files_after"] < stats["hashes"]["files_before"]
    assert M.table_path(d, "hashes").endswith("__g1")  # manifest flipped
    after = sorted(r.doc_id for r in _exact_store_lookup(probe, d).collect())
    assert after == before and before  # lookups bit-identical

    # the store keeps working after the flip: appends land in the new
    # generation and are immediately visible to lookups
    _exact_store_append(mk([(0, h(5000))]).select("h"), d)
    post = sorted(r.doc_id for r in _exact_store_lookup(probe, d).collect())
    assert post == sorted(before + [999])


def test_exact_store_legacy_root_layout_migrates(spark, tmp_path):
    """A store written before the hashes/ table move (pfx=* partitions
    at the exact_dir ROOT) is detected and migrated in place: lookups
    see every legacy hash instead of silently reading an empty store,
    and subsequent appends land in the migrated table."""
    from pyspark.sql import functions as F

    from rds_pgbadger_etl_spark.streaming.incremental_curation import (
        _exact_store_append,
        _exact_store_lookup,
    )

    d = str(tmp_path / "exact_legacy")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, h string")
    h = lambda i: f"{i:032x}"
    # the legacy writer: pfx-partitioned parquet at the dir root
    (
        mk([(i, h(i)) for i in range(30)])
        .select("h", F.substring("h", 1, 2).alias("pfx"))
        .write.partitionBy("pfx")
        .parquet(d)
    )
    probe = mk([(100 + i, h(i)) for i in range(0, 30, 3)] + [(999, h(7777))])
    found = sorted(r.doc_id for r in _exact_store_lookup(probe, d).collect())
    assert found == sorted(100 + i for i in range(0, 30, 3))
    import os

    assert os.path.isdir(os.path.join(d, "hashes"))
    assert not [p for p in os.listdir(d) if p.startswith("pfx=")]
    # post-migration appends extend the same table
    _exact_store_append(mk([(0, h(7777))]).select("h"), d)
    post = sorted(r.doc_id for r in _exact_store_lookup(probe, d).collect())
    assert post == sorted(found + [999])


def test_incremental_ann_2level_residual_stream(spark, tmp_path):
    """Streaming ingestion with the RESIDUAL two-level store: the first
    batch bootstraps build_ann_index_2level(residual=True) with
    N_GROUPS_2L groups; later
    batches append, dispatching the residual encoder off the STORED
    manifest flag. The stream-built artifact's PQ/ADC arm (the arm the
    encoding changes) must equal the one-shot residual build over the
    union corpus, and codes must be genuinely residual (differ from a
    raw-encoded twin)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        run_incremental_ann,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )
    for b in range(3):
        (
            emb.filter(
                (F.col("vec_id") >= b * n // 3)
                & (F.col("vec_id") < (b + 1) * n // 3)
            )
            .write.mode("append")
            .parquet(src)
        )
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, k=3, residual=True,
            n_groups=AI.N_GROUPS_2L, n_cells=AI.N_CELLS_2L,
        )
    assert M.read_meta(store, AI._RESIDUAL_KEY) is True

    twin = str(tmp_path / "twin_res")
    AI.build_ann_index_2level(spark, emb, twin, residual=True)
    q = _query_vectors(spark, sf)
    got = sorted(
        map(str, AI.ann_index_ivfpq_topk(spark, store, q, 5).collect())
    )
    want = sorted(
        map(str, AI.ann_index_ivfpq_topk(spark, twin, q, 5).collect())
    )
    assert got == want and got

    raw_twin = str(tmp_path / "twin_raw")
    AI.build_ann_index_2level(spark, emb, raw_twin)
    raw = sorted(
        map(
            str,
            AI.ann_index_ivfpq_topk(spark, raw_twin, q, 5).collect(),
        )
    )
    assert raw != want  # the stream really stored residual codes


def test_incremental_ann_sq8_bootstrap_stream(spark, tmp_path):
    """Streaming ingestion with the SQ8 arm: the first batch bootstraps
    build + add_sq8 (grid trained on batch 0, immutable afterwards);
    later batches append, maintaining the arm off the stored manifest
    flag. The stream-built SQ8 search with a covering shortlist must
    equal the IVF-Flat reader over the grown store (exactness holds for
    ANY grid because codes are unclipped), and the appended rows'
    stored codes must match a driver re-encode against the STORED
    (batch-0) grid — not a grid retrained on the union."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        run_incremental_ann,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )
    for b in range(3):
        (
            emb.filter(
                (F.col("vec_id") >= b * n // 3)
                & (F.col("vec_id") < (b + 1) * n // 3)
            )
            .write.mode("append")
            .parquet(src)
        )
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, k=3, sq8=True,
        )
    assert M.read_meta(store, AI._SQ8_KEY) is True

    q = _query_vectors(spark, sf)
    got = sorted(
        map(str, AI.ann_index_sq8_topk(spark, store, q, 5, 10**9).collect())
    )
    flat = sorted(map(str, AI.ann_index_ivf_topk(spark, store, q, 5).collect()))
    assert got == flat and got

    # appended (batch 2) rows carry BATCH-0-grid codes
    vmin, scale = AI._grid(store, AI._SQ8)
    probe_ids = [int(2 * n // 3), int(2 * n // 3) + 1]
    want = {
        int(r.vec_id): [
            int(c) for c in AI._sq8_codes((vmin, scale), r.embedding)
        ]
        for r in emb.filter(F.col("vec_id").isin(probe_ids)).collect()
    }
    stored = {
        int(r.vec_id): list(r.codes)
        for r in spark.read.parquet(M.table_path(store, "sq8"))
        .filter(F.col("vec_id").isin(probe_ids))
        .collect()
    }
    assert stored == want
    # and the stored grid is batch 0's, not the union corpus's
    b0 = emb.filter(F.col("vec_id") < n // 3)
    lo = [
        r.vmin
        for r in sorted(
            spark.read.parquet(M.table_path(store, "sq_stats")).collect(),
            key=lambda r: r.dim,
        )
    ]
    import numpy as np

    b0_lo = np.array(b0.select("embedding").toPandas()["embedding"].tolist())
    assert lo == [float(x) for x in b0_lo.astype("float64").min(axis=0)]


def test_stream_resume_with_sq8_derives_missing_arm(spark, tmp_path):
    """Resuming a stream with sq8=True over a store that was
    bootstrapped WITHOUT the arm must derive it once (idempotent)
    instead of silently ignoring the flag — the requested arm is
    present and searchable after the resumed batch."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        run_incremental_ann,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )
    emb.filter(F.col("vec_id") < n // 2).write.mode("append").parquet(src)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src),
        store, ckpt, flags, k=3,  # no sq8 at bootstrap
    )
    assert M.read_meta(store, AI._SQ8_KEY, False) is False
    # the streaming bootstrap must NOT inherit the batch builds'
    # residual="auto" (one micro-batch is unrepresentative): explicit
    # raw unless the caller opts in
    assert M.read_meta(store, AI._RESIDUAL_KEY) is False
    assert (
        M.read_meta(store, AI._RESIDUAL_MODE_KEY)["mode"] == "explicit"
    )
    emb.filter(F.col("vec_id") >= n // 2).write.mode("append").parquet(src)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src),
        store, ckpt, flags, k=3, sq8=True,  # resume requests the arm
    )
    assert M.read_meta(store, AI._SQ8_KEY) is True
    q = _query_vectors(spark, sf)
    got = sorted(
        map(str, AI.ann_index_sq8_topk(spark, store, q, 5, 10**9).collect())
    )
    flat = sorted(
        map(str, AI.ann_index_ivf_topk(spark, store, q, 5).collect())
    )
    assert got == flat and got


def test_incremental_ann_sq8_prefix_stream(spark, tmp_path):
    """Streaming ingestion with BOTH derived arms requested: batch 0
    bootstraps build + SQ8 + the prefix-codes table; later batches
    append full and sliced codes per micro-batch off the manifest
    keys. The streamed store's truncated search must be bit-identical
    to a batch-built twin WITHOUT the prefix arm over the same corpus
    and quantizers (scan-side arm, invisible in results), the prefix
    table must track the store row-for-row, and a resume over a store
    lacking the arm derives it once instead of dropping the request."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.operators import similarity as S
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        run_incremental_ann,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )
    import os

    os.makedirs(src)  # readStream needs the source dir to exist
    with pytest.raises(ValueError, match="sq8"):
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, sq8=False, sq8_prefix_dims=16,
        )
    for b in range(2):
        (
            emb.filter(
                (F.col("vec_id") >= b * n // 2)
                & (F.col("vec_id") < (b + 1) * n // 2)
            )
            .write.mode("append")
            .parquet(src)
        )
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, k=3, sq8=True, sq8_prefix_dims=16,
        )
    assert M.read_meta(store, AI._SQ8_PREFIX_DIMS_KEY) == 16
    assert (
        spark.read.parquet(M.table_path(store, "sq8_prefix")).count() == n
    )
    # twin: batch store over batch 0 + append, SQ8 only (slice path) —
    # same quantizers by construction (both trained on batch 0)
    twin = str(tmp_path / "twin")
    AI.build_ann_index(
        spark, emb.filter(F.col("vec_id") < n // 2), twin,
        n_centroids=S.N_CENTROIDS,
    )
    AI.add_sq8_to_ann_index(spark, twin)
    AI.append_to_ann_index(spark, emb.filter(F.col("vec_id") >= n // 2), twin)
    q = _query_vectors(spark, sf)
    got = sorted(map(str, AI.ann_index_sq8_topk(
        spark, store, q, 5, dims=16).collect()))
    want = sorted(map(str, AI.ann_index_sq8_topk(
        spark, twin, q, 5, dims=16).collect()))
    assert got == want and got

    # resume-derive: a store bootstrapped with sq8 only gains the arm
    # on the next processed batch when the resume requests it
    src2, store2, ckpt2, flags2 = (
        str(tmp_path / d) for d in ("src2", "store2", "ckpt2", "flags2")
    )
    emb.filter(F.col("vec_id") < n // 2).write.mode("append").parquet(src2)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src2),
        store2, ckpt2, flags2, k=3, sq8=True,
    )
    assert M.read_meta(store2, AI._SQ8_PREFIX_DIMS_KEY) is None
    emb.filter(F.col("vec_id") >= n // 2).write.mode("append").parquet(src2)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src2),
        store2, ckpt2, flags2, k=3, sq8=True, sq8_prefix_dims=16,
    )
    assert M.read_meta(store2, AI._SQ8_PREFIX_DIMS_KEY) == 16
    assert (
        spark.read.parquet(M.table_path(store2, "sq8_prefix")).count() == n
    )


def test_incremental_ann_binary_stream_and_resume_derive(spark, tmp_path):
    """Streaming ingestion with the binary arm: batch 0 bootstraps
    build + add_binary (midrange thresholds trained on batch 0,
    immutable afterwards); later batches append words encoded against
    the STORED thresholds, and the stream-built Hamming search with a
    covering shortlist equals IVF-Flat over the grown store. A resume
    that requests the arm over a store bootstrapped without it derives
    it once (same no-silent-drop contract as sq8)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI
    from rds_pgbadger_etl_spark.operators import index_maintenance as M
    from rds_pgbadger_etl_spark.plans.llm_ops import _query_vectors
    from rds_pgbadger_etl_spark.sources.tables import load_table
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        run_incremental_ann,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    src, store, ckpt, flags = (
        str(tmp_path / d) for d in ("src", "store", "ckpt", "flags")
    )
    for b in range(2):
        (
            emb.filter(
                (F.col("vec_id") >= b * n // 2)
                & (F.col("vec_id") < (b + 1) * n // 2)
            )
            .write.mode("append")
            .parquet(src)
        )
        run_incremental_ann(
            spark.readStream.schema(emb.schema).parquet(src),
            store, ckpt, flags, k=3, binary=True,
        )
    assert M.read_meta(store, AI._BINARY_KEY) is True
    q = _query_vectors(spark, sf)
    got = sorted(
        map(
            str,
            AI.ann_index_binary_topk(spark, store, q, 5, 10**9).collect(),
        )
    )
    flat = sorted(
        map(str, AI.ann_index_ivf_topk(spark, store, q, 5).collect())
    )
    assert got == flat and got
    # appended (batch 1) rows carry BATCH-0-threshold words, and the
    # stored thresholds are batch 0's midrange — not the union's
    import numpy as np

    thresh = AI._grid(store, AI._BINARY)[0]
    b0 = np.array(
        emb.filter(F.col("vec_id") < n // 2)
        .select("embedding")
        .toPandas()["embedding"]
        .tolist()
    ).astype("float64")
    assert np.array_equal(
        thresh, (b0.min(axis=0) + b0.max(axis=0)) / 2.0
    )
    probe_ids = [int(n // 2), int(n // 2) + 1]
    want = {
        int(r.vec_id): AI._encode(store, AI._BINARY, r.embedding)[0].tolist()
        for r in emb.filter(F.col("vec_id").isin(probe_ids)).collect()
    }
    stored = {
        int(r.vec_id): list(r.words)
        for r in spark.read.parquet(M.table_path(store, "binary"))
        .filter(F.col("vec_id").isin(probe_ids))
        .collect()
    }
    assert stored == want
    # counters held exact across the streamed appends
    assert AI._drift_numbers(spark, store, AI._BINARY) == (
        AI._drift_numbers(spark, store, AI._BINARY, exact=True)
    )

    # resume-derive: a store bootstrapped WITHOUT the arm gains it on
    # the first resumed batch that requests it
    src2, store2, ckpt2, flags2 = (
        str(tmp_path / d) for d in ("src2", "store2", "ckpt2", "flags2")
    )
    emb.filter(F.col("vec_id") < n // 2).write.mode("append").parquet(src2)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src2),
        store2, ckpt2, flags2, k=3,
    )
    assert M.read_meta(store2, AI._BINARY_KEY, False) is False
    emb.filter(F.col("vec_id") >= n // 2).write.mode("append").parquet(src2)
    run_incremental_ann(
        spark.readStream.schema(emb.schema).parquet(src2),
        store2, ckpt2, flags2, k=3, binary=True,
    )
    assert M.read_meta(store2, AI._BINARY_KEY) is True
    got2 = sorted(
        map(
            str,
            AI.ann_index_binary_topk(spark, store2, q, 5, 10**9).collect(),
        )
    )
    assert got2 == sorted(
        map(str, AI.ann_index_ivf_topk(spark, store2, q, 5).collect())
    )
