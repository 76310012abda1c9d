"""LLM-data-pipeline queries (SURVEY X1–X5) with DuckDB oracles.

Each query wraps the operators in ``operators/{dedup,text,similarity,
multimodal}.py`` over the ``documents``/``embeddings`` tables. Oracle SQL
is *generated from the same constants* (seeds, shingle size, hyperplane
signs, marker lists) so engine and oracle can only drift if semantics
drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rds_pgbadger_etl_spark.operators import dedup as D
from rds_pgbadger_etl_spark.operators import multimodal as M
from rds_pgbadger_etl_spark.operators import similarity as S
from rds_pgbadger_etl_spark.operators import text as X
from rds_pgbadger_etl_spark.functions.scalar import hex_hash64
from rds_pgbadger_etl_spark.plans.curation import _BENCH_MAX_ID, _DECON_CTES
from rds_pgbadger_etl_spark.sources.tables import load_table, rebalance

# ---------------------------------------------------------------------------
# X1: exact dedup — per-lang distinct-content counts.


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


_DEDUP_EXACT_SQL = """
SELECT lang, count(*) AS n_docs,
       cast(count(DISTINCT md5(text)) AS bigint) AS n_unique
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# X2: MinHash signatures (shared SQL fragments generated from constants).

_SH_SQL = f"""
  SELECT doc_id, substr(substr(text, 1, {D.TEXT_CAP}), i, {D.SHINGLE_K}) AS shingle
  FROM documents,
       unnest(generate_series(
         1, greatest(length(substr(text, 1, {D.TEXT_CAP})) - {D.SHINGLE_K - 1}, 1)
       )) AS t(i)
"""

_SIG_COLS_SQL = ",\n       ".join(
    f"min(cast('0x' || substr(md5(shingle), {1 + 8 * i}, 8) AS bigint))"
    f" AS sig{i + 1}"
    for i in range(D.N_MINHASH)
)


def dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(D.char_shingles(docs))


_DEDUP_MINHASH_SIGS_SQL = f"""
WITH sh AS ({_SH_SQL})
SELECT doc_id, {_SIG_COLS_SQL}
FROM sh GROUP BY doc_id
"""


def _near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs at threshold 0.5, materialized once per
    process: three queries consume them (pairs, clusters, the composite
    pretraining filter) — at 100 TB this is the written pair table every
    dedup consumer reads, not a recomputation per report."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "near_dup_pairs_0.5",
        sf_dir,
        lambda: D.near_dup_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.5
        ),
    )


def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_pairs(spark, sf_dir)


# CTE chain + final select split out so dedup_clusters can extend the
# same pipeline with a recursive-CTE transitive closure.
_NEAR_PAIRS_CTES = f"""sh0 AS ({_SH_SQL}),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh0 GROUP BY doc_id),
bands AS (
  SELECT DISTINCT doc_id, band FROM (
    SELECT doc_id,
           unnest([md5(cast(sig1 AS varchar) || ':' || cast(sig2 AS varchar)),
                   md5(cast(sig3 AS varchar) || ':' || cast(sig4 AS varchar))])
             AS band
    FROM sigs)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
),
s AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
)"""

_NEAR_PAIRS_FINAL = """SELECT i.a, i.b,
       cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
WHERE cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) >= 0.5"""

_DEDUP_NEAR_PAIRS_SQL = f"""
WITH {_NEAR_PAIRS_CTES}
{_NEAR_PAIRS_FINAL}
"""


def dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-selection curve for the near-dup family: the exact
    Jaccard of EVERY LSH candidate pair binned at 0.05 — the histogram
    an operator reads before picking the dedup threshold (where does
    the duplicate mass sit vs the LSH-collision noise floor). Same
    banded candidate generation as dedup_near_pairs (pairs ∝ duplicate
    volume, never corpus²); the verify runs unfiltered, which is what
    the curve is for. Own shared staging (threshold 0.0) so the 0.5
    staging every other dedup consumer reuses keeps its semantics."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    pairs = shared_df(
        spark,
        "near_dup_pairs_0.0",
        sf_dir,
        lambda: D.near_dup_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.0
        ),
    )
    return (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 20), F.lit(19))
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_DEDUP_JHIST_SQL = f"""
WITH {_NEAR_PAIRS_CTES},
jac AS (
  SELECT cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) AS j
  FROM inter i
  JOIN sizes na ON na.doc_id = i.a
  JOIN sizes nb ON nb.doc_id = i.b
)
SELECT cast(least(floor(j * 20), 19) AS int) AS bin,
       count(*) AS n_pairs
FROM jac GROUP BY 1
"""


# ---------------------------------------------------------------------------
# X2 end-state: near-dup pairs → connected components → per-document
# cluster assignment. Spark side is the iterative min-label propagation
# (operators/dedup.py connected_components); the oracle expresses the
# same fixpoint as a recursive-CTE transitive closure — feasible for the
# oracle's scale, while the Spark plan is the one that survives 100 TB.
def _cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component, is_canonical) cluster map at threshold 0.5,
    materialized once per process like :func:`_near_pairs`: the
    iterative connected-components driver loop (localCheckpoint +
    convergence collect per round) is the single most action-heavy
    intermediate in the dedup family, and both its consumers
    (dedup_clusters, canonical_sample) need the identical table — at
    100 TB this is the written cluster map every curation consumer
    reads, not a per-report re-iteration."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "dedup_cluster_assignments_0.5",
        sf_dir,
        lambda: D.dedup_cluster_assignments(
            load_table(spark, sf_dir, "documents"),
            threshold=0.5,
            pairs=_near_pairs(spark, sf_dir),
        ),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_assignments(spark, sf_dir)


_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_NEAR_PAIRS_CTES},
pairs AS ({_NEAR_PAIRS_FINAL}),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b, a FROM pairs),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, min(dst) AS min_reach FROM reach GROUP BY src)
SELECT d.doc_id,
       coalesce(least(c.doc_id, c.min_reach), d.doc_id) AS component,
       CAST(coalesce(least(c.doc_id, c.min_reach), d.doc_id) = d.doc_id
            AS INTEGER) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-n-gram Jaccard pairs, materialized once per (session,
    sf_dir) like _near_pairs — the r4 in-bench 2.6× drift was this
    query rebuilding (and re-persisting) its own MinHash staging on
    every evaluation; at 100 TB this is the written pair table every
    consumer reads, not a per-report recomputation."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "ngram_jaccard_pairs_0.4",
        sf_dir,
        lambda: D.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.4
        ),
    )


# DuckDB list slices are 1-based and inclusive: ws[i:i+n-1] ==
# Spark slice(ws, i, n); both clamp past the end.
_NGRAM_SH_SQL = f"""
  SELECT doc_id, array_to_string(ws[i:i + {D.WORD_NGRAM_N - 1}], ' ') AS shingle
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '')[1:{D.WORD_CAP}]
                 AS ws
        FROM documents),
       unnest(generate_series(
         1, greatest(len(ws) - {D.WORD_NGRAM_N - 1}, 1)
       )) AS t(i)
"""

_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh0 AS ({_NGRAM_SH_SQL}),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh0 GROUP BY doc_id),
bands AS (
  SELECT DISTINCT doc_id, band FROM (
    SELECT doc_id,
           unnest([md5(cast(sig1 AS varchar) || ':' || cast(sig2 AS varchar)),
                   md5(cast(sig3 AS varchar) || ':' || cast(sig4 AS varchar))])
             AS band
    FROM sigs)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
),
s AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
)
SELECT i.a, i.b,
       cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
WHERE cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) >= 0.4
"""


# ---------------------------------------------------------------------------
# X2: SimHash fingerprints.


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs)


_H_SQL = "cast('0x' || substr(md5('simhash:' || w), 1, 15) AS bigint)"
_SIMHASH_SUMS = ",\n       ".join(
    f"sum((({_H_SQL} >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(D.SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(D.SIMHASH_BITS)
)

_DEDUP_SIMHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM words GROUP BY doc_id)
SELECT doc_id, cast({_SIMHASH_FP} AS bigint) AS simhash FROM sums
"""


# ---------------------------------------------------------------------------
# X4: text stats / quality / language-ID / token counting / fingerprints.


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn("toks", X.n_tokens("text"))
        .withColumn("punct", X.punct_count("text"))
        .withColumn("quality", X.quality_score("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("sum_tokens"),
            F.sum("punct").alias("sum_punct"),
            (
                F.sum(F.col("quality").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_quality"),
        )
    )


_TOKS_SQL = "(length(text) - length(replace(text, ' ', '')) + 1)"
_PUNCT_SQL = r"(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"


def _occ_sql(hay: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (
        f"cast((length({hay}) - length(replace({hay}, '{n}', ''))) / {len(needle)}"
        " AS bigint)"
    )


_QUALITY_SQL = f"""(
  (CASE WHEN {_TOKS_SQL} BETWEEN 20 AND 1000 THEN cast(0.4 AS double) ELSE cast(0 AS double) END)
  + (CASE WHEN cast({_occ_sql('text', ' the ')} + {_occ_sql('text', ' a ')} + {_occ_sql('text', ' of ')} AS double)
          / cast({_TOKS_SQL} AS double) > 0.01
     THEN cast(0.3 AS double) ELSE cast(0 AS double) END)
  + (CASE WHEN cast({_PUNCT_SQL} AS double) / cast(length(text) AS double) < 0.1
     THEN cast(0.3 AS double) ELSE cast(0 AS double) END)
)"""

_TEXT_STATS_SQL = f"""
SELECT lang, count(*) AS n_docs,
       cast(sum({_TOKS_SQL}) AS bigint) AS sum_tokens,
       cast(sum({_PUNCT_SQL}) AS bigint) AS sum_punct,
       cast(sum(cast({_QUALITY_SQL} AS decimal(20,6))) AS double)
         / cast(count(*) AS double) AS avg_quality
FROM documents GROUP BY lang
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn("predicted", X.lang_id("text"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_scores_sql() -> dict[str, str]:
    return {
        lang: " + ".join(_occ_sql("padded", m) for m in markers)
        for lang, markers in X.LANG_MARKERS.items()
    }


def _lang_case_sql() -> str:
    scores = _lang_scores_sql()
    langs = sorted(X.LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        conds = [
            f"({scores[lang]}) >= ({scores[other]})" for other in langs[i + 1:]
        ]
        if conds:
            whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
        else:
            whens.append(f"ELSE '{lang}'")
    maxscore = f"greatest({', '.join(f'({scores[lang]})' for lang in langs)})"
    case = " ".join(whens[:-1]) + " " + whens[-1]
    return f"CASE WHEN {maxscore} = 0 THEN 'und' ELSE (CASE {case} END) END"


_TEXT_LANG_ID_SQL = f"""
WITH padded_docs AS (SELECT lang, ' ' || text || ' ' AS padded FROM documents)
SELECT lang, {_lang_case_sql()} AS predicted, count(*) AS n
FROM padded_docs GROUP BY lang, predicted
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("source").agg(
        F.sum(X.n_tokens("text")).alias("sum_ws_tokens"),
        F.sum(X.bpe_token_count("text")).alias("sum_bpe_tokens"),
    )


_TEXT_TOKEN_COUNT_SQL = f"""
SELECT source,
       cast(sum({_TOKS_SQL}) AS bigint) AS sum_ws_tokens,
       cast(sum(length(regexp_extract_all(text, '{X.BPE_RE}'))) AS bigint)
         AS sum_bpe_tokens
FROM documents GROUP BY source
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode + two hash-aggregates rather than the scalar
    # text.rolling_fingerprint: the per-shingle hash then runs inside
    # whole-stage codegen (higher-order transform lambdas are
    # interpreted), and the numeric min stays in HashAggregate
    # (min over strings would force a SortAggregate over the whole
    # exploded shingle stream — measured ~20× slower at sf0.1).
    docs = load_table(spark, sf_dir, "documents")
    fps = (
        D.char_shingles(docs)
        .groupBy("doc_id")
        .agg(F.min(hex_hash64(F.col("shingle"))).alias("fingerprint"))
    )
    return (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n") > 1)
    )


_DOC_FINGERPRINT_SQL = f"""
WITH fp AS (
  SELECT doc_id,
         min(cast('0x' || substr(md5(shingle), 1, 15) AS bigint)) AS fingerprint
  FROM ({_SH_SQL}) GROUP BY doc_id
)
SELECT fingerprint, count(*) AS n, cast(min(doc_id) AS bigint) AS first_doc
FROM fp GROUP BY fingerprint HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# Composite pretraining filter: the canonical LLM-data pipeline in one
# plan — language gate + quality gate + exact dedup + near-dup removal
# (keep the lowest doc_id of each near-dup pair). Everything reuses the
# operators above; the oracle reuses their SQL fragments.


def pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gated = (
        docs.withColumn("quality", X.quality_score("text"))
        .filter((F.col("lang") == "en") & (F.col("quality") >= F.lit(0.7)))
    )
    # exact dedup: keep min doc_id per identical text
    keeper = gated.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = gated.join(keeper, "doc_id").drop("_h")
    # near-dup removal: drop the higher doc_id of every confirmed pair
    dups = _near_pairs(spark, sf_dir).select(
        F.col("b").alias("doc_id")
    ).distinct()
    kept = exact.join(dups, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(X.n_tokens("text")).alias("sum_tokens"),
    )


_PRETRAIN_FILTER_SQL = f"""
WITH gated AS (
  SELECT doc_id, text, source FROM documents
  WHERE lang = 'en' AND {_QUALITY_SQL} >= 0.7
),
keeper AS (
  SELECT md5(text) AS _h, min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
),
exact AS (
  SELECT g.* FROM gated g JOIN keeper k ON k.doc_id = g.doc_id
),
sh0 AS ({_SH_SQL}),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh0 GROUP BY doc_id),
bands AS (
  SELECT DISTINCT doc_id, band FROM (
    SELECT doc_id,
           unnest([md5(cast(sig1 AS varchar) || ':' || cast(sig2 AS varchar)),
                   md5(cast(sig3 AS varchar) || ':' || cast(sig4 AS varchar))])
             AS band
    FROM sigs)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
),
s AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c
  JOIN s sa ON sa.doc_id = c.a
  JOIN s sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
),
dups AS (
  SELECT DISTINCT i.b AS doc_id
  FROM inter i
  JOIN sizes na ON na.doc_id = i.a
  JOIN sizes nb ON nb.doc_id = i.b
  WHERE cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) >= 0.5
)
SELECT source, count(*) AS n_kept,
       cast(sum({_TOKS_SQL}) AS bigint) AS sum_tokens
FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dups)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Curation funnel: the stage-by-stage attrition report for the full
# pretraining pipeline — the first table a data-curation run prints.
# Unlike pretrain_filter (per-source survivors of the composed gate),
# this shows WHERE the mass goes: docs and tokens remaining after each
# cumulative stage (raw → lang+quality → exact dedup → near dedup →
# benchmark decontamination). One corpus scan computes all five stages
# as cumulative boolean flags (the exact-dedup keeper is a conditional
# min over the md5 partition — same shuffle the keeper groupBy would
# pay), the near-dup and contamination memberships arrive as two
# id-level left joins, and a stack() unpivots the single aggregate row
# into the funnel — no per-stage rescan, which is what makes the shape
# hold at 100 TB.

_FUNNEL_STAGES = [
    "0_raw",
    "1_lang_quality",
    "2_exact_dedup",
    "3_near_dedup",
    "4_decontaminated",
]


def contaminated_ids(docs: DataFrame, bench_max_id: int) -> DataFrame:
    """Ids of training docs (doc_id >= bench_max_id) sharing an 8-gram
    with the raw benchmark slice — the flag-producing half of
    operators/curation.decontaminate (which anti-joins it away). The
    benchmark gram set comes from the RAW corpus, not an
    already-filtered view, and is broadcast (a benchmark is small by
    definition)."""
    from rds_pgbadger_etl_spark.operators import curation as CO

    bench_grams = (
        CO.word_ngram_grams(
            docs.filter(F.col("doc_id") < bench_max_id), CO.DECON_NGRAM_N
        )
        .select("gram")
        .distinct()
    )
    return (
        CO.word_ngram_grams(
            docs.filter(F.col("doc_id") >= bench_max_id), CO.DECON_NGRAM_N
        )
        .join(F.broadcast(bench_grams), "gram", "leftsemi")
        .select("doc_id")
        .distinct()
    )


def funnel_flag_table(
    docs: DataFrame,
    dup_ids: DataFrame,
    cont_ids: DataFrame,
    bench_max_id: int,
) -> DataFrame:
    """The one-scan cumulative gate table behind curation_funnel (and
    tools/pipeline_rehearsal.py, which drives this exact function at GB
    scale): per doc, ``tok`` plus booleans pass1..pass4 for the
    lang+quality, exact-dedup, near-dedup, and decontamination stages.
    ``docs`` needs (doc_id, text, lang); ``dup_ids``/``cont_ids`` are
    id-level membership tables (near-dup b-sides, contaminated ids).

    The output deliberately does NOT carry ``text``: every downstream
    consumer needs only ids + flags + token counts, and the exact-dedup
    window shuffles on the md5 hash — with text in the row that
    exchange moves the whole corpus (the 4x pipeline rehearsal measured
    3.8 GB of its shuffle as exactly this column before the prune).
    Consumers that need the text re-join docs on doc_id (semi-join on a
    broadcastable id set, the way the rehearsal's write stage does)."""
    base = docs.select(
        "doc_id",
        "lang",
        X.n_tokens("text").alias("tok"),
        X.quality_score("text").alias("quality"),
        F.md5("text").alias("_h"),
    ).withColumn(
        "pass1",
        (F.col("lang") == "en") & (F.col("quality") >= F.lit(0.7)),
    )
    w = Window.partitionBy("_h")
    flags = base.withColumn(
        "pass2",
        F.col("pass1")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("pass1"), F.col("doc_id"))).over(w)
        ),
    )
    dups = (
        dup_ids.select("doc_id").distinct().withColumn("is_dup", F.lit(True))
    )
    cont = (
        cont_ids.select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    return (
        flags.join(dups, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .withColumn("pass3", F.col("pass2") & F.col("is_dup").isNull())
        .withColumn(
            "pass4",
            F.col("pass3")
            & (F.col("doc_id") >= F.lit(bench_max_id))
            & F.col("is_cont").isNull(),
        )
    )


def funnel_report(flags: DataFrame) -> DataFrame:
    """Collapse the flag table to the 5-row funnel: one aggregate row
    (all ten counters at once), stack()-unpivoted — no per-stage
    rescan."""
    aggs = [
        F.count(F.lit(1)).alias("d0"),
        F.coalesce(F.sum("tok"), F.lit(0)).cast("bigint").alias("t0"),
    ]
    for i in range(1, 5):
        p = F.col(f"pass{i}")
        aggs.append(F.count(F.when(p, 1)).alias(f"d{i}"))
        aggs.append(
            F.coalesce(F.sum(F.when(p, F.col("tok"))), F.lit(0))
            .cast("bigint")
            .alias(f"t{i}")
        )
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        f"'{s}', d{i}, t{i}" for i, s in enumerate(_FUNNEL_STAGES)
    )
    return one.select(
        F.expr(
            f"stack({len(_FUNNEL_STAGES)}, {stack_args})"
            " AS (stage, n_docs, n_tokens)"
        )
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dup_ids = _near_pairs(spark, sf_dir).select(F.col("b").alias("doc_id"))
    flags = funnel_flag_table(
        docs, dup_ids, contaminated_ids(docs, _BENCH_MAX_ID), _BENCH_MAX_ID
    )
    return funnel_report(flags)


_CURATION_FUNNEL_SQL = f"""
WITH base AS (
  SELECT doc_id, text, md5(text) AS _h, {_TOKS_SQL} AS tok,
         (lang = 'en' AND {_QUALITY_SQL} >= 0.7) AS pass1
  FROM documents
),
p2 AS (
  SELECT *, pass1 AND doc_id = min(CASE WHEN pass1 THEN doc_id END)
                              OVER (PARTITION BY _h) AS pass2
  FROM base
),
{_NEAR_PAIRS_CTES},
dups AS (SELECT DISTINCT b AS doc_id FROM ({_NEAR_PAIRS_FINAL})),
{_DECON_CTES},
flags AS (
  SELECT p2.*,
         pass2 AND du.doc_id IS NULL AS pass3,
         pass2 AND du.doc_id IS NULL AND p2.doc_id >= {_BENCH_MAX_ID}
               AND co.doc_id IS NULL AS pass4
  FROM p2 LEFT JOIN dups du ON du.doc_id = p2.doc_id
          LEFT JOIN cont co ON co.doc_id = p2.doc_id
)
SELECT '0_raw' AS stage, count(*) AS n_docs,
       cast(coalesce(sum(tok), 0) AS bigint) AS n_tokens FROM flags
UNION ALL
SELECT '1_lang_quality', count(*) FILTER (WHERE pass1),
       cast(coalesce(sum(tok) FILTER (WHERE pass1), 0) AS bigint) FROM flags
UNION ALL
SELECT '2_exact_dedup', count(*) FILTER (WHERE pass2),
       cast(coalesce(sum(tok) FILTER (WHERE pass2), 0) AS bigint) FROM flags
UNION ALL
SELECT '3_near_dedup', count(*) FILTER (WHERE pass3),
       cast(coalesce(sum(tok) FILTER (WHERE pass3), 0) AS bigint) FROM flags
UNION ALL
SELECT '4_decontaminated', count(*) FILTER (WHERE pass4),
       cast(coalesce(sum(tok) FILTER (WHERE pass4), 0) AS bigint) FROM flags
"""


# ---------------------------------------------------------------------------
# X3: similarity search.

_QUERY_IDS = [0, 1, 2, 3, 4]
_TOPK = 5


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _QUERY_IDS, _TOPK)


_ANN_BRUTE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
sims AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(q.q_emb, e.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(e.emb, e.emb))), 6) AS sim
  FROM e, q WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


def _plane_sql(table: int, plane: int) -> str:
    vals = ", ".join(str(S.plane_sign(table, plane, i)) for i in range(S.DIM))
    return f"CAST([{vals}] AS double[])"


def _bucket_sql(table: int, n_planes: int = S.N_PLANES) -> str:
    return "(" + " || ".join(
        f"(CASE WHEN round(list_dot_product(emb, {_plane_sql(table, j)}), 6) > 0"
        " THEN '1' ELSE '0' END)"
        for j in range(n_planes)
    ) + ")"


def _buckets_long_sql(n_planes: int = S.N_PLANES) -> str:
    # one row per (vec, table): vec_id, emb, table_id, bucket
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, emb, {t} AS table_id, {_bucket_sql(t, n_planes)} AS bucket"
        " FROM e"
        for t in range(S.N_TABLES)
    )


_BUCKETS_LONG_SQL = _buckets_long_sql()


def _lsh_buckets_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket table materialized once per process (staging-table
    pattern, same rationale as the IVF-cell/PQ-code staging); shared by
    ann_lsh_topk / ann_recall_report."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "lsh_buckets",
        sf_dir,
        lambda: S.lsh_buckets_long(load_table(spark, sf_dir, "embeddings")),
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        emb, _QUERY_IDS, _TOPK, buckets=_lsh_buckets_shared(spark, sf_dir)
    )


_ANN_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
b AS ({_BUCKETS_LONG_SQL}),
q AS (SELECT vec_id AS q_id, emb AS q_emb, table_id, bucket FROM b
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
cands AS (
  SELECT DISTINCT q.q_id, b.vec_id
  FROM b JOIN q ON b.table_id = q.table_id AND b.bucket = q.bucket
             AND b.vec_id <> q.q_id
),
sims AS (
  SELECT c.q_id, c.vec_id,
         round(list_dot_product(eq.emb, ev.emb)
               / (sqrt(list_dot_product(eq.emb, eq.emb))
                  * sqrt(list_dot_product(ev.emb, ev.emb))), 6) AS sim
  FROM cands c JOIN e eq ON eq.vec_id = c.q_id JOIN e ev ON ev.vec_id = c.vec_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


# --- Matryoshka-style truncated-dimension search -------------------------
# The DIMENSION ladder next to the precision ladder (PQ 2 B / SQ8 64 B /
# raw 256 B per vector): cosine over only the leading `dims` components.
# No index artifact, 4× less scanned+multiplied at dims=16 of 64; the
# two-stage variant reranks a truncated shortlist with exact full-dim
# cosine (adaptive retrieval). Unlike the index recall audits, the
# truncation recall sweep is FULLY SQL-expressible (both arms are
# deterministic top-k), so for once a recall measurement is oracle-green
# rather than rows-only.

_MRL_DIMS_SWEEP = (8, 16, 32)


def _slice_cos_sql(a: str, b: str, d: int | str) -> str:
    return _cos_sql(f"list_slice({a}, 1, {d})", f"list_slice({b}, 1, {d})")


def _nzp_sql(col: str, d: int | str) -> str:
    """Zero-prefix guard: TRUE iff the leading ``d`` components carry
    any non-zero value — the twin of the Spark readers' ``exists``
    filter (a zero prefix makes the truncated cosine 0/0, and the two
    engines' NaN ordering must never meet the comparison)."""
    return f"len(list_filter(list_slice({col}, 1, {d}), x -> x <> 0)) > 0"


def ann_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: truncated-dimension brute-force top-k (leading 16 of 64
    components) — the zero-artifact cheap rung of the dimension ladder."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.truncated_topk(emb, _QUERY_IDS, _TOPK)


_ANN_TRUNC_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
sims AS (
  SELECT q.q_id, e.vec_id, {_slice_cos_sql('q.q_emb', 'e.emb', S.MRL_DIMS)} AS sim
  FROM e, q WHERE e.vec_id <> q.q_id
    AND {_nzp_sql('e.emb', S.MRL_DIMS)} AND {_nzp_sql('q.q_emb', S.MRL_DIMS)}
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


def ann_truncated_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: truncated shortlist (16 dims, top-25) + exact
    full-dimension rerank — coarse pass over everything, full-precision
    pass over ≤ queries × shortlist point lookups."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.truncated_rerank_topk(emb, _QUERY_IDS, _TOPK)


_ANN_TRUNC_RERANK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
tsims AS (
  SELECT q.q_id, e.vec_id,
         {_slice_cos_sql('q.q_emb', 'e.emb', S.MRL_DIMS)} AS tsim
  FROM e, q WHERE e.vec_id <> q.q_id
    AND {_nzp_sql('e.emb', S.MRL_DIMS)} AND {_nzp_sql('q.q_emb', S.MRL_DIMS)}
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY tsim DESC, vec_id) AS rnk
    FROM tsims) WHERE rnk <= {S.MRL_SHORTLIST}
),
re AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'e.emb')} AS sim
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM re
) WHERE rnk <= {_TOPK}
"""


def ann_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 audit, oracle-green: recall@5 of truncated-dimension
    search vs the exact full-dimension top-k, swept over prefix widths
    8/16/32 — the measured dims-vs-recall operating curve of
    the dimension ladder. Both arms are deterministic (6-decimal
    rounding, vec_id tie-break), so unlike the index recall audits this
    one has a real SQL twin. Arms and ground truth stage per process
    like the index recall audits (_staged_arm_union / _brute_truth —
    the r12 arm-staging contract): each arm is a deterministic
    |queries| x k id list, so warm re-evaluations join cached ids
    instead of re-running four corpus scans."""
    full = _brute_truth(spark, sf_dir, _TOPK).select("q_id", "vec_id")
    denom = float(len(_QUERY_IDS) * _TOPK)

    def arm_build(d: int):
        return lambda: S.truncated_topk(
            load_table(spark, sf_dir, "embeddings"), _QUERY_IDS, _TOPK, dims=d
        )

    arms = _staged_arm_union(
        spark,
        "dims_s",
        [(str(d), arm_build(d)) for d in _MRL_DIMS_SWEEP],
        ("trunc_recall", sf_dir),
    ).select(F.col("dims_s").cast("int").alias("dims"), "q_id", "vec_id")
    hits = (
        arms.join(full, ["q_id", "vec_id"])
        .groupBy("dims")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    scaffold = spark.createDataFrame(
        [(d,) for d in _MRL_DIMS_SWEEP], "dims int"
    )
    h = F.coalesce(F.col("hits"), F.lit(0)).cast("long")
    return scaffold.join(hits, "dims", "left").select(
        "dims",
        h.alias("hits"),
        F.round(h / F.lit(denom), 6).alias("recall"),
    )


_ANN_TRUNC_RECALL_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
fsims AS (
  SELECT q.q_id, e.vec_id, {_cos_sql('q.q_emb', 'e.emb')} AS sim
  FROM e, q WHERE e.vec_id <> q.q_id
),
f AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY sim DESC, vec_id) AS rnk
    FROM fsims) WHERE rnk <= {_TOPK}
),
dm AS (SELECT * FROM (VALUES {", ".join(f"({d})" for d in _MRL_DIMS_SWEEP)}) t(dims)),
tsims AS (
  SELECT dm.dims, q.q_id, e.vec_id,
         {_slice_cos_sql('q.q_emb', 'e.emb', 'dm.dims')} AS sim
  FROM e, q, dm WHERE e.vec_id <> q.q_id
    AND {_nzp_sql('e.emb', 'dm.dims')} AND {_nzp_sql('q.q_emb', 'dm.dims')}
),
t AS (
  SELECT dims, q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY dims, q_id
                                 ORDER BY sim DESC, vec_id) AS rnk
    FROM tsims) WHERE rnk <= {_TOPK}
),
h AS (
  SELECT t.dims, count(*) AS hits
  FROM t JOIN f ON t.q_id = f.q_id AND t.vec_id = f.vec_id
  GROUP BY t.dims
)
SELECT cast(dm.dims AS int) AS dims,
       cast(coalesce(h.hits, 0) AS bigint) AS hits,
       round(coalesce(h.hits, 0) / {float(len(_QUERY_IDS) * _TOPK)}, 6) AS recall
FROM dm LEFT JOIN h USING (dims)
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, _QUERY_IDS, _TOPK, cells=_ivf_cells_shared(spark, sf_dir)
    )


_ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT e.vec_id, e.emb, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
sims AS (
  SELECT p.q_id, a.vec_id, {_cos_sql('q.q_emb', 'a.emb')} AS sim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dups(emb, threshold=0.3)


_EMB_NEAR_DUPS_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
b AS ({_buckets_long_sql(S.NEAR_DUP_PLANES)}),
pairs AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM b l JOIN b r ON l.table_id = r.table_id AND l.bucket = r.bucket
              AND l.vec_id < r.vec_id
)
SELECT p.a, p.b,
       round(list_dot_product(ea.emb, eb.emb)
             / (sqrt(list_dot_product(ea.emb, ea.emb))
                * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS sim
FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b
WHERE round(list_dot_product(ea.emb, eb.emb)
            / (sqrt(list_dot_product(ea.emb, ea.emb))
               * sqrt(list_dot_product(eb.emb, eb.emb))), 6) >= 0.3
"""


# ---------------------------------------------------------------------------
# X5: multimodal plumbing (Pandas-UDF path, deterministic fake features).


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.attach_binary(docs))


_MULTIMODAL_SQL = """
SELECT doc_id, 'image/fake' AS media_type,
       cast(octet_length(encode(text)) AS bigint) AS byte_len,
       cast(ascii(substr(text, 1, 1)) AS int) AS first_byte,
       cast(octet_length(encode(text)) % 64 + 1 AS int) AS fake_width,
       cast(octet_length(encode(text)) % 48 + 1 AS int) AS fake_height,
       cast(octet_length(encode(text)) % 7 + 1 AS int) AS n_frames
FROM documents
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 decode, end-to-end REAL: synthesize BMP/WAV bytes per doc
    (dims/rate are closed-form in the text length), then parse the
    binary headers back with the native codecs. The oracle recomputes
    the same metadata from the closed forms — so a hash match proves the
    encoder and the header decoder agree byte-for-byte (incl. BMP row
    padding and WAV chunk layout)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.decode_media(M.attach_real_media(docs))


_MULTIMODAL_DECODE_SQL = """
WITH d AS (SELECT doc_id, length(text) AS ln FROM documents),
bmp AS (SELECT doc_id, ln % 31 + 1 AS w, ln % 17 + 1 AS h FROM d WHERE doc_id % 2 = 0)
SELECT doc_id, 'bmp' AS media_kind,
       cast(w AS int) AS width, cast(h AS int) AS height,
       cast(24 AS int) AS bit_depth, cast(3 AS int) AS channels,
       cast(-1 AS int) AS sample_rate, cast(-1 AS bigint) AS n_samples,
       cast(54 + (w * 3 + (4 - (w * 3) % 4) % 4) * h AS bigint) AS byte_len
FROM bmp
UNION ALL
SELECT doc_id, 'wav' AS media_kind,
       cast(-1 AS int) AS width, cast(-1 AS int) AS height,
       cast(16 AS int) AS bit_depth, cast(1 AS int) AS channels,
       cast(8000 + (ln % 5) * 2000 AS int) AS sample_rate,
       cast(ln % 1000 + 1 AS bigint) AS n_samples,
       cast(44 + 2 * (ln % 1000 + 1) AS bigint) AS byte_len
FROM d WHERE doc_id % 2 = 1
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_binary(docs))


# frame i of n: the payload[i::n] interleave slice has
# (bl - i + n - 1) // n bytes (numerator stays >= 0 since i < n).
_MULTIMODAL_FRAMES_SQL = """
WITH media AS (
  SELECT doc_id, octet_length(encode(text)) AS bl,
         octet_length(encode(text)) % 7 + 1 AS nf
  FROM documents
)
SELECT doc_id, cast(i AS int) AS frame_id,
       cast((bl - i + nf - 1) // nf AS bigint) AS frame_bytes
FROM media, unnest(generate_series(0, nf - 1, 2)) AS t(i)
"""


def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 image dedup, end-to-end REAL: synthesize the BMP payloads,
    then decode → 8x8 nearest-neighbor resample → luminance average-
    hash (operators/multimodal.image_ahash) → group identical hashes.
    Two images that render alike collapse into one group regardless of
    stored resolution. The oracle replays the pixel math in closed form
    (the synthetic pattern, the resample index arithmetic, the exact
    power-of-two mean), so a hash match proves the REAL byte-level
    decode/resize/hash pipeline computes exactly the declared hash —
    the multimodal analogue of the text dedup family's oracles."""
    return _image_hashes_shared(spark, sf_dir).groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("first_doc"),
    )


def _image_hash_words_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH per-image hash families from ONE staged decode pass
    (operators/multimodal.image_hashes): the payload synthesis + BMP
    decode is the corpus's most expensive byte-level pass, so staging
    one fused table instead of one per family halves the dominant cost;
    each family's consumers project their columns back out."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "image_hashes",
        sf_dir,
        lambda: M.image_hashes(
            M.attach_real_media(
                rebalance(load_table(spark, sf_dir, "documents"))
            )
        ),
    )


def _image_hashes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-image aHash table — a projection of the fused staged
    hash table, keeping the (doc_id, ahash, hi, lo) contract every
    image-dedup consumer (exact groups, Hamming near-dups) reads."""
    return _image_hash_words_shared(spark, sf_dir).select(
        "doc_id",
        "ahash",
        F.col("a_hi").alias("hi"),
        F.col("a_lo").alias("lo"),
    )


def _image_dhashes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-image dHash (gradient) table — the second hash family
    image_near_dup_pairs bands over, projected from the same fused
    staged table (no second decode pass)."""
    return _image_hash_words_shared(spark, sf_dir).select(
        "doc_id",
        "dhash",
        F.col("d_hi").alias("hi"),
        F.col("d_lo").alias("lo"),
    )


def _image_fused_bands_shared(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fused two-family band table — hot buckets already pruned at
    the resolved corpus cap — staged once per (process, corpus): like
    the hash words it derives from and the band cap applied to it, it
    is a deterministic corpus property, so the repeated-evaluation
    paths skip the explode AND the hot-count anti-join per call (the
    remaining warm cost of the image near-dup query after the decode
    and banding fusions)."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "image_fused_bands_pruned",
        sf_dir,
        lambda: M.prune_hot_bands(
            M.image_fused_bands(
                _image_hashes_shared(spark, sf_dir),
                _image_dhashes_shared(spark, sf_dir),
            ),
            _media_band_cap(spark, sf_dir),
            ["fam"],
        ),
    )


_MEDIA_BAND_CAPS: dict[tuple[str, str], int] = {}


def _media_band_cap(spark: SparkSession, sf_dir: str) -> int:
    """The multimodal hot-band cap, resolved ONCE per (process, corpus):
    max(64, ceil(AUTO_BAND_DOC_FRAC x n_docs)) — the same value
    operators/multimodal._auto_band_cap derives per evaluation from the
    bands table, but n_docs is a property of the staged corpus, so the
    repeated-evaluation paths (bench, driver, tests) pay its count once
    instead of one distinct-count action per query per run.

    n_docs counts DISTINCT doc_ids — mirroring _auto_band_cap exactly
    rather than relying on the hash table's one-row-per-doc invariant.
    The cache key is (applicationId, sf_dir): like every plans/_shared
    staging table it assumes the corpus at sf_dir is immutable for the
    process lifetime (regenerating sf_dir mid-process would serve the
    stale STAGED hash table anyway, so the cap can never diverge from
    the data the queries actually read)."""
    import math

    from rds_pgbadger_etl_spark.operators.dedup import AUTO_BAND_FREQ_FLOOR
    from rds_pgbadger_etl_spark.operators.multimodal import (
        AUTO_BAND_DOC_FRAC,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    cap = _MEDIA_BAND_CAPS.get(key)
    if cap is None:
        n_docs = (
            _image_hash_words_shared(spark, sf_dir)
            .select("doc_id")
            .distinct()
            .count()
        )
        cap = max(
            AUTO_BAND_FREQ_FLOOR, math.ceil(AUTO_BAND_DOC_FRAC * n_docs)
        )
        _MEDIA_BAND_CAPS[key] = cap
    return cap


def multimodal_image_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming near-dup pairs over TWO staged hash families — aHash
    (luminance threshold) and dHash (horizontal gradient,
    mean-invariant) — each banded 4x16-bit with pigeonhole-guaranteed
    recall at hamming <= 3; a pair qualifies when EITHER family
    verifies (operators/multimodal.image_near_dup_pairs: brightness
    shifts that flip aHash bits leave gradients alone, and vice versa).
    Oracle = both families' closed-form hash words + the union of both
    bandings + both popcount distances."""
    # the staged bands are already hot-pruned at the resolved corpus
    # cap, so the per-evaluation cap is None (no second prune)
    return M.image_near_dup_pairs(
        _image_hashes_shared(spark, sf_dir),
        _image_dhashes_shared(spark, sf_dir),
        max_band_freq=None,
        bands=_image_fused_bands_shared(spark, sf_dir),
    )


# The closed-form hash words (hi, lo per image), shared by the exact
# group oracle and the Hamming near-dup oracle.
_AHASH_WORDS_CTES = """bmp AS (
  SELECT doc_id, length(text) % 31 + 1 AS w, length(text) % 17 + 1 AS h,
         doc_id % 256 AS seed
  FROM documents WHERE doc_id % 2 = 0
),
cells AS (
  SELECT doc_id, ty * 8 + tx AS i,
         ((tx * w // 8) * 7 + (ty * h // 8) * 13 + seed) % 256 AS v
  FROM bmp, range(8) t1(tx), range(8) t2(ty)
),
lums AS (SELECT doc_id, i, v + (v * 3) % 256 + (v * 5) % 256 AS lum
         FROM cells),
th AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM lums GROUP BY doc_id),
words AS (
  SELECT l.doc_id,
         sum(CASE WHEN i < 32 AND lum > mean
                  THEN 1::bigint << (31 - i) ELSE 0 END) AS hi,
         sum(CASE WHEN i >= 32 AND lum > mean
                  THEN 1::bigint << (63 - i) ELSE 0 END) AS lo
  FROM lums l JOIN th USING (doc_id)
  GROUP BY l.doc_id
)"""

_MULTIMODAL_AHASH_SQL = f"""
WITH {_AHASH_WORDS_CTES}
SELECT lower(lpad(to_hex(hi), 8, '0') || lpad(to_hex(lo), 8, '0')) AS ahash,
       count(*) AS n_images, min(doc_id) AS first_doc
FROM words GROUP BY 1
"""

# The closed-form dHash words: the 9x8 resample's cell value replays
# the synthetic pixel arithmetic at sx = tx*w//9 (one extra column so
# every cell has a right neighbor); bit y*8+x set when lum(x+1) >
# lum(x) — the gradient comparison has no image-mean term, which is the
# point of the second family.
_DHASH_WORDS_CTES = """dcells AS (
  SELECT doc_id, tx, ty,
         ((tx * w // 9) * 7 + (ty * h // 8) * 13 + seed) % 256 AS v
  FROM bmp, range(9) t1(tx), range(8) t2(ty)
),
dlums AS (SELECT doc_id, tx, ty, v + (v * 3) % 256 + (v * 5) % 256 AS lum
          FROM dcells),
dwords AS (
  SELECT l.doc_id,
         sum(CASE WHEN l.ty * 8 + l.tx < 32 AND r.lum > l.lum
                  THEN 1::bigint << (31 - (l.ty * 8 + l.tx)) ELSE 0 END) AS hi,
         sum(CASE WHEN l.ty * 8 + l.tx >= 32 AND r.lum > l.lum
                  THEN 1::bigint << (63 - (l.ty * 8 + l.tx)) ELSE 0 END) AS lo
  FROM dlums l JOIN dlums r
    ON r.doc_id = l.doc_id AND r.ty = l.ty AND r.tx = l.tx + 1
  WHERE l.tx < 8
  GROUP BY l.doc_id
)"""

_MULTIMODAL_NEAR_SQL = f"""
WITH {_AHASH_WORDS_CTES},
{_DHASH_WORDS_CTES},
wbands AS (
  SELECT doc_id, b.i AS band,
         CASE b.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                  WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS val
  FROM words, range(4) b(i)
),
dwbands AS (
  SELECT doc_id, b.i AS band,
         CASE b.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                  WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS val
  FROM dwords, range(4) b(i)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM wbands l
  JOIN wbands r ON l.band = r.band AND l.val = r.val
               AND l.doc_id < r.doc_id
  UNION
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM dwbands l
  JOIN dwbands r ON l.band = r.band AND l.val = r.val
               AND l.doc_id < r.doc_id
)
SELECT c.a, c.b,
       cast(bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo))
            AS int) AS hamming,
       cast(bit_count(xor(da.hi, db.hi)) + bit_count(xor(da.lo, db.lo))
            AS int) AS dhamming
FROM cand c
JOIN words wa ON wa.doc_id = c.a
JOIN words wb ON wb.doc_id = c.b
JOIN dwords da ON da.doc_id = c.a
JOIN dwords db ON db.doc_id = c.b
WHERE bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo)) <= 3
   OR bit_count(xor(da.hi, db.hi)) + bit_count(xor(da.lo, db.lo)) <= 3
"""


def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 audio dedup, end-to-end REAL: synthesize the WAV payloads,
    walk the RIFF chunks to the PCM, and fingerprint the energy contour
    (operators/multimodal.audio_fingerprint: 16 windows, window bit set
    by the EXACT integer cross-multiplied mean comparison — no FP), then
    group identical fingerprints. The oracle replays the sample math in
    closed form, so a hash match proves the real byte-level
    decode/fingerprint pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    fps = M.audio_fingerprint(M.attach_real_media(rebalance(docs)))
    return fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("doc_id").alias("first_doc"),
    )


_MULTIMODAL_AUDIO_SQL = """
WITH wav AS (
  SELECT doc_id, length(text) % 1000 + 1 AS n, doc_id % 256 AS seed
  FROM documents WHERE doc_id % 2 = 1
),
samples AS (
  SELECT doc_id, n,
         abs(((seed * 31 + i * 17) % 65536) - 32768) AS a,
         i * 16 // n AS w
  FROM wav, unnest(generate_series(0, n - 1)) AS t(i)
),
tot AS (SELECT doc_id, sum(a) AS total FROM samples GROUP BY doc_id),
wins AS (SELECT doc_id, max(n) AS n, w, sum(a) AS ws, count(*) AS nw
         FROM samples GROUP BY doc_id, w),
bits AS (
  SELECT w.doc_id,
         sum(CASE WHEN ws * n > total * nw
                  THEN 1::bigint << (15 - w.w) ELSE 0 END) AS fp
  FROM wins w JOIN tot USING (doc_id) GROUP BY w.doc_id
)
SELECT lower(lpad(to_hex(fp), 4, '0')) AS fingerprint,
       count(*) AS n_clips, min(doc_id) AS first_doc
FROM bits GROUP BY 1
"""


# Banded-Hamming pair tail shared by the audio near-dup oracle (the
# image twin _MULTIMODAL_NEAR_SQL carries the same text inline): bands a
# (doc_id, hi, lo) `words` CTE into 4x16-bit values, equi-joins
# candidates, popcount-verifies <= 3 — hamming_band_pairs relationally.
_BAND_PAIRS_TAIL = """
wbands AS (
  SELECT doc_id, b.i AS band,
         CASE b.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                  WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS val
  FROM words, range(4) b(i)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM wbands l
  JOIN wbands r ON l.band = r.band AND l.val = r.val
               AND l.doc_id < r.doc_id
)
SELECT c.a, c.b,
       cast(bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo))
            AS int) AS hamming
FROM cand c
JOIN words wa ON wa.doc_id = c.a
JOIN words wb ON wb.doc_id = c.b
WHERE bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo)) <= 3
"""


def multimodal_audio_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-dup pairs: 64-window energy contour over the REAL WAV
    payloads (operators/multimodal.audio_contour64 — exact integer
    cross-multiplied thresholds, no FP), banded into 4x16-bit words and
    Hamming-verified <= 3 by the same hamming_band_pairs engine the
    image modality uses. Oracle replays the sample math and the banding
    in closed form."""
    return M.audio_near_dup_pairs(
        _audio_contours_shared(spark, sf_dir),
        bands=_audio_bands_shared(spark, sf_dir),
    )


def _audio_contours_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-window contour table, staged once per (process, corpus) —
    the WAV decode is the audio modality's expensive byte-level pass,
    exactly like the image decode it mirrors."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "audio_contours",
        sf_dir,
        lambda: M.audio_contour64(
            M.attach_real_media(
                rebalance(load_table(spark, sf_dir, "documents"))
            )
        ),
    )


def _audio_bands_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio signature bands, staged per (process, corpus) — no
    hot-band cap in this modality (audio_near_dup_pairs docstring), so
    the staged table is the raw banding."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "audio_bands",
        sf_dir,
        lambda: M.signature_bands(_audio_contours_shared(spark, sf_dir)),
    )


_MULTIMODAL_AUDIO_NEAR_SQL = f"""
WITH wav AS (
  SELECT doc_id, length(text) % 1000 + 1 AS n, doc_id % 256 AS seed
  FROM documents WHERE doc_id % 2 = 1
),
samples AS (
  SELECT doc_id, n,
         abs(((seed * 31 + i * 17) % 65536) - 32768) AS a,
         i * 64 // n AS w
  FROM wav, unnest(generate_series(0, n - 1)) AS t(i)
),
tot AS (SELECT doc_id, sum(a) AS total FROM samples GROUP BY doc_id),
wins AS (SELECT doc_id, max(n) AS n, w, sum(a) AS ws, count(*) AS nw
         FROM samples GROUP BY doc_id, w),
words AS (
  SELECT w.doc_id,
         sum(CASE WHEN ws * n > total * nw AND w.w < 32
                  THEN 1::bigint << (31 - w.w) ELSE 0 END) AS hi,
         sum(CASE WHEN ws * n > total * nw AND w.w >= 32
                  THEN 1::bigint << (63 - w.w) ELSE 0 END) AS lo
  FROM wins w JOIN tot USING (doc_id) GROUP BY w.doc_id
),
{_BAND_PAIRS_TAIL}
"""


def multimodal_audio_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-window contour table itself (RIFF walk → integer window
    thresholds → 16-hex signature) — the written signature table the
    audio near-dup join reads. Oracle replays the sample math closed
    form."""
    return _audio_contours_shared(spark, sf_dir).select("doc_id", "afp")


_MULTIMODAL_AUDIO_CONTOUR_SQL = f"""
WITH wav AS (
  SELECT doc_id, length(text) % 1000 + 1 AS n, doc_id % 256 AS seed
  FROM documents WHERE doc_id % 2 = 1
),
samples AS (
  SELECT doc_id, n,
         abs(((seed * 31 + i * 17) % 65536) - 32768) AS a,
         i * 64 // n AS w
  FROM wav, unnest(generate_series(0, n - 1)) AS t(i)
),
tot AS (SELECT doc_id, sum(a) AS total FROM samples GROUP BY doc_id),
wins AS (SELECT doc_id, max(n) AS n, w, sum(a) AS ws, count(*) AS nw
         FROM samples GROUP BY doc_id, w),
words AS (
  SELECT w.doc_id,
         sum(CASE WHEN ws * n > total * nw AND w.w < 32
                  THEN 1::bigint << (31 - w.w) ELSE 0 END) AS hi,
         sum(CASE WHEN ws * n > total * nw AND w.w >= 32
                  THEN 1::bigint << (63 - w.w) ELSE 0 END) AS lo
  FROM wins w JOIN tot USING (doc_id) GROUP BY w.doc_id
)
SELECT doc_id,
       lower(lpad(to_hex(hi), 8, '0') || lpad(to_hex(lo), 8, '0')) AS afp
FROM words
"""


def _video_frame_hashes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame aHash table over the synthetic video corpus, staged
    once per session (the written frame-hash table every video-dedup
    consumer reads)."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "video_frame_hashes",
        sf_dir,
        lambda: M.video_frame_hashes(
            M.attach_real_video(
                rebalance(load_table(spark, sf_dir, "documents"))
            )
        ),
    )


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-frame hash table itself (container walk → per-frame
    decode → aHash): the written artifact every video-dedup consumer
    reads — one row per frame with the 16-hex perceptual hash. Oracle
    replays the frame synthesis and pixel math in closed form."""
    return _video_frame_hashes_shared(spark, sf_dir).select(
        "doc_id", "frame_id", "ahash"
    )


def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs from frame hashes: real multi-frame
    containers (planted re-encoded + trimmed variants) → per-frame
    aHash with the EXACT image kernel → frame-hash set containment
    (2*shared >= smaller side's distinct frames — integer decision).
    Catches re-encodes (identical sets) and trims (subsets). Oracle
    replays the per-frame pixel closed forms and the containment join."""
    return M.video_dedup_pairs(_video_frame_hashes_shared(spark, sf_dir))


# Closed-form per-frame hash words for the synthetic video corpus —
# shared by the frame-table oracle and the containment-dedup oracle.
_VIDEO_WORDS_CTES = """params AS (
  SELECT doc_id, doc_id // 4 AS fam, doc_id % 4 AS j,
         (doc_id // 4) % 13 + 9 AS w, (doc_id // 4) % 9 + 9 AS h,
         CASE WHEN doc_id % 4 = 2 THEN (doc_id // 4) % 3 + 1
              ELSE (doc_id // 4) % 3 + 2 END AS nf,
         CASE WHEN doc_id % 4 = 3 THEN 101 ELSE 0 END AS soff
  FROM documents
),
frames AS (
  SELECT doc_id, w, h, k, (fam * 31 + k * 7 + soff) % 256 AS seed
  FROM params, unnest(generate_series(0, nf - 1)) AS t(k)
),
cells AS (
  SELECT doc_id, k, ty * 8 + tx AS i,
         ((tx * w // 8) * 7 + (ty * h // 8) * 13 + seed) % 256 AS v
  FROM frames, range(8) t1(tx), range(8) t2(ty)
),
lums AS (SELECT doc_id, k, i, v + (v * 3) % 256 + (v * 5) % 256 AS lum
         FROM cells),
th AS (SELECT doc_id, k, sum(lum) / 64.0 AS mean
       FROM lums GROUP BY doc_id, k),
words AS (
  SELECT l.doc_id, l.k,
         sum(CASE WHEN i < 32 AND lum > mean
                  THEN 1::bigint << (31 - i) ELSE 0 END) AS hi,
         sum(CASE WHEN i >= 32 AND lum > mean
                  THEN 1::bigint << (63 - i) ELSE 0 END) AS lo
  FROM lums l JOIN th ON th.doc_id = l.doc_id AND th.k = l.k
  GROUP BY l.doc_id, l.k
)"""

_MULTIMODAL_VFRAMES_SQL = f"""
WITH {_VIDEO_WORDS_CTES}
SELECT doc_id, cast(k AS int) AS frame_id,
       lower(lpad(to_hex(hi), 8, '0') || lpad(to_hex(lo), 8, '0')) AS ahash
FROM words
"""

_MULTIMODAL_VIDEO_SQL = f"""
WITH {_VIDEO_WORDS_CTES},
hset AS (SELECT DISTINCT doc_id, hi, lo FROM words),
sizes AS (SELECT doc_id, count(*) AS nh FROM hset GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared
  FROM hset l JOIN hset r ON l.hi = r.hi AND l.lo = r.lo
                         AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, cast(shared AS int) AS shared_frames,
       round(shared / least(sa.nh, sb.nh), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE 2 * shared >= least(sa.nh, sb.nh)
"""


def multimodal_video_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Video near-dups where frames need only be perceptually CLOSE
    (hamming <= 3 per frame), not hash-identical — catches re-renders
    that nudge pixels, on top of the exact-frame re-encode/trim cases
    multimodal_video_dedup covers. Frame-level banded candidates, then
    the same integer containment decision over MATCHED (not equal)
    frames. Oracle replays the closed-form frame words, the banding,
    and the min-side matched count."""
    return M.video_near_dup_pairs(
        _video_frame_hashes_shared(spark, sf_dir),
        bands=_video_bands_shared(spark, sf_dir),
    )


def _video_bands_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video frame bands, hot-pruned at the cap 'auto' resolves for
    this corpus and staged per (process, corpus) — the cap resolution
    (one distinct-docs count) runs once inside the staging build, so
    repeated evaluations skip both the explode and the hot-count
    anti-join, like the image path."""
    from rds_pgbadger_etl_spark.operators.multimodal import (
        _auto_band_cap,
    )
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    def build():
        bands = M.video_frame_bands(
            _video_frame_hashes_shared(spark, sf_dir)
        )
        return M.prune_hot_bands(bands, _auto_band_cap(bands, "auto"), [])

    return shared_df(spark, "video_bands_pruned", sf_dir, build)


_MULTIMODAL_VIDEO_NEAR_SQL = f"""
WITH {_VIDEO_WORDS_CTES},
hset AS (
  SELECT DISTINCT doc_id,
         lower(lpad(to_hex(hi), 8, '0') || lpad(to_hex(lo), 8, '0')) AS ah,
         hi, lo
  FROM words
),
fb AS (
  SELECT doc_id, ah, hi, lo, b.i AS band,
         CASE b.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
                  WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS val
  FROM hset, range(4) b(i)
),
fpairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.ah AS ha, r.ah AS hb
  FROM fb l
  JOIN fb r ON l.band = r.band AND l.val = r.val
           AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.hi, r.hi)) + bit_count(xor(l.lo, r.lo)) <= 3
),
m AS (
  SELECT a, b, count(DISTINCT ha) AS ma, count(DISTINCT hb) AS mb
  FROM fpairs GROUP BY a, b
),
sizes AS (SELECT doc_id, count(*) AS nh FROM hset GROUP BY doc_id)
SELECT m.a, m.b,
       cast(CASE WHEN sa.nh <= sb.nh THEN ma ELSE mb END AS int)
         AS matched_frames,
       round(CASE WHEN sa.nh <= sb.nh THEN ma ELSE mb END
             / least(sa.nh, sb.nh), 6) AS containment
FROM m
JOIN sizes sa ON sa.doc_id = m.a
JOIN sizes sb ON sb.doc_id = m.b
WHERE 2 * (CASE WHEN sa.nh <= sb.nh THEN ma ELSE mb END)
      >= least(sa.nh, sb.nh)
"""


# ---------------------------------------------------------------------------
# Training-data assembly: deterministic weighted sampling (data mixing),
# per-group top-k selection, and quantile (curriculum) bucketing.


def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep rates via hash-mod sampling — the scalable,
    reshuffle-free way to mix corpus sources at fixed ratios: a pure
    filter (no sort, no sample() nondeterminism, stable under re-runs
    and partition changes). Rates derive from the source name so the
    oracle is seed-free: src N keeps (N % 4 + 1) * 200 per mille."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (F.substring("source", 4, 10).cast("int") % 4 + 1) * 200
    bucket = hex_hash64(F.col("doc_id").cast("string"), seed="mix:") % 1000
    return (
        docs.filter(bucket < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_SAMPLE_MIX_SQL = """
SELECT source, count(*) AS n_kept,
       cast(sum(n_chars) AS bigint) AS sum_chars
FROM documents
WHERE cast('0x' || substr(md5('mix:' || cast(doc_id AS varchar)), 1, 15)
           AS bigint) % 1000
      < (cast(substr(source, 4) AS int) % 4 + 1) * 200
GROUP BY source
"""


def top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k, two-phase (similarity.topk_per_key): languages
    are FEW, so a single rank window partitioned by lang puts one
    language's entire corpus in one task — the local (lang, input
    partition) prune bounds every sort and the global rank sees ≤
    k x partitions survivors per language."""
    from rds_pgbadger_etl_spark.operators.similarity import topk_per_key

    docs = load_table(spark, sf_dir, "documents")
    return topk_per_key(
        docs.select("lang", "doc_id", "n_chars"),
        "lang",
        [F.col("n_chars").desc(), F.col("doc_id")],
        3,
    ).select(
        "lang", "doc_id", "n_chars", F.col("rank").cast("int").alias("rnk")
    )


_TOP_DOCS_SQL = """
SELECT lang, doc_id, n_chars, rnk FROM (
  SELECT lang, doc_id, n_chars,
         cast(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id) AS int) AS rnk
  FROM documents)
WHERE rnk <= 3
"""


def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quantile bucketing per language (curriculum phases by doc
    length): equal-frequency bins with a deterministic tiebreak.

    Scale note: exact ntile needs each language's full order in one
    window partition; at 100 TB use the quality_deciles stratified plan
    (percentile_approx cut points per lang → window BY (lang, stratum)
    with exact offset arithmetic — rank-equivalent, bounded partitions,
    plans/llm_ops.quality_deciles)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("tile", F.ntile(4).over(w))
        .groupBy("lang", "tile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_CURRICULUM_SQL = """
SELECT lang, tile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM (
  SELECT lang, n_chars,
         cast(ntile(4) OVER (PARTITION BY lang
                             ORDER BY n_chars, doc_id) AS int) AS tile
  FROM documents)
GROUP BY lang, tile
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: TF-IDF keyword extraction — top-3 terms per document.

    Corpus-wide stats via two hash aggregations (term-frequency, then
    document-frequency) and one join on term; the rank ordering is
    integer-only (tf desc, df asc, term) so the top-3 set is bit-stable
    across engines — the float tfidf is carried as a value, never used
    to rank. The df-table join is deliberately NOT broadcast-hinted: at
    100 TB of web text the raw vocabulary is hundreds of millions of
    terms and not broadcastable, so the join shuffles on ``term`` and AQE
    promotes it to broadcast only when the measured size allows (as it
    does at test scale). Only the one-row corpus count broadcasts
    unconditionally."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds both the per-doc ranking and the document-frequency agg;
    # without persist Catalyst re-runs the corpus explode for each branch
    # (two Generate scans — a full duplicate pass at 100 TB, where this
    # intermediate would be a written table).
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df"), F.col("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((1.0 + F.col("n_total")) / (1.0 + F.col("df"))),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


_TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_total FROM documents)
SELECT doc_id, term, tf, df, tfidf FROM (
  SELECT f.doc_id, f.term, f.tf, d.df,
         f.tf * ln((1.0 + n.n_total) / (1.0 + d.df)) AS tfidf,
         row_number() OVER (PARTITION BY f.doc_id
                            ORDER BY f.tf DESC, d.df, f.term) AS rnk
  FROM tf f JOIN dfreq d USING (term) CROSS JOIN n
) WHERE rnk <= 3
"""


_PROFILE_NUM = {
    "o_orderkey": "o_orderkey",
    "o_custkey": "o_custkey",
    "o_totalprice": "o_totalprice",
    "o_orderdate": "cast(o_orderdate AS double)",  # epoch seconds
}
_PROFILE_STR = ["o_orderstatus", "o_orderpriority"]


def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiler: per-column null count, EXACT distinct
    count and min/max in ONE scan of the table (the profile-before-train
    step of a data pipeline).

    Shape: unpivot first (``stack`` → one (col_name, value) row per
    cell), then TWO hash aggregates — (col_name, value) to collapse
    duplicates with map-side combine, then col_name for the metrics.
    This is the scale shape for exact multi-column distincts: both
    aggregations are plain HashAggregates (the naive
    ``agg(countDistinct×N)`` alternative plans sort-based valueSet
    buffers — measured ~3x slower at sf0.1 — and buffers every distinct
    value per group in memory). Plan-shape-tested: exactly one parquet
    scan, never a scan per column. At 100 TB with ``approx_count_
    distinct`` the first aggregate disappears entirely and the Expand
    collapses into one sketch aggregate; exact distincts are what makes
    the DuckDB oracle comparable here."""
    o = load_table(spark, sf_dir, "orders")
    parts = [
        f"'{c}', cast(({expr}) AS double), cast(null AS string)"
        for c, expr in _PROFILE_NUM.items()
    ] + [f"'{c}', cast(null AS double), {c}" for c in _PROFILE_STR]
    cells = o.select(
        F.expr(
            f"stack({len(parts)}, " + ", ".join(parts) + ") AS "
            "(col_name, vnum, vstr)"
        )
    )
    per_value = cells.groupBy("col_name", "vnum", "vstr").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_null = F.col("vnum").isNull() & F.col("vstr").isNull()
    return per_value.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(is_null, F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_nulls"
        ),
        F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
        F.round(F.min("vnum"), 6).alias("min_num"),
        F.round(F.max("vnum"), 6).alias("max_num"),
        F.min("vstr").alias("min_str"),
        F.max("vstr").alias("max_str"),
    )


def _profile_row_sql(c: str, expr: str | None) -> str:
    if expr is not None:
        return f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({expr}) AS n_nulls,
       cast(count(DISTINCT {expr}) AS bigint) AS n_distinct,
       round(cast(min({expr}) AS double), 6) AS min_num,
       round(cast(max({expr}) AS double), 6) AS max_num,
       cast(NULL AS varchar) AS min_str, cast(NULL AS varchar) AS max_str
FROM orders"""
    return f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       cast(count(DISTINCT {c}) AS bigint) AS n_distinct,
       cast(NULL AS double) AS min_num, cast(NULL AS double) AS max_num,
       min({c}) AS min_str, max({c}) AS max_str
FROM orders"""


_DATA_PROFILE_SQL = " UNION ALL ".join(
    [
        _profile_row_sql(c, "epoch(o_orderdate)" if c == "o_orderdate" else c)
        for c in _PROFILE_NUM
    ]
    + [_profile_row_sql(c, None) for c in _PROFILE_STR]
)


INDEX_MIN_DF = 3
INDEX_POSTINGS_CAP = 20


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency, collection
    frequency, and the head of the (sorted) posting list. Two hash
    aggregations — (doc, term) then term — both map-side combinable.
    The postings head is capped (first {cap} doc ids) so result rows
    stay bounded for the driver compare; the full-scale variant writes
    the complete posting array to parquet partitioned by hash(term),
    which is the same plan minus the slice. Frequency floor df >=
    {min_df} drops the hapax tail (at web scale the floor is what keeps
    the index build's output ∝ useful vocabulary, not corpus size)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.concat_ws(
                ",",
                F.slice(
                    F.sort_array(F.collect_list("doc_id")),
                    1,
                    INDEX_POSTINGS_CAP,
                ),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= INDEX_MIN_DF)
    )


_INVERTED_INDEX_SQL = f"""
WITH terms AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term)
SELECT term, count(*) AS df, cast(sum(tf) AS bigint) AS cf,
       array_to_string(
         list_slice(list_sort(list(doc_id)), 1, {INDEX_POSTINGS_CAP}), ','
       ) AS postings_head
FROM tf GROUP BY term HAVING count(*) >= {INDEX_MIN_DF}
"""


def quality_filter_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gating: instead of one global threshold (which
    over-filters low-resource languages), keep each doc scoring at or
    above its OWN language's 25th percentile. Two passes over the corpus
    — score+percentile, then score+filter — with the per-language
    threshold table (tiny: one row per language) broadcast back. The
    score is a pure map, so recomputing it on the second pass is the
    100 TB choice (cheaper than materializing a scored copy of the
    corpus); at scale the exact percentile becomes approx_percentile
    (mergeable sketch, same plan otherwise)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", X.quality_score("text"))
    thresholds = scored.groupBy("lang").agg(
        F.percentile("quality", 0.25).alias("q25")
    )
    return (
        scored.join(F.broadcast(thresholds), "lang")
        .filter(F.col("quality") >= F.col("q25"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_QUALITY_ADAPTIVE_SQL = f"""
WITH scored AS (
  SELECT lang, source, n_chars, {_QUALITY_SQL} AS quality FROM documents
),
thr AS (SELECT lang, quantile_cont(quality, 0.25) AS q25
        FROM scored GROUP BY lang)
SELECT s.lang, s.source, count(*) AS n_kept,
       cast(sum(s.n_chars) AS bigint) AS sum_chars
FROM scored s JOIN thr ON s.lang = thr.lang
WHERE s.quality >= thr.q25
GROUP BY s.lang, s.source
"""


CHAR_BUDGET_PER_SOURCE = 20_000


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-bounded corpus mixing: each source contributes documents —
    in seeded-hash order, so the draw is uniform and re-run-stable —
    until its running character budget is exhausted; the budget filter
    is a pure predicate on the cumulative sum. The running sum is the
    distributed prefix sum (functions/agg.segmented_cumsum): sources
    are FEW, so a single per-source cumsum window would sort one
    source's whole stream in one task — instead bounded partition-local
    cumsums plus metadata-sized per-source offsets, row-identical to
    the window (the oracle still uses the plain SQL window: hash
    equality is the proof). Only (source, doc_id, n_chars) triples move
    — never the text."""
    from rds_pgbadger_etl_spark.functions.agg import segmented_cumsum

    docs = load_table(spark, sf_dir, "documents")
    rk = hex_hash64(F.col("doc_id").cast("string"), seed="budget:")
    base = docs.select("doc_id", "source", "n_chars", rk.alias("_rk"))
    return (
        segmented_cumsum(
            base, ["source"], ["_rk", "doc_id"], "n_chars",
            out_col="cum_chars",
        )
        .filter(F.col("cum_chars") <= CHAR_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "n_chars", "cum_chars")
    )


_TOKEN_BUDGET_SQL = f"""
SELECT doc_id, source, n_chars, cum_chars FROM (
  SELECT doc_id, source, n_chars,
         cast(sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY cast('0x' || substr(md5('budget:' || cast(doc_id AS varchar)),
                         1, 15) AS bigint), doc_id
           ROWS UNBOUNDED PRECEDING) AS bigint) AS cum_chars
  FROM documents
) WHERE cum_chars <= {CHAR_BUDGET_PER_SOURCE}
"""


EMB_DIMS = 64


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: distance of every vector to
    its label's centroid, flagged against the label's own p90 — the
    standard embedding-QA step before clustering or dedup (mislabeled /
    corrupt vectors sit far from their centroid).

    Centroids come from one posexplode + (label, dim) hash aggregate —
    the dim-unpivoted shape shuffles (label, dim, partial-sum) triples,
    never whole vectors, and the resulting centroid table (n_labels ×
    dims) is tiny and broadcast back. Centroid components and distances
    round to 6 decimals so the float reduction is engine-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cents = dims.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("cent")
    )
    dist = (
        dims.join(F.broadcast(cents), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.pow(F.col("val") - F.col("cent"), 2))), 6
            ).alias("dist")
        )
    )
    thr = dist.groupBy("label").agg(F.percentile("dist", 0.9).alias("p90"))
    return dist.join(F.broadcast(thr), "label").select(
        "vec_id",
        "label",
        "dist",
        (F.col("dist") > F.col("p90")).cast("int").alias("is_outlier"),
    )


_EMB_OUTLIERS_SQL = f"""
WITH dims AS (
  SELECT vec_id, label, t.i AS dim, cast(embedding[t.i + 1] AS double) AS val
  FROM embeddings, generate_series(0, {EMB_DIMS - 1}) t(i)
  WHERE t.i < len(embedding)
),
cents AS (SELECT label, dim, round(avg(val), 6) AS cent
          FROM dims GROUP BY label, dim),
dist AS (
  SELECT vec_id, d.label,
         round(sqrt(sum(pow(d.val - c.cent, 2))), 6) AS dist
  FROM dims d JOIN cents c ON d.label = c.label AND d.dim = c.dim
  GROUP BY vec_id, d.label
),
thr AS (SELECT label, quantile_cont(dist, 0.9) AS p90 FROM dist GROUP BY label)
SELECT vec_id, dist.label, dist, cast(dist > p90 AS int) AS is_outlier
FROM dist JOIN thr ON dist.label = thr.label
"""


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 support: k-means refinement of the IVF coarse quantizer
    (deterministic init, 2 Lloyd rounds — fixed so the DuckDB oracle can
    unroll the identical iterations as CTEs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_refine(emb)


_KMEANS_DIST = (
    "round(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}), 6)"
)

_KMEANS_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS emb
  FROM embeddings
),
c0 AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.KMEANS_K}),
s1 AS (
  SELECT e.vec_id, c0.cell,
         {_KMEANS_DIST.format(a="e.emb", b="c0.c_emb")} AS dist,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_KMEANS_DIST.format(a="e.emb", b="c0.c_emb")}, c0.cell
         ) AS rn
  FROM e CROSS JOIN c0
),
a1 AS (SELECT vec_id, cell FROM s1 WHERE rn = 1),
c1dim AS (
  SELECT a1.cell, t.i AS dim, round(avg(e.emb[t.i + 1]), 6) AS c
  FROM a1 JOIN e USING (vec_id), generate_series(0, {S.DIM - 1}) t(i)
  WHERE t.i < len(e.emb)
  GROUP BY a1.cell, t.i
),
c1 AS (SELECT cell, list(c ORDER BY dim) AS c_emb FROM c1dim GROUP BY cell),
s2 AS (
  SELECT e.vec_id, c1.cell,
         {_KMEANS_DIST.format(a="e.emb", b="c1.c_emb")} AS dist,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_KMEANS_DIST.format(a="e.emb", b="c1.c_emb")}, c1.cell
         ) AS rn
  FROM e CROSS JOIN c1
)
SELECT vec_id, cell AS cluster, dist FROM s2 WHERE rn = 1
"""


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: filtered vector search — top-k among same-label vectors
    only (the predicate joins on label, it doesn't post-filter)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.filtered_topk(emb, _QUERY_IDS, _TOPK)


_ANN_FILTERED_SQL = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb FROM e
      WHERE vec_id IN ({{qids}})),
sims AS (
  SELECT q.q_id, e.vec_id, e.label,
         round(list_dot_product(q.q_emb, e.emb)
               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                  * sqrt(list_dot_product(e.emb, e.emb))), 6) AS sim
  FROM e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id
)
SELECT q_id, vec_id, label, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {{k}}
""".format(qids=", ".join(map(str, _QUERY_IDS)), k=_TOPK)


def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination report: for every pair of sources, the
    number of distinct 8-grams they share — the dataset-overlap matrix a
    pipeline reads before mixing corpora (high overlap ⇒ dedup across
    the pair before weighting them as independent sources).

    Reuses the decontamination gram machinery: distinct (source, gram)
    once, persisted, then a self-join on gram. Pair blowup per gram is
    bounded by n_sources², and the join shuffles (source, gram) pairs
    only — at 100 TB this is ~one narrow shuffle of the distinct-gram
    table, not a doc-level cross join."""
    from rds_pgbadger_etl_spark.operators.curation import word_ngram_grams

    docs = load_table(spark, sf_dir, "documents")
    sg = (
        word_ngram_grams(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "gram")
        .distinct()
        .persist()
    )
    a = sg.select(F.col("source").alias("source_a"), "gram")
    b = sg.select(F.col("source").alias("source_b"), "gram")
    return (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


_OVERLAP_SQL = """
WITH ws AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), w -> w <> '')[1:256] AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(ws[i:i + 7], ' ') AS gram
  FROM ws,
       unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)
),
sg AS (SELECT DISTINCT source, gram FROM grams)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS shared_grams
FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2
"""


EDIT_BLOCK_PREFIX = 8
EDIT_MAX_DIST = 10
TITLE_LEN = 40


def title_block_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution shape: blocked edit-distance matching on doc
    "titles" (first {len} chars). Candidate generation is a BLOCKING-KEY
    equi-join (shared {p}-char prefix) — never an all-pairs levenshtein;
    the quadratic verify runs only inside blocks, which at 100 TB is the
    difference between a shuffle join on the block key and an
    unrunnable corpus² cross join. Verification is the built-in
    levenshtein (codegen), threshold {d}."""
    docs = load_table(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id",
        F.substring("text", 1, TITLE_LEN).alias("title"),
        F.substring("text", 1, EDIT_BLOCK_PREFIX).alias("block"),
    )
    a = titled.select(
        F.col("doc_id").alias("a"), F.col("title").alias("ta"), "block"
    )
    b = titled.select(
        F.col("doc_id").alias("b"), F.col("title").alias("tb"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("a") < F.col("b"))
        .withColumn("edit_dist", F.levenshtein("ta", "tb"))
        .filter(F.col("edit_dist") <= EDIT_MAX_DIST)
        .select("a", "b", "edit_dist")
    )


_TITLE_BLOCK_SQL = f"""
WITH titled AS (
  SELECT doc_id, substr(text, 1, {TITLE_LEN}) AS title,
         substr(text, 1, {EDIT_BLOCK_PREFIX}) AS block
  FROM documents
)
SELECT x.doc_id AS a, y.doc_id AS b,
       cast(levenshtein(x.title, y.title) AS int) AS edit_dist
FROM titled x JOIN titled y
  ON x.block = y.block AND x.doc_id < y.doc_id
WHERE levenshtein(x.title, y.title) <= {EDIT_MAX_DIST}
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Flesch-style readability per language — words/sentence and a
    vowel-group syllable proxy, all regexp_count built-ins (codegen).
    Per-doc scores round to 6 before the decimal-exact average so the
    cross-engine sum is bit-stable (same shape as text_stats'
    avg_quality)."""
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    words = F.regexp_count("text", F.lit(r"\S+")).cast("double")
    sentences = (F.regexp_count("text", F.lit(r"[.!?]")) + 1).cast("double")
    syllables = F.regexp_count(F.lower("text"), F.lit("[aeiou]+")).cast(
        "double"
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words),
        6,
    )
    return (
        docs.withColumn("flesch", flesch)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("flesch").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_flesch"),
        )
    )


_READABILITY_SQL = r"""
WITH scored AS (
  SELECT lang,
         round(206.835
               - 1.015 * (cast(len(regexp_extract_all(text, '\S+')) AS double)
                          / cast(len(regexp_extract_all(text, '[.!?]')) + 1
                                 AS double))
               - 84.6 * (cast(len(regexp_extract_all(lower(text), '[aeiou]+'))
                              AS double)
                         / cast(len(regexp_extract_all(text, '\S+'))
                                AS double)),
               6) AS flesch
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       cast(sum(cast(flesch AS decimal(20,6))) AS double) / count(*)
         AS avg_flesch
FROM scored GROUP BY lang
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 companion: containment (|A∩B| / min set size) over the same
    LSH candidates — subset-duplication (quotes/excerpts) that symmetric
    Jaccard under-scores. Materialized once per (session, sf_dir) like
    _near_pairs / dedup_ngram_jaccard: each evaluation was re-running
    the shingle→MinHash→band→verify pipeline (including the
    auto-strategy candidate count) from scratch — at 100 TB this is the
    written pair table consumers read, not a per-report recomputation."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "containment_pairs_0.8",
        sf_dir,
        lambda: D.containment_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.8
        ),
    )


_CONTAINMENT_SQL = f"""
WITH {_NEAR_PAIRS_CTES}
SELECT i.a, i.b,
       cast(i.inter AS double) / cast(least(na.n, nb.n) AS double)
         AS containment
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
WHERE cast(i.inter AS double) / cast(least(na.n, nb.n) AS double) >= 0.8
"""


def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: containment with GUARANTEED recall — prefix-filter candidates
    (rarest shingles of the smaller side) instead of resemblance bands,
    recovering the tiny-excerpt-inside-huge-doc pairs the LSH pipeline
    documents as missable. Output is candidate-order-independent
    ("all pairs with containment >= t"), so the oracle is the direct
    brute-force formula, not a replay of the candidate scheme.
    Materialized once per (session, sf_dir) like dedup_containment —
    same staged-pair-table rationale."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "containment_prefix_pairs_0.8",
        sf_dir,
        lambda: D.containment_prefix_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.8
        ),
    )


def containment_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation report over the two staged containment pair tables —
    the consumer that makes their per-process materialization a real
    written artifact (each table is now read by its own query AND this
    report, the `_near_pairs` multi-consumer shape): per candidate
    scheme, the pair count, the containment range, and the pairs the
    OTHER scheme missed. The prefix-filter scheme is provably complete
    at the threshold (pigeonhole — see containment_prefix_pairs), so
    its `n_only_this_scheme` IS the band scheme's documented recall gap
    (excerpt-inside-host pairs resemblance bands cannot catch), and the
    band row's own gap count is structurally 0 — the report is how an
    operator decides whether LSH banding alone leaves containment
    duplicates in a corpus. min/max (not avg) keep every value
    summation-order-free, so the oracle hashes exactly."""
    band = dedup_containment(spark, sf_dir)
    pfx = dedup_containment_prefix(spark, sf_dir)

    def leg(df: DataFrame, other: DataFrame, name: str) -> DataFrame:
        gap = df.join(other.select("a", "b"), ["a", "b"], "left_anti")
        stats = df.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("containment"), 6).alias("min_containment"),
            F.round(F.max("containment"), 6).alias("max_containment"),
        )
        return stats.crossJoin(
            F.broadcast(
                gap.agg(F.count(F.lit(1)).alias("n_only_this_scheme"))
            )
        ).select(
            F.lit(name).alias("scheme"),
            "n_pairs",
            "min_containment",
            "max_containment",
            "n_only_this_scheme",
        )

    return leg(band, pfx, "bands").unionAll(leg(pfx, band, "prefix"))


# The prefix-filtered pipeline provably generates a superset of all
# qualifying pairs (pigeonhole on the smaller side's prefix), and exact
# verification then cuts it to precisely "all pairs >= t" — so the
# oracle computes that set directly over the full inverted index.
_CONTAINMENT_PREFIX_SQL = f"""
WITH sh0 AS ({_SH_SQL}),
s AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS inter
  FROM s sa JOIN s sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
)
SELECT i.a, i.b,
       cast(i.inter AS double) / cast(least(na.n, nb.n) AS double)
         AS containment
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
WHERE cast(i.inter AS double) / cast(least(na.n, nb.n) AS double) >= 0.8
"""


# Report twin: both pair sets re-derived inline (DuckDB allows a CTE
# chain inside a subquery, so the two schemes' colliding CTE names stay
# scoped); min/max aggregates are summation-order-free by construction.
_CONTAINMENT_REPORT_SQL = f"""
WITH bandp AS (SELECT * FROM ({_CONTAINMENT_SQL})),
pfxp AS (SELECT * FROM ({_CONTAINMENT_PREFIX_SQL}))
SELECT 'bands' AS scheme, count(*) AS n_pairs,
       round(min(containment), 6) AS min_containment,
       round(max(containment), 6) AS max_containment,
       (SELECT count(*) FROM bandp x
        WHERE NOT EXISTS (SELECT 1 FROM pfxp y
                          WHERE y.a = x.a AND y.b = x.b))
         AS n_only_this_scheme
FROM bandp
UNION ALL
SELECT 'prefix', count(*),
       round(min(containment), 6), round(max(containment), 6),
       (SELECT count(*) FROM pfxp x
        WHERE NOT EXISTS (SELECT 1 FROM bandp y
                          WHERE y.a = x.a AND y.b = x.b))
FROM pfxp
"""


# ---------------------------------------------------------------------------
# X2 incremental-ingest artifact: the persisted dedup signature store
# (operators/dedup_index.py). The registered staging exercises the FULL
# lifecycle — build on 40% of the corpus, append another 40% (O(batch),
# no rewrite), then look up the remaining 20% as the "new batch" — so
# the oracle (the one-shot SQL over the union, no store anywhere)
# hash-checks build, append, and lookup in one query.
_DEDUP_INDEX_DIRS: dict[str, str] = {}


def _dedup_index_shared(spark: SparkSession, sf_dir: str) -> str:
    from rds_pgbadger_etl_spark.operators.dedup_index import (
        append_to_dedup_index,
        build_dedup_index,
    )

    d = _DEDUP_INDEX_DIRS.get(sf_dir)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="dedup_index_")
        docs = load_table(spark, sf_dir, "documents")
        build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 4), d)
        append_to_dedup_index(
            spark,
            docs.filter(
                (F.col("doc_id") % 10 >= 4) & (F.col("doc_id") % 10 < 8)
            ),
            d,
        )
        _DEDUP_INDEX_DIRS[sf_dir] = d
    return d


def _lookup_batch_encoded(spark: SparkSession, sf_dir: str):
    """(profiles, bands) of the registered "new batch" (doc_id%10 >=
    8), encoded once per (session, sf_dir): BOTH lookup queries (plain
    store and tombstoned store) probe with the identical batch, and the
    store verbs' own discipline is encode-each-batch-exactly-once
    (operators/dedup_index._lookup_encoded — streaming ingest already
    shares one encode between flagging and append). Bands derive from
    the sigs already in the staged profile rows — a projection, no
    second pass over text."""
    from rds_pgbadger_etl_spark.operators import dedup_index as DI
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    def build():
        docs = load_table(spark, sf_dir, "documents")
        prof, _ = DI._encode(
            docs.filter(F.col("doc_id") % 10 >= 8), "doc_id", "text"
        )
        return prof

    prof = shared_df(spark, "dedup_lookup_batch_prof", sf_dir, build)
    return prof, DI.lsh_bands(prof, "doc_id")


def dedup_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: near-dup check of a new batch (doc_id%10 >= 8) against the
    persisted signature store holding the other 80% — the old corpus is
    never re-read or re-shingled; candidates come from the store's
    partition-pruned band table, verification from its shingle-profile
    buckets. Oracle = the same pipeline as one SQL over the union
    corpus, restricted to (old, new) role pairs."""
    from rds_pgbadger_etl_spark.operators import dedup_index as DI

    prof, bands = _lookup_batch_encoded(spark, sf_dir)
    result, _pinned = DI._lookup_encoded(
        spark,
        prof,
        bands,
        _dedup_index_shared(spark, sf_dir),
        threshold=0.5,
    )
    return result


_DEDUP_INDEX_SQL = f"""
WITH sh0 AS ({_SH_SQL}),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM sh0 GROUP BY doc_id),
bands AS (
  SELECT DISTINCT doc_id, band FROM (
    SELECT doc_id,
           unnest([md5(cast(sig1 AS varchar) || ':' || cast(sig2 AS varchar)),
                   md5(cast(sig3 AS varchar) || ':' || cast(sig4 AS varchar))])
             AS band
    FROM sigs)
),
cand AS (
  SELECT DISTINCT l.doc_id AS old_id, r.doc_id AS new_id
  FROM bands l JOIN bands r ON l.band = r.band
  WHERE l.doc_id % 10 < 8 AND r.doc_id % 10 >= 8
),
s AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.old_id, c.new_id, count(*) AS inter
  FROM cand c
  JOIN s sa ON sa.doc_id = c.old_id
  JOIN s sb ON sb.doc_id = c.new_id AND sb.shingle = sa.shingle
  GROUP BY c.old_id, c.new_id
)
SELECT i.old_id, i.new_id,
       cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double)
         AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.old_id
JOIN sizes nb ON nb.doc_id = i.new_id
WHERE cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double) >= 0.5
"""


def _dedup_index_delete_shared(spark: SparkSession, sf_dir: str) -> str:
    """The delete-lifecycle staging: the same 80% store, with every old
    id ≡ 0 (mod 10) tombstoned — a stratum chosen static so the SQL twin
    can name it, and verified non-empty in the baseline lookup result at
    every test sf (the filter provably bites in the hash-checked path,
    not just in tests)."""
    from rds_pgbadger_etl_spark.operators.dedup_index import (
        build_dedup_index,
        delete_from_dedup_index,
    )

    key = sf_dir + "#delete"
    d = _DEDUP_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="dedup_index_delete_")
        docs = load_table(spark, sf_dir, "documents")
        build_dedup_index(spark, docs.filter(F.col("doc_id") % 10 < 8), d)
        delete_from_dedup_index(
            spark,
            docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"),
            d,
        )
        _DEDUP_INDEX_DIRS[key] = d
    return d


def dedup_index_delete_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 lifecycle: the batch lookup over a store with tombstoned ids —
    deleted documents must vanish from the near-dup flags with zero
    partition rewrites (the tombstone anti-join filters the band probe,
    so a deleted doc can never even become a candidate). Oracle = the
    lookup twin minus the tombstoned stratum, so ``M.live`` is
    hash-checked in the oracled path — the dedup sibling of
    ``ann_index_delete_topk``; the physical-apply path (compaction
    clears tombstones, results unchanged) is pinned in
    tests/test_dedup_index.py."""
    from rds_pgbadger_etl_spark.operators import dedup_index as DI

    # same staged batch encode as dedup_index_lookup — the two queries
    # probe different stores with the identical batch
    prof, bands = _lookup_batch_encoded(spark, sf_dir)
    result, _pinned = DI._lookup_encoded(
        spark,
        prof,
        bands,
        _dedup_index_delete_shared(spark, sf_dir),
        threshold=0.5,
    )
    return result


def dedup_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 lifecycle: layout audit over the build+append signature store
    (the shared staging): rows/partition skew and files/partition per
    artifact table — the numbers that say when to run
    compact_dedup_index (max_part_files rises one file-set per append;
    here build+append ⇒ 2). Rows-only by design: physical file layout
    has no SQL-expressible DuckDB twin — the ann_index_stats contract."""
    from rds_pgbadger_etl_spark.operators import dedup_index as DI

    return DI.dedup_index_stats(spark, _dedup_index_shared(spark, sf_dir))


# The twin is the lookup SQL minus the tombstoned stratum — the exact
# relational meaning of the reader's anti-join on the band probe.
_LOOKUP_GUARD = (
    "WHERE cast(i.inter AS double) / cast(na.n + nb.n - i.inter AS double)"
    " >= 0.5"
)
assert _LOOKUP_GUARD in _DEDUP_INDEX_SQL
_DEDUP_DELETE_SQL = _DEDUP_INDEX_SQL.replace(
    _LOOKUP_GUARD, _LOOKUP_GUARD + " AND (i.old_id % 10) <> 0"
)


CANONICAL_SAMPLE_K = 20


def canonical_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition: dedup-aware sampling — draw the per-source
    sample from CANONICAL docs only (one survivor per near-dup cluster),
    so duplicates can never be sampled twice under different ids. This
    is the dedup → sample order every pretraining pipeline runs; the
    oracle recomputes the full chain (LSH pairs → recursive-CTE
    components → canonical filter → seeded-hash rank)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # shared staged cluster map (one CC iteration per process, not per
    # evaluation) — same table dedup_clusters reads
    assign = _cluster_assignments(spark, sf_dir)
    canon = docs.join(
        assign.filter(F.col("is_canonical") == 1).select("doc_id"), "doc_id"
    )
    rk = hex_hash64(F.col("doc_id").cast("string"), seed="canon:")
    # two-phase per-source sample pick (sources are FEW — a single rank
    # window would sort one source's whole corpus in one task)
    from rds_pgbadger_etl_spark.operators.similarity import topk_per_key

    return topk_per_key(
        canon.select("doc_id", "source", "n_chars"),
        "source",
        [rk.asc(), F.col("doc_id").asc()],
        CANONICAL_SAMPLE_K,
    ).select("doc_id", "source", "n_chars")


_CANONICAL_SAMPLE_SQL = f"""
WITH RECURSIVE {{ctes}},
pairs AS ({{final}}),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b, a FROM pairs),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, min(dst) AS min_reach FROM reach GROUP BY src),
canon AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
  WHERE coalesce(least(c.doc_id, c.min_reach), d.doc_id) = d.doc_id
),
ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY cast('0x' || substr(md5('canon:' || cast(doc_id AS varchar)),
                         1, 15) AS bigint), doc_id
         ) AS rn
  FROM canon
)
SELECT doc_id, source, n_chars FROM ranked WHERE rn <= {CANONICAL_SAMPLE_K}
""".format(ctes=_NEAR_PAIRS_CTES, final=_NEAR_PAIRS_FINAL)


# ---------------------------------------------------------------------------
# Boilerplate mining: token 5-grams shared across documents (the
# C4/RefinedWeb boilerplate-removal primitive). Per-doc DISTINCT before
# the corpus count kills within-doc repeats early (map-side), so the
# final aggregate is over (doc, gram) pairs, ∝ corpus size — one explode
# + two hash aggregates + top-K; no self-join anywhere.
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    tk = F.split("text", " ")
    grams = F.when(
        F.size(tk) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 4),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 2)
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(20)
    )


_BOILERPLATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS gram
  FROM toks, unnest(range(1, greatest(len(tk) - 3, 1))) AS t(i)
  WHERE len(tk) >= 5
)
SELECT gram, count(*) AS doc_freq
FROM grams GROUP BY gram HAVING count(*) >= 2
ORDER BY doc_freq DESC, gram LIMIT 20
"""


# Unigram language-model scoring (perplexity proxy): corpus token
# frequencies → per-doc mean negative log-likelihood; the 20 most
# "surprising" docs. The token→frequency join is a shuffle join on the
# token (the vocabulary is NOT broadcast — same scale rule as
# text_tfidf_top_terms: at web scale the vocabulary is huge; AQE may
# still pick broadcast when it measures small). Ranking is on the
# 6-rounded score with doc_id tiebreak, so the top-K set is exact.
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = toks.agg(F.count(F.lit(1)).alias("tot"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("n").cast("double") / F.col("tot"))), 6
            ).alias("avg_neg_logprob"),
        )
        .orderBy(F.col("avg_neg_logprob").desc(), "doc_id")
        .limit(20)
    )


_UNIGRAM_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
total AS (SELECT count(*) AS tot FROM toks)
SELECT t.doc_id, count(*) AS n_tokens,
       round(avg(-ln(cast(f.n AS double) / tot)), 6) AS avg_neg_logprob
FROM toks t JOIN freq f USING (tok) CROSS JOIN total
GROUP BY t.doc_id
ORDER BY avg_neg_logprob DESC, t.doc_id LIMIT 20
"""


# Winnowing (Schleimer/Wilkerson/Aiken MOSS): per-doc char-8-gram
# hashes, a gram is selected as a fingerprint when it is the minimum of
# its forward window of 4 — the local-min simplification of winnowing
# (guarantees ≥1 selection per window; deterministic, no rightmost-tie
# rule needed since the 60-bit hashes are effectively collision-free
# within a doc). One explode + one per-doc window + one aggregate.
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = rebalance(load_table(spark, sf_dir, "documents"))
    head = F.substring("text", 1, D.TEXT_CAP)
    n_pos = F.greatest(F.length(head) - 7, F.lit(1))
    pos = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n_pos)).alias("i"),
        head.alias("head"),
    ).select(
        "doc_id",
        "i",
        hex_hash64(F.substring(F.col("head"), F.col("i"), 8)).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, 3)
    )
    sel = pos.withColumn("wmin", F.min("h").over(w))
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("h") == F.col("wmin"), 1).otherwise(0)).alias(
            "n_selected"
        ),
        F.countDistinct(
            F.when(F.col("h") == F.col("wmin"), F.col("h"))
        ).alias("n_distinct_fps"),
    )


_WINNOWING_SQL = f"""
WITH pos AS (
  SELECT doc_id, i,
         cast('0x' || substr(md5(substr(substr(text, 1, {D.TEXT_CAP}), i, 8)),
              1, 15) AS bigint) AS h
  FROM documents,
       unnest(range(1, greatest(length(substr(text, 1, {D.TEXT_CAP})) - 7, 1)
                       + 1)) AS t(i)
),
sel AS (
  SELECT doc_id, h,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM pos
)
SELECT doc_id, count(*) AS n_grams,
       cast(sum(CASE WHEN h = wmin THEN 1 ELSE 0 END) AS bigint)
         AS n_selected,
       cast(count(DISTINCT CASE WHEN h = wmin THEN h END) AS bigint)
         AS n_distinct_fps
FROM sel GROUP BY doc_id
"""


# Scalar (per-dimension int8) embedding quantization — the 4× memory
# lever for ANN at scale: explode to (vec, dim, x), per-dim global
# min/max (64-row aggregate, broadcast back), code = round(255·(x−min)/
# (max−min)), report per-dim reconstruction error. Element-wise double
# math — no reordering — so codes are bit-identical across engines.
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    stats = e.groupBy("dim").agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    code = F.round((F.col("x") - F.col("vmin")) / scale).cast("int")
    err = F.abs(F.col("x") - (F.col("vmin") + code.cast("double") * scale))
    return (
        e.join(F.broadcast(stats), "dim")
        .select("dim", "vmin", "vmax", code.alias("code"), err.alias("err"))
        .groupBy("dim")
        .agg(
            F.round(F.max("vmin"), 6).alias("vmin"),
            F.round(F.max("vmax"), 6).alias("vmax"),
            F.countDistinct("code").alias("n_codes"),
            F.round(F.avg("err"), 9).alias("avg_abs_err"),
        )
    )


_EMBEDDING_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, i AS dim, cast(embedding[i] AS double) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
stats AS (
  SELECT dim, min(x) AS vmin, max(x) AS vmax FROM e GROUP BY dim
),
q AS (
  SELECT e.dim, s.vmin, s.vmax,
         cast(round((e.x - s.vmin) / ((s.vmax - s.vmin) / 255.0))
              AS int) AS code,
         abs(e.x - (s.vmin
             + cast(round((e.x - s.vmin) / ((s.vmax - s.vmin) / 255.0))
                    AS int) * ((s.vmax - s.vmin) / 255.0))) AS err
  FROM e JOIN stats s USING (dim)
)
SELECT dim, round(max(vmin), 6) AS vmin, round(max(vmax), 6) AS vmax,
       cast(count(DISTINCT code) AS bigint) AS n_codes,
       round(avg(err), 9) AS avg_abs_err
FROM q GROUP BY dim
"""


# ---------------------------------------------------------------------------
# Quality-decile stratification — the primitive behind quality-stratified
# mixing ("sample 3x from the top decile"). Contract: identical output to
# exact ntile(10) OVER (ORDER BY q, doc_id) (the DuckDB twin below), but
# WITHOUT a partition-less window: a naive global ntile sorts the whole
# corpus's (doc_id, q) stream in ONE task (the r4 scale-killer). Shipped
# plan instead:
#   1. percentile_approx cut points (one aggregate pass) split q into
#      ~_QD_STRATA coarse strata, CASE-assigned per row — no shuffle.
#   2. per-stratum counts → driver (≤ _QD_STRATA rows, metadata-scale)
#      → cumulative offsets broadcast back.
#   3. global rank = stratum offset + row_number() windowed BY STRATUM
#      (each task sorts ~1/_QD_STRATA of the corpus), then the exact
#      ntile bucket arithmetic from (rank, n_total).
# This is exact at every SF — rank-equivalent to the global sort — not
# merely approximate decile boundaries. Skew caveat: a mass of ties at
# one q value collapses into one stratum; its window task then sorts
# that tie-run alone (still ≪ the full corpus the old plan sorted).

_QD_STRATA = 100


def _exact_ntile(rank: Column, n_total: int, k: int) -> Column:
    """Exact ANSI ntile(k) bucket from a global 1-based rank — the same
    fill rule Spark/DuckDB use: first (n mod k) buckets get one extra."""
    size = n_total // k
    rem = n_total % k
    big_span = (size + 1) * rem
    return (
        F.when(rank <= F.lit(big_span), F.ceil(rank / F.lit(size + 1)))
        .otherwise(F.lit(rem) + F.ceil((rank - F.lit(big_span)) / F.lit(max(size, 1))))
        .cast("int")
    )


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    docs = rebalance(load_table(spark, sf_dir, "documents"))
    scored = shared_df(
        spark,
        "quality_scored",
        sf_dir,
        lambda: docs.select(
            "doc_id",
            X.quality_score("text").alias("q"),
            X.n_tokens("text").alias("toks"),
        ),
    )
    qs = [i / _QD_STRATA for i in range(1, _QD_STRATA)]
    cuts = sorted(
        set(
            scored.agg(
                F.percentile_approx("q", qs, 10_000).alias("c")
            ).collect()[0].c
        )
    )
    cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
    stratum = F.aggregate(
        cut_arr,
        F.lit(0),
        lambda acc, c: acc + F.when(F.col("q") > c, 1).otherwise(0),
    ).alias("stratum")
    staged = scored.select("doc_id", "q", "toks", stratum)

    counts = {
        r.stratum: r.n
        for r in staged.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(counts.values())
    offsets, acc = [], 0
    for s in sorted(counts):
        offsets.append((s, acc))
        acc += counts[s]
    off_df = spark.createDataFrame(offsets, "stratum int, offset long")

    w = Window.partitionBy("stratum").orderBy("q", "doc_id")
    ranked = (
        staged.join(F.broadcast(off_df), "stratum")
        .withColumn("rank", F.col("offset") + F.row_number().over(w))
        .withColumn("decile", _exact_ntile(F.col("rank"), n_total, 10))
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("q"), 6).alias("min_q"),
        F.round(F.max("q"), 6).alias("max_q"),
        F.sum("toks").alias("sum_tokens"),
    )


_QUALITY_DECILES_SQL = f"""
WITH scored AS (
  SELECT doc_id, {_QUALITY_SQL} AS q, {_TOKS_SQL} AS toks FROM documents
)
SELECT cast(decile AS int) AS decile, count(*) AS n_docs,
       round(min(q), 6) AS min_q, round(max(q), 6) AS max_q,
       cast(sum(toks) AS bigint) AS sum_tokens
FROM (SELECT doc_id, q, toks, ntile(10) OVER (ORDER BY q, doc_id) AS decile
      FROM scored)
GROUP BY decile
"""


# ---------------------------------------------------------------------------
# Exact substring overlap (the exact-match complement to MinHash: find
# doc pairs sharing a run of ≥ MIN_RUN consecutive tokens, the
# "deduplicate exact substrings" primitive for training corpora). Plan:
# positional token 8-grams → doc-frequency floor+cap blocking (grams in
# one doc or in > DF_CAP docs never join, so boilerplate can't go
# quadratic) → equi-join on gram hash → gaps-and-islands over matching
# positions per (a, b, offset): a run of m consecutive matching 8-grams
# is m+7 shared tokens. Everything is equi-join + window — no scan×scan.
# Recall caveat (documented on purpose): runs made entirely of
# ultra-common grams are dropped by the DF_CAP block.

_OVL_N = 8          # tokens per gram
_OVL_CAP = 512      # max tokens considered per doc (cost bound)
_OVL_DF_CAP = 50    # grams in more docs than this are boilerplate-blocked
_OVL_MIN_TOKENS = 20  # report runs of at least this many shared tokens


def exact_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    tk = F.slice(F.split(F.col("text"), " "), 1, _OVL_CAP)
    grams_arr = F.when(
        F.size(tk) >= _OVL_N,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - (_OVL_N - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, _OVL_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select(
        "doc_id", F.posexplode(grams_arr).alias("p0", "gram")
    ).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), F.md5("gram").alias("h")
    )
    joinable = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _OVL_DF_CAP))
        .select("h")
    )
    gg = g.join(joinable, "h")
    pairs = (
        gg.select(F.col("doc_id").alias("a"), F.col("pos").alias("pa"), "h")
        .join(
            gg.select(F.col("doc_id").alias("b"), F.col("pos").alias("pb"), "h"),
            "h",
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "pa", (F.col("pb") - F.col("pa")).alias("diff"))
    )
    w = Window.partitionBy("a", "b", "diff").orderBy("pa")
    runs = (
        pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("a", "b", "diff", "grp")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("run_tokens", F.col("m") + F.lit(_OVL_N - 1))
        .filter(F.col("run_tokens") >= _OVL_MIN_TOKENS)
    )
    return runs.groupBy("a", "b").agg(
        F.max("run_tokens").alias("max_overlap_tokens"),
        F.count(F.lit(1)).alias("n_runs"),
    )


_EXACT_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ')[1:{_OVL_CAP}] AS tk FROM documents
),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tk[i:i + {_OVL_N - 1}], ' ')) AS h
  FROM toks, unnest(range(1, greatest(len(tk) - {_OVL_N - 2}, 1))) AS t(i)
  WHERE len(tk) >= {_OVL_N}
),
joinable AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY h)
  WHERE df >= 2 AND df <= {_OVL_DF_CAP}
),
gg AS (SELECT g.* FROM g JOIN joinable USING (h)),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, y.pos - x.pos AS diff
  FROM gg x JOIN gg y ON y.h = x.h AND x.doc_id < y.doc_id
),
runs AS (
  SELECT a, b, diff, grp, count(*) + {_OVL_N - 1} AS run_tokens
  FROM (
    SELECT a, b, diff, pa,
           pa - row_number() OVER (PARTITION BY a, b, diff ORDER BY pa) AS grp
    FROM pairs)
  GROUP BY a, b, diff, grp
  HAVING count(*) + {_OVL_N - 1} >= {_OVL_MIN_TOKENS}
)
SELECT a, b, cast(max(run_tokens) AS bigint) AS max_overlap_tokens,
       count(*) AS n_runs
FROM runs GROUP BY a, b
"""


# ---------------------------------------------------------------------------
# Duplicate-span REMOVAL (ExactSubstr dedup, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better") — the
# removal complement to exact_substring_overlap's pair DETECTION: delete
# from every document each run of >= _OVL_MIN_TOKENS consecutive tokens
# whose content also appears in an EARLIER document (first occurrence
# wins; canonical order = doc_id), and emit the cleaned text plus
# removal accounting. Duplicated-ness of a position is derivable from
# gram-hash grain alone: an 8-gram occurrence is duplicated iff
# min(doc_id) over its hash is an earlier doc — so the plan is
# explode -> groupBy(h).min(doc_id) -> 1:1 equi-join back -> per-doc
# gaps-and-islands -> bounded interval explode -> reassemble. Unlike
# the pair detector there is NO doc x doc join anywhere (the join
# output is exactly |gram occurrences|), so no DF cap is needed and
# boilerplate CANNOT go quadratic: a gram in a million documents
# contributes one narrow row per occurrence and a partial-aggregated
# min. Skew on mega-frequent hashes is absorbed map-side; the token
# explode is bounded by _OVL_CAP per doc. That is the 100 TB shape:
# the suffix-array formulation of the paper is a single-node batch
# algorithm, while this expresses the same removal semantics as three
# shuffles on narrow keys.
#
# Within-doc repeats (first occurrence in the SAME doc) are kept — the
# op removes cross-document duplication only, matching the detector's
# semantics and keeping "first occurrence survives" well-defined.


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.span_removal over the documents table, pinned to
    the module constants the SQL twin bakes in (gram_n=_OVL_N etc. —
    shared with exact_substring_overlap by design: detection and
    removal grade the same duplication)."""
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return D.span_removal(
        docs,
        gram_n=_OVL_N,
        min_run=_OVL_MIN_TOKENS,
        token_cap=_OVL_CAP,
    )


_SPAN_REMOVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ')[1:{_OVL_CAP}] AS tk FROM documents
),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tk[i:i + {_OVL_N - 1}], ' ')) AS h
  FROM toks, unnest(range(1, greatest(len(tk) - {_OVL_N - 2}, 1))) AS t(i)
  WHERE len(tk) >= {_OVL_N}
),
firsts AS (SELECT h, min(doc_id) AS fdoc FROM g GROUP BY h),
dup AS (
  SELECT g.doc_id, g.pos FROM g JOIN firsts USING (h)
  WHERE g.doc_id > firsts.fdoc
),
runs AS (
  SELECT doc_id, min(pos) AS p_lo, count(*) + {_OVL_N - 1} AS run_tokens
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM dup)
  GROUP BY doc_id, grp
  HAVING count(*) + {_OVL_N - 1} >= {_OVL_MIN_TOKENS}
),
covered AS (
  SELECT DISTINCT doc_id, p_lo + o AS pos
  FROM runs, unnest(range(0, run_tokens)) AS t(o)
),
tokens AS (
  SELECT doc_id, len(tk) AS n_tokens, i AS pos, tk[i] AS tok
  FROM toks, unnest(range(1, len(tk) + 1)) AS t(i)
),
flag AS (
  SELECT t.doc_id, t.n_tokens, t.pos, t.tok, c.pos IS NOT NULL AS rm
  FROM tokens t
  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
)
SELECT doc_id,
       cast(max(n_tokens) AS bigint) AS n_tokens,
       cast(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS bigint) AS n_removed,
       coalesce(
         string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos),
         '') AS clean_text
FROM flag GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016, the tokenizer-training
# counterpart of the corpus ops): learn the first _BPE_STEPS merges of a
# byte-pair-encoding vocabulary from the corpus. The 100 TB shape is the
# point: the corpus is reduced ONCE to the frequency-weighted vocabulary
# (one explode + groupBy — the only corpus-sized stage, persisted for
# the iteration loop), and every merge round then runs over
# vocab x word-length positional rows (millions, not corpus-scale):
# adjacent-pair counts via a lead window, argmax pair to the driver (one
# metadata-sized row — same convention as the k-means convergence
# scalars), greedy non-overlapping application via candidate-island
# parity. The greedy left-to-right semantics ("aaaa" + (a,a) -> [aa,aa],
# "aaa" -> [aa,a]) are formulated POSITIONALLY — candidate runs grouped
# by seq-row_number islands, keep even offsets within each island — so
# the DuckDB oracle can unroll the identical three rounds as CTEs and
# the result is hash-exact, not just count-equal. Fixed step count keeps
# the oracle finite; a production tokenizer run loops the same body to
# 32k merges with a per-round checkpoint of the (small) symbol table.


_BPE_STEPS = 3


def _bpe_learn(docs: DataFrame) -> tuple[list[tuple], DataFrame]:
    """The shared merge-learning loop: returns the learned
    ``(step, lhs, rhs, merged, pair_count)`` rows (materialized — the
    per-round argmax collects run here) plus the LAZY post-merge symbol
    table ``(word, cnt, slot, sym)`` for encode-side consumers. The
    vocab staging is persisted across the loop's argmax collects and
    unpersisted before return; re-evaluating the returned symbol table
    later re-derives it (deterministic), which is the hygiene-friendly
    trade for a query-registry entry point."""
    from pyspark.storagelevel import StorageLevel
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    s = words.select(
        "word", "cnt", F.posexplode(chars).alias("p0", "sym")
    ).select("word", "cnt", (F.col("p0") + 1).alias("slot"), "sym")
    out_rows: list[tuple] = []
    try:
        for step in range(1, _BPE_STEPS + 1):
            wnd = Window.partitionBy("word").orderBy("slot")
            t = s.withColumn("nsym", F.lead("sym").over(wnd)).withColumn(
                "seq", F.row_number().over(wnd)
            )
            best = (
                t.filter(F.col("nsym").isNotNull())
                .groupBy("sym", "nsym")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.col("c").desc(), "sym", "nsym")
                .limit(1)
                .collect()
            )
            if not best:  # degenerate corpus of 1-char words
                break
            a, b, c = best[0]["sym"], best[0]["nsym"], int(best[0]["c"])
            out_rows.append((step, a, b, a + b, c))
            cand = t.filter(
                (F.col("sym") == F.lit(a)) & (F.col("nsym") == F.lit(b))
            ).select("word", "seq")
            isl = cand.withColumn(
                "grp",
                F.col("seq")
                - F.row_number().over(
                    Window.partitionBy("word").orderBy("seq")
                ),
            )
            sel = (
                isl.withColumn(
                    "g0",
                    F.min("seq").over(Window.partitionBy("word", "grp")),
                )
                .filter((F.col("seq") - F.col("g0")) % 2 == 0)
                .select("word", "seq")
            )
            s = (
                t.join(
                    sel.withColumn("m", F.lit(True)), ["word", "seq"], "left"
                )
                .join(
                    sel.select(
                        "word",
                        (F.col("seq") + 1).alias("seq"),
                        F.lit(True).alias("x"),
                    ),
                    ["word", "seq"],
                    "left",
                )
                .filter(F.col("x").isNull())
                .select(
                    "word",
                    "cnt",
                    "slot",
                    F.when(F.col("m"), F.lit(a + b))
                    .otherwise(F.col("sym"))
                    .alias("sym"),
                )
            )
    finally:
        words.unpersist()
    return out_rows, s


# Learned-state memo shared by the two bpe_* entry points (one training
# run serves train + encode, the way a tokenizer is actually used; the
# queries are one bench release-family so the persisted symbol table
# lives exactly as long as its consumers). Keyed by applicationId so a
# new session never sees stale merge rows; the symbol table itself goes
# through shared_df, whose release path unpersists it.
_BPE_MERGES: dict[tuple[str, str], list] = {}


def _bpe_learn_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        docs = rebalance(load_table(spark, sf_dir, "documents"))
        out_rows, s = _bpe_learn(docs)
        _BPE_MERGES[key] = out_rows
        return s

    s = shared_df(spark, "bpe_symbols", sf_dir, build)
    if key not in _BPE_MERGES:
        # staging handle survived a release that cleared the merge rows
        # (not a path the bench takes — release drops both): relearn
        build()
    return _BPE_MERGES[key], s


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_rows, _ = _bpe_learn_shared(spark, sf_dir)
    return spark.createDataFrame(
        out_rows,
        "step int, lhs string, rhs string, merged string, pair_count long",
    )


def bpe_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the tokenizer: segment the 20 most frequent
    words with the merges just learned (post-round-3 symbol table
    reassembled per word). Shares the learning loop (memoized — one
    training run serves both bpe_* queries) and the unrolled oracle
    CTEs with bpe_train_merges, so the segmentation string is
    hash-exact against the SQL twin."""
    _, s = _bpe_learn_shared(spark, sf_dir)
    return (
        s.groupBy("word")
        .agg(
            F.max("cnt").alias("cnt"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("slot", "sym"))),
                    lambda x: x["sym"],
                ),
            ).alias("segmentation"),
        )
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


def _bpe_round_sql(n: int) -> str:
    """One unrolled merge round: s{n-1} -> m{n} (the chosen pair) and
    s{n} (the post-merge symbol table)."""
    return f"""
t{n} AS (
  SELECT word, cnt, slot, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY slot) AS nsym,
         row_number() OVER (PARTITION BY word ORDER BY slot) AS seq
  FROM s{n - 1}
),
m{n} AS (
  SELECT sym AS l, nsym AS r, sum(cnt) AS c
  FROM t{n} WHERE nsym IS NOT NULL
  GROUP BY sym, nsym
  ORDER BY c DESC, l, r LIMIT 1
),
c{n} AS (
  SELECT t.word, t.seq,
         t.seq - row_number() OVER (PARTITION BY t.word ORDER BY t.seq)
           AS grp
  FROM t{n} t CROSS JOIN m{n} m
  WHERE t.sym = m.l AND t.nsym = m.r
),
sel{n} AS (
  SELECT word, seq FROM (
    SELECT word, seq, min(seq) OVER (PARTITION BY word, grp) AS g0
    FROM c{n})
  WHERE (seq - g0) % 2 = 0
),
s{n} AS (
  SELECT t.word, t.cnt, t.slot,
         CASE WHEN sm.seq IS NOT NULL THEN t.sym || t.nsym
              ELSE t.sym END AS sym
  FROM t{n} t
  LEFT JOIN sel{n} sm ON sm.word = t.word AND sm.seq = t.seq
  LEFT JOIN sel{n} sx ON sx.word = t.word AND sx.seq = t.seq - 1
  WHERE sx.seq IS NULL
)"""


_BPE_CTES = (
    """
WITH words AS (
  SELECT w AS word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 1
  GROUP BY w
),
s0 AS (
  SELECT word, cnt, i AS slot, substr(word, cast(i AS int), 1) AS sym
  FROM words, unnest(range(1, len(word) + 1)) AS t(i)
),"""
    + ",".join(_bpe_round_sql(n) for n in range(1, _BPE_STEPS + 1))
)

_BPE_SQL = (
    _BPE_CTES
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {n} AS step, l AS lhs, r AS rhs, l || r AS merged,"
        f" cast(c AS bigint) AS pair_count FROM m{n}"
        for n in range(1, _BPE_STEPS + 1)
    )
)

_BPE_SEG_SQL = (
    _BPE_CTES
    + f"""
SELECT word, cast(max(cnt) AS bigint) AS cnt,
       string_agg(sym, ' ' ORDER BY slot) AS segmentation
FROM s{_BPE_STEPS} GROUP BY word
ORDER BY cnt DESC, word LIMIT 20
"""
)


# ---------------------------------------------------------------------------
# X3 scale path 2: product quantization. Integer-domain distances (see
# operators/similarity.py) make codes and ADC rankings bit-identical
# across engines, so BOTH queries are full hash-checked oracles — no
# rounding tolerance anywhere.

_PQ_LF_SQL = f"""
  SELECT vec_id,
         cast((i - 1) // {S.PQ_SUB} AS int) AS subspace,
         (i - 1) % {S.PQ_SUB} AS dim,
         cast(round(cast(embedding[i] AS double) * {S.PQ_INT_SCALE})
              AS bigint) AS iv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
"""

_PQ_DIST_SQL = f"""
  SELECT v.vec_id, v.subspace, c.cell, sum((v.iv - c.ic) * (v.iv - c.ic)) AS sq
  FROM lf v
  JOIN (SELECT vec_id AS cell, subspace, dim, iv AS ic
        FROM lf WHERE vec_id < {S.PQ_K}) c
    ON c.subspace = v.subspace AND c.dim = v.dim
  GROUP BY v.vec_id, v.subspace, c.cell
"""

_PQ_CODES_SQL = """
  SELECT vec_id, subspace, cell AS code, sq FROM (
    SELECT vec_id, subspace, cell, sq,
           row_number() OVER (PARTITION BY vec_id, subspace
                              ORDER BY sq, cell) AS rn
    FROM dist) WHERE rn = 1
"""


def _pq_codes_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes materialized once per process — the staging-table
    pattern: at 100 TB the encode pass is written to a table and every
    ADC consumer reads codes, never raw vectors. Shared by
    pq_code_histogram / pq_adc_topk / ann_ivfpq_topk."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "pq_codes",
        sf_dir,
        lambda: S.pq_codes(rebalance(load_table(spark, sf_dir, "embeddings"))),
    )


def _ivf_cells_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment materialized once per process (same staging
    rationale; shared by ann_ivf_topk / ann_ivfpq_topk)."""
    from rds_pgbadger_etl_spark.plans._shared import shared_df

    return shared_df(
        spark,
        "ivf_cells",
        sf_dir,
        lambda: S.ivf_cells(rebalance(load_table(spark, sf_dir, "embeddings"))),
    )


def pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook utilization + distortion per (subspace, centroid): the
    diagnostic that tells you whether a codebook needs re-training
    (empty/overloaded cells) before you spend a 100 TB encode pass."""
    return (
        _pq_codes_shared(spark, sf_dir)
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("sq").alias("total_sq"),
        )
    )


_PQ_CODE_HISTOGRAM_SQL = f"""
WITH lf AS ({_PQ_LF_SQL}),
dist AS ({_PQ_DIST_SQL}),
codes AS ({_PQ_CODES_SQL})
SELECT cast(subspace AS int) AS subspace, cast(code AS int) AS code,
       count(*) AS n_vectors, cast(sum(sq) AS bigint) AS total_sq
FROM codes GROUP BY subspace, code
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    return S.pq_adc_topk(
        emb, _QUERY_IDS, _TOPK, codes=_pq_codes_shared(spark, sf_dir)
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    return S.ivfpq_topk(
        emb,
        _QUERY_IDS,
        _TOPK,
        cells=_ivf_cells_shared(spark, sf_dir),
        codes=_pq_codes_shared(spark, sf_dir),
    )


_PQ_ADC_SQL = f"""
WITH lf AS ({_PQ_LF_SQL}),
dist AS ({_PQ_DIST_SQL}),
codes AS ({_PQ_CODES_SQL}),
lut AS (
  SELECT vec_id AS q_id, subspace, cell AS code, sq AS d
  FROM dist WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
),
scored AS (
  SELECT l.q_id, c.vec_id, sum(l.d) AS adc_dist
  FROM codes c
  JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist, cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""


_ANN_IVFPQ_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
lf AS ({_PQ_LF_SQL}),
dist AS ({_PQ_DIST_SQL}),
codes AS ({_PQ_CODES_SQL}),
lut AS (
  SELECT vec_id AS q_id, subspace, cell AS code, sq AS d
  FROM dist WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
),
scored AS (
  SELECT m.q_id, m.vec_id, sum(l.d) AS adc_dist
  FROM member m
  JOIN codes cd ON cd.vec_id = m.vec_id
  JOIN lut l ON l.q_id = m.q_id AND l.subspace = cd.subspace
            AND l.code = cd.code
  GROUP BY m.q_id, m.vec_id
)
SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist, cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""


def _ann_index_residual_shared(spark: SparkSession, sf_dir: str) -> str:
    """Persisted index whose PQ codes encode RESIDUALS (vector minus its
    own IVF centroid — the FAISS IndexIVFPQ composition): residuals
    concentrate near the origin, so the same codebook size quantizes
    finer and ADC sharpens; the trade is a per-(query, probed cell)
    LUT. Built once per (process, sf_dir)."""
    from rds_pgbadger_etl_spark.operators.ann_index import build_ann_index

    key = sf_dir + "#residual"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_res_")
        build_ann_index(
            spark,
            rebalance(load_table(spark, sf_dir, "embeddings")),
            d,
            residual=True,
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: IVF-PQ search over the RESIDUAL-encoded artifact — codes are
    argmin over the residual codebook of exact integer squared
    distances on ir = iv(x) - iv(centroid(x)) (differences of the
    standard half-up quantizations, so everything stays bit-exact);
    the query-side LUT is per (query, probed cell) because the query's
    residual depends on which cell is scanned. The oracle re-derives
    the residual long form, codebook, codes, and per-cell LUT
    relationally on top of the shared lf/asgn CTEs."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark,
        _ann_index_residual_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


# Residual-PQ twin: ci = the centroid vectors' integer components (the
# centroids ARE corpus vectors, so lf already has them); rlf = each
# vector's components minus its own cell centroid's; rcb = the first
# PQ_K vectors' residuals (the deterministic-sample convention — cell
# ids coincide with the positional ids the builder stores because the
# fixture prefix is dense); qlut = the query's residual WRT EACH PROBED
# CELL against the residual codebook.
_ANN_IVFPQ_RES_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
lf AS ({_PQ_LF_SQL}),
ci AS (SELECT vec_id AS cell, subspace, dim, iv FROM lf
       WHERE vec_id < {S.N_CENTROIDS}),
rlf AS (
  SELECT v.vec_id, v.subspace, v.dim, v.iv - ci.iv AS iv
  FROM lf v
  JOIN asgn a ON a.vec_id = v.vec_id
  JOIN ci ON ci.cell = a.cell AND ci.subspace = v.subspace
         AND ci.dim = v.dim
),
rcb AS (SELECT vec_id AS rcell, subspace, dim, iv AS ic FROM rlf
        WHERE vec_id < {S.PQ_K}),
rdist AS (
  SELECT v.vec_id, v.subspace, b.rcell,
         sum((v.iv - b.ic) * (v.iv - b.ic)) AS sq
  FROM rlf v
  JOIN rcb b ON b.subspace = v.subspace AND b.dim = v.dim
  GROUP BY v.vec_id, v.subspace, b.rcell
),
rcodes AS (
  SELECT vec_id, subspace, rcell AS code FROM (
    SELECT vec_id, subspace, rcell, sq,
           row_number() OVER (PARTITION BY vec_id, subspace
                              ORDER BY sq, rcell) AS rn
    FROM rdist) WHERE rn = 1
),
qlut AS (
  SELECT p.q_id, p.cell AS pcell, r.subspace, r.rcell AS code,
         sum((qv.iv - ci.iv - r.ic) * (qv.iv - ci.iv - r.ic)) AS d
  FROM probes p
  JOIN lf qv ON qv.vec_id = p.q_id
  JOIN ci ON ci.cell = p.cell AND ci.subspace = qv.subspace
         AND ci.dim = qv.dim
  JOIN rcb r ON r.subspace = qv.subspace AND r.dim = qv.dim
  GROUP BY p.q_id, p.cell, r.subspace, r.rcell
),
scored AS (
  SELECT p.q_id, a.vec_id, sum(ql.d) AS adc_dist
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN rcodes cd ON cd.vec_id = a.vec_id
  JOIN qlut ql ON ql.q_id = p.q_id AND ql.pcell = p.cell
             AND ql.subspace = cd.subspace AND ql.code = cd.code
  WHERE a.vec_id <> p.q_id
  GROUP BY p.q_id, a.vec_id
)
SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist,
       cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# Exact heavy-hitter vocabulary head via per-partition threshold-sketch
# pruning (operators/text.heavy_hitter_words): candidates ≤ T per
# partition by pigeonhole, exact counts only for candidates — the
# full-vocabulary shuffle never happens, yet the output is exact, so it
# full-hash-checks against a plain GROUP BY/HAVING oracle.
_HH_T = 500


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = rebalance(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: w != "")
        ).alias("w")
    )
    return X.heavy_hitter_words(words, threshold_div=_HH_T)


_HEAVY_HITTERS_SQL = f"""
WITH exploded AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
words AS (SELECT w FROM exploded WHERE w <> ''),
tot AS (SELECT count(*) AS n_total FROM words)
SELECT w, count(*) AS freq, (SELECT n_total FROM tot) AS n_total
FROM words
GROUP BY w
HAVING count(*) * {_HH_T} > (SELECT n_total FROM tot)
"""


# ---------------------------------------------------------------------------
# Triangle count over the near-dup graph: per-document triangle
# participation — the cluster-cohesion diagnostic that separates tight
# clique-like duplicate groups (merge confidently) from fragile chains
# (a-b-c where a~c was never verified). The classic distributed shape:
# ordered edges (a<b) -> wedge join on the middle vertex -> close the
# wedge against the edge set. Both joins key on vertex ids of the
# PAIR table (output-proportional, tiny vs corpus), never on the corpus.
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _near_pairs(spark, sf_dir).select("a", "b")
    wedges = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )  # a<b<c paths
    tri = wedges.join(
        e.select("a", F.col("b").alias("c")), ["a", "c"]
    ).select("a", "b", "c")
    # one vertex row per triangle slot via a single explode — NOT
    # unionAll of three projections of `tri`: Spark does not share
    # common subtrees, so the union form enumerated every triangle
    # THREE times (three copies of both wedge joins — the r13 plan was
    # 38k lines / 3x the join work for the same rows). explode keeps
    # one enumeration and generates the same (a, b, c) vertex stream.
    verts = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return (
        verts.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_TRIANGLES_SQL = f"""
WITH {_NEAR_PAIRS_CTES},
pairs AS ({_NEAR_PAIRS_FINAL}),
e AS (SELECT a, b FROM pairs),
tri AS (
  SELECT w.a, w.b, w.c
  FROM (SELECT e1.a, e1.b, e2.b AS c
        FROM e e1 JOIN e e2 ON e2.a = e1.b) w
  JOIN e e3 ON e3.a = w.a AND e3.b = w.c
),
verts AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, count(*) AS n_triangles
FROM verts GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication: cluster embeddings with the IVF
# coarse quantizer, compute pairwise cosine ONLY within each cluster, and
# count the PAIRWISE-DOMINATED members — those with at least one similar
# lower-id neighbor. On a similarity CHAIN (1~2, 2~3, 1≁3) this counts
# both 2 and 3 while a sequential greedy sweep would respawn 3 once 2 is
# gone, so the reported count is an upper bound on (and at clique-like
# duplicate groups equal to) sequential greedy removal — the one-pass,
# order-free definition is what stays computable as a hash aggregate at
# scale. The cell
# blocking is the whole point at 100 TB: k is sized so cluster
# cardinality stays bounded (corpus/k members -> (corpus/k)^2 pairs per
# cell, embarrassingly parallel across cells), never corpus^2 — the
# Abbas et al. SemDeDup recipe expressed as join-on-cell + windowless
# aggregation. Reuses the shared IVF cell staging; round-6 cosine keeps
# the threshold decision engine-identical. Production embeddings use a
# ~0.95+ threshold; the synthetic test corpus is near-orthogonal (max
# within-cell cosine ≈ 0.49 at sf0.01), so the registered threshold sits
# where the removal path actually exercises.
_SEMDEDUP_THRESHOLD = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _ivf_cells_shared(spark, sf_dir).select("vec_id", "cell", "embedding")
    a = m.select(
        "cell", F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    b = m.select(
        "cell", F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    dup_b = (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .select(
            "cell",
            "b",
            # within-cell pair volume is corpus-proportional — stays on
            # the Arrow kernel (JVM HOF cosine measured slower, r14)
            F.round(S.cosine_batch(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= _SEMDEDUP_THRESHOLD)
        .select("cell", "b")
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    members = m.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        members.join(dup_b, "cell", "left")
        .select(
            "cell",
            "n_members",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


_SEMDEDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT e.vec_id, e.emb, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
dups AS (
  SELECT cell, count(*) AS n_removed FROM (
    SELECT DISTINCT x.cell, y.vec_id AS b
    FROM asgn x JOIN asgn y ON x.cell = y.cell AND x.vec_id < y.vec_id
    WHERE {_cos_sql('x.emb', 'y.emb')} >= {_SEMDEDUP_THRESHOLD}
  ) GROUP BY cell
)
SELECT m.cell, m.n_members, coalesce(d.n_removed, 0) AS n_removed
FROM (SELECT cell, count(*) AS n_members FROM asgn GROUP BY cell) m
LEFT JOIN dups d ON d.cell = m.cell
"""


# ---------------------------------------------------------------------------
# ANN quality audit: recall@10 of every approximate method vs the exact
# brute-force ranking, as a registered query rather than a pytest-only
# property. Rows-only by design (the metric grades approximation quality;
# a SQL twin would just re-implement all four methods). The accuracy/cost
# ladder becomes auditable from the registry: brute (recall 1.0 by
# construction, scan-everything) -> lsh / ivf (prune the corpus) ->
# pq_adc (compress the corpus) -> ivfpq (both).
_RECALL_K = 10


_TRUTH_ROWS: dict[tuple[str, int], list] = {}


def _brute_truth(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Exact brute-force ground truth for the recall audits, computed
    once per (process, sf_dir, k) — all three audits grade against the
    identical deterministic top-k, so staging the |queries| x k id
    pairs (metadata-sized) cuts each later audit's full-corpus
    brute-force pass without changing a single graded number."""
    key = (sf_dir, k)
    rows = _TRUTH_ROWS.get(key)
    if rows is None:
        emb = rebalance(load_table(spark, sf_dir, "embeddings"))
        rows = [
            (int(r.q_id), int(r.vec_id))
            for r in S.brute_force_topk(emb, _QUERY_IDS, k)
            .select("q_id", "vec_id")
            .collect()
        ]
        _TRUTH_ROWS[key] = rows
    return spark.createDataFrame(
        rows, "q_id long, vec_id long"
    ).withColumn("hit", F.lit(1))


# Per-arm search outputs of the recall audits, staged once per
# (process, sf, audit, arm) — the same contract _brute_truth already
# gives ground truth: each arm's (q_id, vec_id) id pairs are
# |queries| x k = metadata-sized, and the audits re-run every
# evaluation (bench runs them 3x, selfcheck again), so without this
# adding arm N+1 re-prices arms 1..N on every pass. Values are
# bit-identical to the live searches (they ARE the collected live
# search, and every arm is deterministic); a cold evaluation still
# pays full staging, warm re-evaluations join cached id lists.
_ARM_ROWS: dict[tuple, list] = {}


def _staged_arm_ids(key: tuple, build) -> list:
    rows = _ARM_ROWS.get(key)
    if rows is None:
        rows = [
            (int(r.q_id), int(r.vec_id))
            for r in build().select("q_id", "vec_id").collect()
        ]
        _ARM_ROWS[key] = rows
    return rows


def _staged_arm_union(
    spark: SparkSession,
    label_col: str,
    arms: list[tuple[str, object]],
    key_prefix: tuple,
) -> DataFrame:
    """(label, q_id, vec_id) rows for every audit arm, from the
    per-process stage."""
    rows = [
        (name, q, v)
        for name, build in arms
        for q, v in _staged_arm_ids(key_prefix + (name,), build)
    ]
    return spark.createDataFrame(
        rows, f"{label_col} string, q_id long, vec_id long"
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _brute_truth(spark, sf_dir, _RECALL_K)

    def emb():
        return rebalance(load_table(spark, sf_dir, "embeddings"))

    methods = [
        (
            "lsh",
            lambda: S.lsh_topk(
                emb(),
                _QUERY_IDS,
                _RECALL_K,
                buckets=_lsh_buckets_shared(spark, sf_dir),
            ),
        ),
        (
            "ivf",
            lambda: S.ivf_topk(
                emb(),
                _QUERY_IDS,
                _RECALL_K,
                cells=_ivf_cells_shared(spark, sf_dir),
            ),
        ),
        (
            "pq_adc",
            lambda: S.pq_adc_topk(
                emb(),
                _QUERY_IDS,
                _RECALL_K,
                codes=_pq_codes_shared(spark, sf_dir),
            ),
        ),
        (
            "ivfpq",
            lambda: S.ivfpq_topk(
                emb(),
                _QUERY_IDS,
                _RECALL_K,
                cells=_ivf_cells_shared(spark, sf_dir),
                codes=_pq_codes_shared(spark, sf_dir),
            ),
        ),
        # the dimension ladder's arms: zero-artifact truncated search
        # and its exact-rerank composition — so the standing audit
        # prices dims-cut next to the precision-cut (PQ) methods
        (
            "truncated",
            lambda: S.truncated_topk(emb(), _QUERY_IDS, _RECALL_K),
        ),
        (
            "truncated_rerank",
            lambda: S.truncated_rerank_topk(emb(), _QUERY_IDS, _RECALL_K),
        ),
    ]
    cands = _staged_arm_union(
        spark, "method", methods, (sf_dir, "recall_report", _RECALL_K)
    )
    # The denominator is the FIXED query-set size, not countDistinct of
    # each method's own results — a method that returns zero candidates
    # for a query must be penalized for it, not have the query silently
    # drop out of its denominator.
    denom = len(_QUERY_IDS) * _RECALL_K
    return (
        cands.join(F.broadcast(truth), ["q_id", "vec_id"], "left")
        .groupBy("method")
        .agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .withColumn(
            "recall_at_k", F.round(F.col("n_hits") / F.lit(denom), 4)
        )
    )


# ---------------------------------------------------------------------------
# Persisted ANN index (operators/ann_index.py): the staging tables above
# written ONCE as layout-aware parquet, searched from the artifact alone.
# Each reader's oracle is the SAME SQL as its in-session twin — the
# correctness claim is exactly "the artifact answers what the session
# answers". Index built once per (process, sf_dir) into a temp dir; a
# fresh-session answers-without-rebuild proof is in tests/test_ann_index.py.

_ANN_INDEX_DIRS: dict[str, str] = {}
_QUERY_VECS: dict[str, list] = {}


def _ann_index_shared(spark: SparkSession, sf_dir: str) -> str:
    from rds_pgbadger_etl_spark.operators.ann_index import build_ann_index

    d = _ANN_INDEX_DIRS.get(sf_dir)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_")
        build_ann_index(
            spark, rebalance(load_table(spark, sf_dir, "embeddings")), d
        )
        _ANN_INDEX_DIRS[sf_dir] = d
    return d


_SQ8_READY: set[str] = set()
_SQ8_PREFIX_READY: set[str] = set()


def _ann_index_sq8_shared(spark: SparkSession, sf_dir: str) -> str:
    """The shared one-group artifact with its derived SQ8 arm added
    (once per staged dir — the arm is derived state over raw/, so
    adding it disturbs no other reader of the shared index)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        add_sq8_to_ann_index,
    )

    d = _ann_index_shared(spark, sf_dir)
    if d not in _SQ8_READY:
        add_sq8_to_ann_index(spark, d)
        _SQ8_READY.add(d)
    return d


def _with_sq8_prefix(spark: SparkSession, d: str) -> str:
    """Add the materialized prefix-codes arm to an SQ8-carrying staged
    store (once per staged dir). The registered truncated queries run
    over it so the oracle gate exercises the scan-side arm — results
    must be bit-identical to the projection-slice path, and the SAME
    SQL twin proves it."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        add_sq8_prefix_to_ann_index,
    )

    if d not in _SQ8_PREFIX_READY:
        add_sq8_prefix_to_ann_index(spark, d)
        _SQ8_PREFIX_READY.add(d)
    return d


def _query_vectors(spark: SparkSession, sf_dir: str) -> list:
    """The benchmark query vectors (a bounded ≤|_QUERY_IDS|-row fetch —
    query vectors are an INPUT to index search, not index state)."""
    vecs = _QUERY_VECS.get(sf_dir)
    if vecs is None:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id").isin(_QUERY_IDS))
            .collect()
        )
        vecs = [(int(r.vec_id), list(r.embedding)) for r in rows]
        _QUERY_VECS[sf_dir] = vecs
    return vecs


def ann_index_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark, _ann_index_shared(spark, sf_dir), _query_vectors(spark, sf_dir),
        _TOPK,
    )


def ann_index_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark, _ann_index_shared(spark, sf_dir), _query_vectors(spark, sf_dir),
        _TOPK,
    )


def ann_index_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_lsh_topk(
        spark, _ann_index_shared(spark, sf_dir), _query_vectors(spark, sf_dir),
        _TOPK,
    )


def ann_index_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: adaptive retrieval over the persisted artifact — IVF
    partition pruning × matryoshka truncated shortlist × exact full-dim
    rerank, with no index state beyond the IVF layout itself."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_truncated_topk(
        spark, _ann_index_shared(spark, sf_dir), _query_vectors(spark, sf_dir),
        _TOPK,
    )


_ANN_IDX_TRUNC_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT e.vec_id, e.emb, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
tsims AS (
  SELECT p.q_id, a.vec_id,
         {_slice_cos_sql('q.q_emb', 'a.emb', S.MRL_DIMS)} AS tsim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
    AND {_nzp_sql('a.emb', S.MRL_DIMS)} AND {_nzp_sql('q.q_emb', S.MRL_DIMS)}
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY tsim DESC, vec_id) AS rnk
    FROM tsims) WHERE rnk <= {S.MRL_SHORTLIST}
),
re AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'e.emb')} AS sim
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM re
) WHERE rnk <= {_TOPK}
"""


def _ann_index_upsert_shared(spark: SparkSession, sf_dir: str) -> str:
    """Index built on the FIRST HALF of the corpus, remainder appended
    with append_to_ann_index — encoding new vectors against the stored
    quantizers, no rebuild."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        append_to_ann_index,
        build_ann_index,
    )

    key = sf_dir + "#upsert"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_upsert_")
        emb = rebalance(load_table(spark, sf_dir, "embeddings"))
        half = emb.count() // 2
        build_ann_index(spark, emb.filter(F.col("vec_id") < half), d)
        append_to_ann_index(spark, emb.filter(F.col("vec_id") >= half), d)
        _ANN_INDEX_DIRS[key] = d
    return d


# Static so the SQL twin can name the same ids: a 100-id block that
# excludes the query ids (0-4) and exists at every sf (min corpus 500).
_DELETE_IDS = list(range(20, 120))


def _ann_index_delete_shared(spark: SparkSession, sf_dir: str) -> str:
    """Full-corpus index with a block of ids tombstoned — the delete
    lifecycle verb: nothing rewritten, readers anti-join the
    (metadata-sized) tombstone table."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index,
        delete_from_ann_index,
    )

    key = sf_dir + "#delete"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_delete_")
        build_ann_index(
            spark, rebalance(load_table(spark, sf_dir, "embeddings")), d
        )
        delete_from_ann_index(spark, _DELETE_IDS, d)
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 lifecycle: IVF-PQ search over an index with tombstoned ids —
    deleted vectors must vanish from results and survivors take their
    ranks, with zero partition rewrites. Oracle = the ivfpq twin minus
    the deleted ids, so the tombstone anti-join is hash-checked exactly;
    the physical-apply path (compaction clears tombstones, results
    unchanged) is pinned in tests/test_ann_index.py."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark,
        _ann_index_delete_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


# The twin is the ivfpq SQL with the tombstoned ids excluded from cell
# membership — the exact relational meaning of the reader's anti-join.
_MEMBER_GUARD = "WHERE a.vec_id <> p.q_id"
assert _MEMBER_GUARD in _ANN_IVFPQ_SQL
_ANN_DELETE_SQL = _ANN_IVFPQ_SQL.replace(
    _MEMBER_GUARD,
    _MEMBER_GUARD
    + f" AND a.vec_id NOT IN ({', '.join(map(str, _DELETE_IDS))})",
)


_KNN_JOIN_K = 3


def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 batch-query search: a kNN JOIN — every query in a ~14% corpus
    slice gets its top-3 indexed neighbors in ONE pass over the
    persisted index, via the cogrouped per-cell matmul
    (similarity.knn_join_cells: probe top-n_probe cells per query,
    cogroup query and corpus rows on cell, one Q·Vᵀ per cell). The
    driver-side search paths take a handful of query VECTORS; this is
    the many-queries shape (semantic dedup sweeps, retrieval eval sets)
    where per-pair scoring would explode. Oracle = the IVF search math
    over the full query slice with self-exclusion."""
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return flag_against_index(
        spark,
        emb.filter(F.col("vec_id") % 7 == 3),
        _ann_index_shared(spark, sf_dir),
        k=_KNN_JOIN_K,
    )


def _knn_graph_ctes(q_where: str) -> str:
    """The exact-IVF kNN-join math as a reusable CTE chain ending in
    ``knn (q_id, neighbor_id, cosine, rank)`` — shared by the kNN-join
    oracle (14% query slice) and the PageRank oracle (full corpus)."""
    return f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e
      WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT e.vec_id, e.emb, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC,
                                       c.cell) AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e {q_where}),
probes AS (
  SELECT q_id, q_emb, cell FROM (
    SELECT q.q_id, q.q_emb, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC,
                                       c.cell) AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
sims AS (
  SELECT p.q_id, a.vec_id AS neighbor_id,
         {_cos_sql('p.q_emb', 'a.emb')} AS cosine
  FROM probes p
  JOIN asgn a ON a.cell = p.cell AND a.vec_id <> p.q_id
),
knn AS (
  SELECT q_id, neighbor_id, cosine, cast(rnk AS int) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM sims
  ) WHERE rnk <= {_KNN_JOIN_K}
)"""


_ANN_KNN_JOIN_SQL = f"""
WITH {_knn_graph_ctes('WHERE vec_id % 7 = 3')}
SELECT q_id AS vec_id, neighbor_id, cosine, rank FROM knn
"""


# ---------------------------------------------------------------------------
# PageRank over the kNN graph of the embedding corpus: graph centrality
# as a data-selection signal (hub documents sit in dense regions —
# near-duplicate clusters, boilerplate families; isolates carry novel
# content). Fixed iteration count so the oracle unrolls the identical
# recurrence: PR_{{t+1}}(v) = (1-d)/N + d * Σ_{{u→v}} PR_t(u)/outdeg(u),
# dangling mass dropped (identically in both engines).
#
# The iteration runs in EXACT INTEGER arithmetic: with damping 17/20
# and outdeg ∈ {{1,2,3}} (a k=3 kNN graph), ranks scaled by N·120^t are
# integers — S_0 = 1, S_t(v) = 18·120^(t-1) + Σ_{{u→v}} (102/outdeg(u))
# ·S_{{t-1}}(u), since 102/outdeg ∈ {{102,51,34}}. Floating-point never
# enters until ONE final division, so the result is bit-identical
# across engines AND across Spark's own partition/aggregation orders —
# the float recurrence version drifted at round-boundaries (two of 500
# nodes flipped at the 6th decimal at sf0.01). int64 headroom: S_t <
# N·120^t, so 3 iterations are exact up to ~5e12 nodes.
#
# Spark-side each iteration is ONE shuffle — contributions grouped by
# destination; the edge table is the localCheckpointed kNN-join output,
# so iterating never re-runs the search, and ranks stay (id, long)
# metadata-thin. At 100 TB: edges partition by src once and every
# iteration reuses that layout for the ranks join; deep iteration
# counts checkpoint state every ~8 rounds to truncate lineage — the
# shared operators/graph.iterate_with_checkpoint mechanism both this
# and LPA run on (3 fixed rounds here never trigger it).

_PR_ITERS = 3
_PR_SCALE = 120  # 20 (damping denominator) x 6 (lcm of outdegrees 1..3)


def embedding_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
    )

    from rds_pgbadger_etl_spark.plans._shared import shared_df

    emb = load_table(spark, sf_dir, "embeddings")
    # the full-corpus kNN edge table is a staging artifact (the graph a
    # pipeline writes once and every centrality/community consumer
    # reads) — same treatment as the near-dup pair table (_near_pairs)
    edges = shared_df(
        spark,
        "knn_edges_full",
        sf_dir,
        lambda: flag_against_index(
            spark, emb, _ann_index_shared(spark, sf_dir), k=_KNN_JOIN_K
        ).select(
            F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
        ),
    )
    from rds_pgbadger_etl_spark.operators.graph import pagerank_exact

    return pagerank_exact(emb.select("vec_id"), edges, _PR_ITERS)


# ---------------------------------------------------------------------------
# Label-propagation communities over the same (symmetrized) kNN graph:
# the clustering companion to PageRank's centrality — dense embedding
# neighborhoods (near-dup families, topical clusters) converge onto one
# label, which a curation pipeline uses for community-balanced sampling.
# Synchronous LPA with a DETERMINISTIC update (max vote count, ties to
# the smallest label) and a fixed iteration count so the oracle unrolls
# the identical recurrence; a node with no neighbors keeps its label
# (coalesce), identically in both engines. Each iteration is one
# shuffle (votes grouped by destination) + one window over the
# per-node vote lists — label tables stay (id, id) metadata-thin.

_LPA_ITERS = 2


def embedding_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rds_pgbadger_etl_spark.plans._shared import shared_df
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = shared_df(
        spark,
        "knn_edges_full",
        sf_dir,
        lambda: flag_against_index(
            spark, emb, _ann_index_shared(spark, sf_dir), k=_KNN_JOIN_K
        ).select(
            F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
        ),
    )
    from rds_pgbadger_etl_spark.operators.graph import lpa_labels

    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return lpa_labels(emb.select("vec_id"), sym, _LPA_ITERS)


def _lpa_iter_sql(i: int) -> str:
    return f"""v{i} AS (
  SELECT e.dst AS v, l.label, count(*) AS c
  FROM sym e JOIN l{i - 1} l ON l.vec_id = e.src
  GROUP BY e.dst, l.label
),
w{i} AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v
                              ORDER BY c DESC, label) AS rn
    FROM v{i}) WHERE rn = 1
),
l{i} AS (
  SELECT p.vec_id, coalesce(w.label, p.label) AS label
  FROM l{i - 1} p LEFT JOIN w{i} w ON w.v = p.vec_id
)"""


_LPA_SQL = f"""
WITH {_knn_graph_ctes('')},
edges AS (SELECT q_id AS src, neighbor_id AS dst FROM knn),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
l0 AS (SELECT vec_id, vec_id AS label FROM e),
{",".join(_lpa_iter_sql(i) for i in range(1, _LPA_ITERS + 1))}
SELECT vec_id, label FROM l{_LPA_ITERS}
"""


def _pr_iter_sql(i: int) -> str:
    return f"""r{i} AS (
  SELECT n.vec_id,
         {18 * _PR_SCALE ** (i - 1)} + coalesce(c.contrib, 0) AS s
  FROM (SELECT vec_id FROM e) n
  LEFT JOIN (
    SELECT ed.dst AS vec_id, sum((102 // d.outdeg) * r{i - 1}.s) AS contrib
    FROM edges ed
    JOIN deg d ON d.src = ed.src
    JOIN r{i - 1} ON r{i - 1}.vec_id = ed.src
    GROUP BY ed.dst
  ) c ON c.vec_id = n.vec_id
)"""


_PAGERANK_SQL = f"""
WITH {_knn_graph_ctes('')},
edges AS (SELECT q_id AS src, neighbor_id AS dst FROM knn),
deg AS (SELECT src, cast(count(*) AS bigint) AS outdeg FROM edges
        GROUP BY src),
nn AS (SELECT cast(count(*) AS double) AS n FROM e),
r0 AS (SELECT vec_id, cast(1 AS bigint) AS s FROM e),
{",".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
SELECT r.vec_id,
       cast(r.s AS double) / (nn.n * {float(_PR_SCALE**_PR_ITERS)})
         AS pagerank
FROM r{_PR_ITERS} r CROSS JOIN nn
"""


def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout audit over the build+append index (the upsert staging):
    rows/partition skew and files/partition per artifact table — the
    operator-facing numbers that say when to run compact_ann_index
    (max_part_files rises one file-set per append; here build+append ⇒
    2 for the cell-partitioned tables). Rows-only by design: physical
    file layout has no SQL-expressible DuckDB twin."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_stats(spark, _ann_index_upsert_shared(spark, sf_dir))


def ann_index_sq8_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 GRID-DRIFT audit as a registry row: ann_index_stats over
    the staged store that actually carries the arm, filtered to the
    sq8 table — out-of-range code fraction (appends encode unclipped
    against the immutable grid, so a drifted append population walks
    codes past 0..255) and rows-past-grid age, the two numbers the
    retrain rule on add_sq8_to_ann_index reads. On the fixture store
    (no appends after the derive) both are exactly 0/0 — the audit's
    healthy baseline, re-verified every round. Rows-only by design:
    physical artifact state, same contract as ann_index_stats. Reads
    ONLY the sq8 codes table (sq8_drift_stats), not the full per-table
    layout aggregate."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.sq8_drift_stats(spark, _ann_index_sq8_shared(spark, sf_dir))


def embed_documents_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-inference stage (operators/inference.embed_documents):
    text → embedding vectors through the real mapInPandas plumbing with
    the deterministic stub encoder, exploded to scalar (doc_id, dim,
    val) rows so the driver canonicalizer can hash it against the
    DuckDB md5-projection twin bit for bit — the full inference
    data-path is oracle-gated even though the model itself is a stub."""
    from rds_pgbadger_etl_spark.operators.inference import embed_documents

    docs = rebalance(load_table(spark, sf_dir, "documents"))
    return embed_documents(docs).select(
        "doc_id", F.posexplode("embedding").alias("dim", "_f")
    ).select("doc_id", "dim", F.col("_f").cast("double").alias("val"))


_EMBED_DOCS_SQL = """
SELECT doc_id, cast(j AS int) AS dim,
       CAST(CAST(((CAST('0x' || substr(md5(md5(text) || ':' || j), 1, 8)
                   AS bigint) % 2000001) - 1000000) / 1000000.0
            AS real) AS double) AS val
FROM documents, generate_series(0, 15) t(j)
"""


def _ann_index_refined_shared(spark: SparkSession, sf_dir: str) -> str:
    """Index whose coarse quantizer is kmeans-REFINED (2 Lloyd rounds)
    instead of the deterministic first-N sample — the production
    refinement wired into the artifact build."""
    from rds_pgbadger_etl_spark.operators.ann_index import build_ann_index

    key = sf_dir + "#refined"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_refined_")
        build_ann_index(
            spark,
            rebalance(load_table(spark, sf_dir, "embeddings")),
            d,
            refine_iters=2,
        )
        _ANN_INDEX_DIRS[key] = d
    return d


_REFINED_RECALL_K = 10


def ann_index_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 vs exact brute-force truth for the persisted artifact
    under BOTH coarse quantizers — the deterministic first-N sample and
    the kmeans-refined one (refine_iters=2). Rows-only by design (the
    metric grades approximation quality, same rationale as
    ann_recall_report); the fixed denominator is |queries| x k so a
    variant returning short lists is penalized, not excused. This is
    the registry-auditable answer to 'does refining the quantizer
    change delivered recall on THIS corpus?' — and, with the sq8 /
    binary / cascade arms, the in-engine recall side of the
    recall-per-probed-byte curve (the byte side is in the stats
    audit's bytes_per_row and the 8M rehearsal)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    truth = _brute_truth(spark, sf_dir, _REFINED_RECALL_K)
    qvecs = _query_vectors(spark, sf_dir)

    def ivfpq_arm(shared):
        return lambda: AI.ann_index_ivfpq_topk(
            spark, shared(spark, sf_dir), qvecs, _REFINED_RECALL_K
        )

    arms = [
        ("first_n", ivfpq_arm(_ann_index_shared)),
        ("kmeans_refined", ivfpq_arm(_ann_index_refined_shared)),
        # round 11: the residual-encoded artifact — same reader, the
        # per-(query, cell) LUT dispatches off the manifest flag
        ("residual_pq", ivfpq_arm(_ann_index_residual_shared)),
        # the SQ8 arm's quantized ranking, apples-to-apples with the
        # ADC variants: shortlist == k makes the returned SET the top-k
        # by integer code-space distance (the rerank only reorders
        # within it, and recall@k is set membership) — same
        # centroids and probes as first_n, so the delta isolates
        # 8-bit-per-dim vs 4-bit-subspace resolution
        (
            "sq8",
            lambda: AI.ann_index_sq8_topk(
                spark,
                _ann_index_sq8_shared(spark, sf_dir),
                qvecs,
                _REFINED_RECALL_K,
                _REFINED_RECALL_K,
            ),
        ),
        # round 13: the 1-bit rung under the same shortlist==k
        # set-membership convention — the delta off sq8 isolates
        # 1-bit-sign vs 8-bit-grid resolution at identical probes
        (
            "binary",
            lambda: AI.ann_index_binary_topk(
                spark,
                _ann_index_binary_shared(spark, sf_dir),
                qvecs,
                _REFINED_RECALL_K,
                _REFINED_RECALL_K,
            ),
        ),
        # the composed cascade at shortlist==k with its default-ratio
        # 4x coarse cut: what the three-stage pipeline DELIVERS vs the
        # single-stage rungs above
        (
            "cascade",
            lambda: AI.ann_index_cascade_topk(
                spark,
                _ann_index_cascade_shared(spark, sf_dir),
                qvecs,
                _REFINED_RECALL_K,
                _REFINED_RECALL_K,
                4 * _REFINED_RECALL_K,
            ),
        ),
    ]
    cands = _staged_arm_union(
        spark,
        "variant",
        arms,
        (sf_dir, "refined_recall", _REFINED_RECALL_K),
    )
    denom = len(_QUERY_IDS) * _REFINED_RECALL_K
    return (
        cands.join(F.broadcast(truth), ["q_id", "vec_id"], "left")
        .groupBy("variant")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
        .withColumn("recall_at_k", F.round(F.col("n_hits") / F.lit(denom), 4))
    )


def ann_index_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over the half-built-then-appended index. The oracle is the
    SAME SQL as ann_ivfpq_topk / ann_index_ivfpq_topk: hash equality IS
    the proof that incremental upsert produces the one-shot index."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark,
        _ann_index_upsert_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_index_2level_shared(spark: SparkSession, sf_dir: str) -> str:
    """Two-level (sharded-quantizer) index built once per (process,
    sf_dir) — the layout past the AUTO_MAX_CELLS wall, exercised at
    fixture scale with the registered G=4/C=16 shape."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level,
    )

    key = sf_dir + "#2level"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2level_")
        build_ann_index_2level(
            spark, rebalance(load_table(spark, sf_dir, "embeddings")), d
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def _ann_index_2level_sq8_shared(spark: SparkSession, sf_dir: str) -> str:
    """The shared two-level artifact with its derived SQ8 arm added
    (once per staged dir; purely additive, same contract as
    _ann_index_sq8_shared)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        add_sq8_to_ann_index,
    )

    d = _ann_index_2level_shared(spark, sf_dir)
    if d not in _SQ8_READY:
        add_sq8_to_ann_index(spark, d)
        _SQ8_READY.add(d)
    return d


def ann_index_2level_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path past the 4096-cell cap: IVF search where the coarse
    quantizer is sharded into groups (IMI/two-level IVF) — probe the
    live groups, then rank fine cells only within the probed groups'
    shards, then exact cosine inside the probed (group, cell)
    partitions. Oracle = the IVF math with the composed assignment
    (nearest live group, then nearest fine cell within it), expressed
    relationally in _ANN_2LEVEL_SQL."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark,
        _ann_index_2level_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


# The composed two-level assignment, relationally: gmap shards the fine
# cells by nearest coarse group (over ALL groups); `live` is the set of
# groups owning >=1 cell; vectors take their nearest LIVE group, then
# their nearest fine cell WITHIN it; queries probe the top
# N_PROBE_GROUPS live groups, then the top N_PROBE cells among those
# groups' cells. Scoring/tie-breaks identical to _ANN_IVF_SQL.
def _ann_2level_sql() -> str:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {AI.N_CELLS_2L}),
g AS (SELECT vec_id AS grp, emb AS g_emb FROM e WHERE vec_id < {AI.N_GROUPS_2L}),
gmap AS (
  SELECT cell, grp, c_emb FROM (
    SELECT c.cell, g.grp, c.c_emb,
           row_number() OVER (PARTITION BY c.cell
                              ORDER BY {_cos_sql('c.c_emb', 'g.g_emb')} DESC, g.grp)
             AS rn
    FROM c, g) WHERE rn = 1
),
gl AS (SELECT g.grp, g.g_emb FROM g
       WHERE g.grp IN (SELECT DISTINCT grp FROM gmap)),
asgng AS (
  SELECT vec_id, emb, grp FROM (
    SELECT e.vec_id, e.emb, gl.grp,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM e, gl) WHERE rn = 1
),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT a.vec_id, a.emb, m.cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos_sql('a.emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM asgng a JOIN gmap m ON m.grp = a.grp) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
qg AS (
  SELECT q_id, grp FROM (
    SELECT q.q_id, gl.grp,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM q, gl) WHERE rn <= {AI.N_PROBE_GROUPS}
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, m.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM q JOIN qg ON qg.q_id = q.q_id
           JOIN gmap m ON m.grp = qg.grp) WHERE rn <= {S.N_PROBE}
),
sims AS (
  SELECT p.q_id, a.vec_id, {_cos_sql('q.q_emb', 'a.emb')} AS sim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


_ANN_2LEVEL_SQL = _ann_2level_sql()


def ann_index_2level_truncated_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: adaptive retrieval on the sharded-quantizer layout — the
    dimension ladder's two-level arm (probe-pruned (group, cell)
    partitions × truncated shortlist × exact full-dim rerank)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_truncated_topk(
        spark,
        _ann_index_2level_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


# The truncated 2-level twin shares every CTE through `probes` with
# _ANN_2LEVEL_SQL (same composed assignment, same probe math) and swaps
# the scoring tail: truncated-sim shortlist, then exact full-dim rerank
# — the same tail shape as _ANN_IDX_TRUNC_SQL. Built by surgery on the
# flat twin so the two oracles cannot drift apart.
_2LEVEL_SIMS_TAIL = "sims AS ("
assert _2LEVEL_SIMS_TAIL in _ANN_2LEVEL_SQL
_ANN_2LEVEL_TRUNC_SQL = (
    _ANN_2LEVEL_SQL[: _ANN_2LEVEL_SQL.index(_2LEVEL_SIMS_TAIL)]
    + f"""tsims AS (
  SELECT p.q_id, a.vec_id,
         {_slice_cos_sql('q.q_emb', 'a.emb', S.MRL_DIMS)} AS tsim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
    AND {_nzp_sql('a.emb', S.MRL_DIMS)} AND {_nzp_sql('q.q_emb', S.MRL_DIMS)}
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY tsim DESC, vec_id) AS rnk
    FROM tsims) WHERE rnk <= {S.MRL_SHORTLIST}
),
re AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'e.emb')} AS sim
  FROM short s
  JOIN e ON e.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM re
) WHERE rnk <= {_TOPK}
"""
)

# Same guard surgery as _ANN_DELETE_SQL for the two-level twin:
# tombstones exclude members from the sims stage only (quantizers and
# probes are untouched by delete, exactly like the reader).
assert _MEMBER_GUARD in _ANN_2LEVEL_SQL
_ANN_2LEVEL_DELETE_SQL = _ANN_2LEVEL_SQL.replace(
    _MEMBER_GUARD,
    _MEMBER_GUARD
    + f" AND a.vec_id NOT IN ({', '.join(map(str, _DELETE_IDS))})",
)


def _ann_index_2level_flag_shared(spark: SparkSession, sf_dir: str) -> str:
    """Two-level index over the corpus MINUS the benchmark query ids —
    the ingest-flag scenario: new vectors arrive, the store knows
    nothing of them."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level,
    )

    key = sf_dir + "#2level-flag"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_flag_")
        build_ann_index_2level(
            spark,
            rebalance(load_table(spark, sf_dir, "embeddings")).filter(
                ~F.col("vec_id").isin(_QUERY_IDS)
            ),
            d,
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_2level_flag_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level ingest-flag verb as a query: flag a batch of NEW
    vectors (the benchmark query ids, withheld from the build) against
    the sharded-quantizer store — distributed two-stage broadcast probe
    + cogrouped per-cell matmul (streaming/incremental_ann.
    flag_against_index). Oracle = the 2-level search math with
    the quantizer prefixes taken from the WITHHELD corpus (first rows
    by id among vec_id not in the batch), which is exactly what the
    build stored."""
    from rds_pgbadger_etl_spark.streaming.incremental_ann import (
        flag_against_index,
    )

    batch = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isin(_QUERY_IDS)
    )
    return flag_against_index(
        spark, batch, _ann_index_2level_flag_shared(spark, sf_dir), k=_TOPK
    )


def _ann_2level_flag_sql() -> str:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    ids = ", ".join(map(str, _QUERY_IDS))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
store AS (SELECT vec_id, emb FROM e WHERE vec_id NOT IN ({ids})),
-- the build's quantizer pool: corpus rows with vec_id < max(G, C),
-- positionally indexed by id order; C and G clamp to the pool size
-- (exactly build_ann_index_2level's collect + clamp semantics)
cpool AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS pos
          FROM store
          WHERE vec_id < {max(AI.N_GROUPS_2L, AI.N_CELLS_2L)}),
c AS (SELECT pos AS cell, emb AS c_emb FROM cpool WHERE pos < {AI.N_CELLS_2L}),
g AS (SELECT pos AS grp, emb AS g_emb FROM cpool WHERE pos < {AI.N_GROUPS_2L}),
gmap AS (
  SELECT cell, grp FROM (
    SELECT c.cell, g.grp,
           row_number() OVER (PARTITION BY c.cell
                              ORDER BY {_cos_sql('c.c_emb', 'g.g_emb')} DESC, g.grp)
             AS rn
    FROM c, g) WHERE rn = 1
),
gl AS (SELECT g.grp, g.g_emb FROM g
       WHERE g.grp IN (SELECT DISTINCT grp FROM gmap)),
asgng AS (
  SELECT vec_id, emb, grp FROM (
    SELECT s.vec_id, s.emb, gl.grp,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {_cos_sql('s.emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM store s, gl) WHERE rn = 1
),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT a.vec_id, a.emb, m.cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos_sql('a.emb', 'c.c_emb')} DESC, m.cell)
             AS rn
    FROM asgng a JOIN gmap m ON m.grp = a.grp
                 JOIN c ON c.cell = m.cell) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({ids})),
qg AS (
  SELECT q_id, grp FROM (
    SELECT q.q_id, gl.grp,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM q, gl) WHERE rn <= {AI.N_PROBE_GROUPS}
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, m.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, m.cell)
             AS rn
    FROM q JOIN qg ON qg.q_id = q.q_id
           JOIN gmap m ON m.grp = qg.grp
           JOIN c ON c.cell = m.cell) WHERE rn <= {S.N_PROBE}
),
sims AS (
  SELECT p.q_id, a.vec_id, {_cos_sql('q.q_emb', 'a.emb')} AS sim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
)
SELECT q_id AS vec_id, vec_id_n AS neighbor_id, sim AS cosine,
       cast(rnk AS int) AS rank FROM (
  SELECT q_id, vec_id AS vec_id_n, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


_ANN_2LEVEL_FLAG_SQL = _ann_2level_flag_sql()


def _ann_index_2level_upsert_shared(spark: SparkSession, sf_dir: str) -> str:
    """Two-level index built on the FIRST HALF of the corpus, remainder
    appended against the STORED quantizers — the incremental lifecycle
    verb for the sharded layout. The half corpus covers both quantizer
    prefixes (G=4, C=16 << half), so the oracle is the SAME SQL as the
    one-shot build: hash equality proves append O(new) loses nothing."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        append_to_ann_index,
        build_ann_index_2level,
    )

    key = sf_dir + "#2level-upsert"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_upsert_")
        emb = rebalance(load_table(spark, sf_dir, "embeddings"))
        half = emb.count() // 2
        build_ann_index_2level(spark, emb.filter(F.col("vec_id") < half), d)
        append_to_ann_index(spark, emb.filter(F.col("vec_id") >= half), d)
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_2level_upsert_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark,
        _ann_index_2level_upsert_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_index_2level_delete_shared(spark: SparkSession, sf_dir: str) -> str:
    """Full 2-level index with a block of ids tombstoned — the
    layout-agnostic delete verb (the same tombstone side table and
    reader anti-join as the one-group family)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level,
        delete_from_ann_index,
    )

    key = sf_dir + "#2level-delete"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_delete_")
        build_ann_index_2level(
            spark, rebalance(load_table(spark, sf_dir, "embeddings")), d
        )
        delete_from_ann_index(spark, _DELETE_IDS, d)
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_2level_delete_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-level search over a tombstoned index: deleted vectors vanish,
    survivors take their ranks, zero partition rewrites. Oracle = the
    2-level twin minus the deleted ids (the reader anti-join's exact
    relational meaning)."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark,
        _ann_index_2level_delete_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_index_2level_dist_shared(spark: SparkSession, sf_dir: str) -> str:
    """Two-level index built with the DISTRIBUTED quantizer-assignment
    path (fine quantizer never collected, per-group cogrouped cell
    assignment) — the build that stays feasible past ~1M fine cells."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level_distributed,
    )

    key = sf_dir + "#2level-dist"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_dist_")
        build_ann_index_2level_distributed(
            spark, rebalance(load_table(spark, sf_dir, "embeddings")), d
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_2level_dist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: the distributed-quantizer 2-level build searched
    with the standard reader. The oracle is the SAME _ANN_2LEVEL_SQL as
    the driver-side build's query — hash equality proves the
    distributed assignment (map-side gmap + cogrouped per-group cell
    argmax) writes the identical artifact."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark,
        _ann_index_2level_dist_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_index_2level_refined_shared(spark: SparkSession, sf_dir: str) -> str:
    """Two-level index whose BOTH quantizer levels are kmeans-REFINED
    (refine_iters=1): coarse = global Lloyd's with k=N_GROUPS_2L, fine
    = per-group Lloyd's over each group's members (cells/group =
    N_CELLS_2L / N_GROUPS_2L) — the production refinement for the
    layout that exists precisely where prefix quantizers unbalance
    (operators/ann_index._refined_quantizers_2level)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level,
    )

    key = sf_dir + "#2level-refined"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_refined_")
        build_ann_index_2level(
            spark,
            rebalance(load_table(spark, sf_dir, "embeddings")),
            d,
            refine_iters=1,
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_2level_refined_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the kmeans-refined two-level index searched with the
    standard reader — quantizer TRAINING is the only difference from
    ann_index_2level_topk, and the oracle re-derives that training
    relationally: one unrolled Lloyd's round for the coarse level
    (exactly _KMEANS_SQL's CTE shape with k=N_GROUPS_2L), cosine group
    membership, a per-group fine init (first cells/group member ids)
    plus one unrolled per-group Lloyd's round, then the composed
    assignment / probe / scoring pipeline of _ANN_2LEVEL_SQL over the
    refined centroids. Hash equality proves the distributed two-level
    k-means (coarse aggregate + group-equi-join fine rounds) lands the
    exact artifact the relational math describes."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivf_topk(
        spark,
        _ann_index_2level_refined_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_2level_refined_sql() -> str:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    k_g = AI.N_CELLS_2L // AI.N_GROUPS_2L
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
g0 AS (SELECT vec_id AS grp, emb AS g_emb FROM e
       WHERE vec_id < {AI.N_GROUPS_2L}),
gs AS (
  SELECT e.vec_id, g0.grp,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {_KMEANS_DIST.format(a="e.emb", b="g0.g_emb")}, g0.grp)
           AS rn
  FROM e CROSS JOIN g0
),
ga AS (SELECT vec_id, grp FROM gs WHERE rn = 1),
g1dim AS (
  SELECT ga.grp, t.i AS dim, round(avg(e.emb[t.i + 1]), 6) AS c
  FROM ga JOIN e USING (vec_id), generate_series(0, {S.DIM - 1}) t(i)
  WHERE t.i < len(e.emb)
  GROUP BY ga.grp, t.i
),
g1 AS (SELECT grp, list(c ORDER BY dim) AS g_emb FROM g1dim GROUP BY grp),
mem AS (
  SELECT vec_id, emb, grp FROM (
    SELECT e.vec_id, e.emb, g1.grp,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.emb', 'g1.g_emb')} DESC, g1.grp) AS rn
    FROM e CROSS JOIN g1) WHERE rn = 1
),
f0 AS (
  SELECT grp, vec_id AS cell, emb AS c_emb FROM (
    SELECT mem.*,
           row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS rn
    FROM mem) WHERE rn <= {k_g}
),
fs AS (
  SELECT m.vec_id, m.grp, f0.cell,
         row_number() OVER (PARTITION BY m.vec_id
           ORDER BY {_KMEANS_DIST.format(a="m.emb", b="f0.c_emb")}, f0.cell)
           AS rn
  FROM mem m JOIN f0 ON f0.grp = m.grp
),
fa AS (SELECT vec_id, grp, cell FROM fs WHERE rn = 1),
f1dim AS (
  SELECT fa.grp, fa.cell, t.i AS dim, round(avg(e.emb[t.i + 1]), 6) AS c
  FROM fa JOIN e USING (vec_id), generate_series(0, {S.DIM - 1}) t(i)
  WHERE t.i < len(e.emb)
  GROUP BY fa.grp, fa.cell, t.i
),
f1 AS (SELECT grp, cell, list(c ORDER BY dim) AS c_emb
       FROM f1dim GROUP BY grp, cell),
asgn AS (
  SELECT vec_id, emb, cell FROM (
    SELECT m.vec_id, m.emb, f1.cell,
           row_number() OVER (PARTITION BY m.vec_id
             ORDER BY {_cos_sql('m.emb', 'f1.c_emb')} DESC, f1.cell) AS rn
    FROM mem m JOIN f1 ON f1.grp = m.grp) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
qg AS (
  SELECT q_id, grp FROM (
    SELECT q.q_id, g1.grp,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY {_cos_sql('q.q_emb', 'g1.g_emb')} DESC, g1.grp) AS rn
    FROM q CROSS JOIN g1) WHERE rn <= {AI.N_PROBE_GROUPS}
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, f1.cell,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY {_cos_sql('q.q_emb', 'f1.c_emb')} DESC, f1.cell) AS rn
    FROM q JOIN qg ON qg.q_id = q.q_id
           JOIN f1 ON f1.grp = qg.grp) WHERE rn <= {S.N_PROBE}
),
sims AS (
  SELECT p.q_id, a.vec_id, {_cos_sql('q.q_emb', 'a.emb')} AS sim
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_TOPK}
"""


_ANN_2LEVEL_REFINED_SQL = _ann_2level_refined_sql()


def _ann_index_2level_residual_shared(
    spark: SparkSession, sf_dir: str
) -> str:
    """Two-level index whose PQ arm is RESIDUAL-encoded against each
    vector's FINE centroid — the billion-vector arm with the FAISS
    IndexIVFPQ encoding (operators/ann_index's landing, each row against
    its own fine centroid)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        build_ann_index_2level,
    )

    key = sf_dir + "#2level-residual"
    d = _ANN_INDEX_DIRS.get(key)
    if d is None:
        import tempfile

        d = tempfile.mkdtemp(prefix="ann_index_2l_res_")
        build_ann_index_2level(
            spark,
            rebalance(load_table(spark, sf_dir, "embeddings")),
            d,
            residual=True,
        )
        _ANN_INDEX_DIRS[key] = d
    return d


def ann_index_2level_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the two-level PQ arm with RESIDUAL encoding — codes are
    argmin over the residual codebook of ir = iv(x) - iv(fine_centroid
    (x)), and the query-side LUT is per (query, probed group, cell).
    Oracle = the composed two-level assignment CTEs + the residual
    integer math, end to end."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark,
        _ann_index_2level_residual_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


def _ann_2level_residual_sql() -> str:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {AI.N_CELLS_2L}),
g AS (SELECT vec_id AS grp, emb AS g_emb FROM e WHERE vec_id < {AI.N_GROUPS_2L}),
gmap AS (
  SELECT cell, grp, c_emb FROM (
    SELECT c.cell, g.grp, c.c_emb,
           row_number() OVER (PARTITION BY c.cell
                              ORDER BY {_cos_sql('c.c_emb', 'g.g_emb')} DESC, g.grp)
             AS rn
    FROM c, g) WHERE rn = 1
),
gl AS (SELECT g.grp, g.g_emb FROM g
       WHERE g.grp IN (SELECT DISTINCT grp FROM gmap)),
asgng AS (
  SELECT vec_id, emb, grp FROM (
    SELECT e.vec_id, e.emb, gl.grp,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM e, gl) WHERE rn = 1
),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT a.vec_id, m.cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos_sql('a.emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM asgng a JOIN gmap m ON m.grp = a.grp) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
qg AS (
  SELECT q_id, grp FROM (
    SELECT q.q_id, gl.grp,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM q, gl) WHERE rn <= {AI.N_PROBE_GROUPS}
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, m.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM q JOIN qg ON qg.q_id = q.q_id
           JOIN gmap m ON m.grp = qg.grp) WHERE rn <= {S.N_PROBE}
),
lf AS ({_PQ_LF_SQL}),
fci AS (SELECT vec_id AS cell, subspace, dim, iv FROM lf
        WHERE vec_id < {AI.N_CELLS_2L}),
rlf AS (
  SELECT v.vec_id, v.subspace, v.dim, v.iv - fci.iv AS iv
  FROM lf v
  JOIN asgn a ON a.vec_id = v.vec_id
  JOIN fci ON fci.cell = a.cell AND fci.subspace = v.subspace
          AND fci.dim = v.dim
),
rcb AS (SELECT vec_id AS rcell, subspace, dim, iv AS ic FROM rlf
        WHERE vec_id < {S.PQ_K}),
rdist AS (
  SELECT v.vec_id, v.subspace, b.rcell,
         sum((v.iv - b.ic) * (v.iv - b.ic)) AS sq
  FROM rlf v
  JOIN rcb b ON b.subspace = v.subspace AND b.dim = v.dim
  GROUP BY v.vec_id, v.subspace, b.rcell
),
rcodes AS (
  SELECT vec_id, subspace, rcell AS code FROM (
    SELECT vec_id, subspace, rcell, sq,
           row_number() OVER (PARTITION BY vec_id, subspace
                              ORDER BY sq, rcell) AS rn
    FROM rdist) WHERE rn = 1
),
qlut AS (
  SELECT p.q_id, p.cell AS pcell, r.subspace, r.rcell AS code,
         sum((qv.iv - fci.iv - r.ic) * (qv.iv - fci.iv - r.ic)) AS d
  FROM probes p
  JOIN lf qv ON qv.vec_id = p.q_id
  JOIN fci ON fci.cell = p.cell AND fci.subspace = qv.subspace
          AND fci.dim = qv.dim
  JOIN rcb r ON r.subspace = qv.subspace AND r.dim = qv.dim
  GROUP BY p.q_id, p.cell, r.subspace, r.rcell
),
scored AS (
  SELECT p.q_id, a.vec_id, sum(ql.d) AS adc_dist
  FROM probes p
  JOIN asgn a ON a.cell = p.cell
  JOIN rcodes cd ON cd.vec_id = a.vec_id
  JOIN qlut ql ON ql.q_id = p.q_id AND ql.pcell = p.cell
             AND ql.subspace = cd.subspace AND ql.code = cd.code
  WHERE a.vec_id <> p.q_id
  GROUP BY p.q_id, a.vec_id
)
SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist,
       cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""


_ANN_2LEVEL_RESIDUAL_SQL = _ann_2level_residual_sql()


_2L_RECALL_K = 10


def ann_index_2level_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 vs exact brute-force truth for the TWO-LEVEL artifact
    under both quantizer trainings (prefix first-N and kmeans-refined),
    with the kmeans-refined ONE-group index as the same-probe-budget
    anchor (both probe S.N_PROBE cells; the 2-level variants reach them
    through N_PROBE_GROUPS coarse shards). Rows-only by design — the
    metric grades approximation quality, same contract as
    ann_index_refined_recall; the fixed |queries| x k denominator
    penalizes short lists. This is the registry-auditable answer to
    'does the sharded quantizer (and refining it) hold recall at the
    same probe budget?' — tracked per-round instead of only in
    rehearsals."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    truth = _brute_truth(spark, sf_dir, _2L_RECALL_K)
    qvecs = _query_vectors(spark, sf_dir)

    def arm(shared, reader):
        return lambda: reader(
            spark, shared(spark, sf_dir), qvecs, _2L_RECALL_K
        )

    arms = [
        (
            "2level_first_n",
            arm(_ann_index_2level_shared, AI.ann_index_ivf_topk),
        ),
        (
            "2level_kmeans_refined",
            arm(
                _ann_index_2level_refined_shared,
                AI.ann_index_ivf_topk,
            ),
        ),
        (
            "single_kmeans_refined",
            arm(_ann_index_refined_shared, AI.ann_index_ivf_topk),
        ),
        # the 2-level SQ8 arm's quantized ranking (shortlist == k: the
        # returned SET is the code-space top-k — same apples-to-apples
        # contract as the one-group audit's sq8 variant)
        (
            "2level_sq8",
            lambda: AI.ann_index_sq8_topk(
                spark,
                _ann_index_2level_sq8_shared(spark, sf_dir),
                qvecs,
                _2L_RECALL_K,
                _2L_RECALL_K,
            ),
        ),
    ]
    cands = _staged_arm_union(
        spark, "variant", arms, (sf_dir, "2level_recall", _2L_RECALL_K)
    )
    denom = len(_QUERY_IDS) * _2L_RECALL_K
    return (
        cands.join(F.broadcast(truth), ["q_id", "vec_id"], "left")
        .groupBy("variant")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
        .withColumn(
            "recall_at_k", F.round(F.col("n_hits") / F.lit(denom), 4)
        )
    )


def ann_index_2level_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level index's PQ arm — the billion-vector path: probe
    selection is the sharded-quantizer term (groups, then cells within
    probed groups), and scoring reads ONLY the (group, cell)-pruned
    ``vectors/`` PQ codes with the broadcast integer ADC LUT — 2-byte
    codes instead of raw floats, the ~100x probed-IO cut the layout
    exists for. Oracle = the composed-assignment membership/probes of
    _ANN_2LEVEL_SQL + the exact ADC math of _ANN_IVFPQ_SQL."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_topk(
        spark,
        _ann_index_2level_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
    )


# The 2-level twin's quantizer/membership/probe CTEs with the
# one-group ADC scoring grafted on: members come from the COMPOSED
# assignment (nearest live group, then nearest fine cell within it),
# probes from the two-level selection, distances from the shared PQ
# codebook (corpus rows with vec_id < PQ_K — the same convention both
# build verbs store).
def _ann_2level_ivfpq_sql() -> str:
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {AI.N_CELLS_2L}),
g AS (SELECT vec_id AS grp, emb AS g_emb FROM e WHERE vec_id < {AI.N_GROUPS_2L}),
gmap AS (
  SELECT cell, grp, c_emb FROM (
    SELECT c.cell, g.grp, c.c_emb,
           row_number() OVER (PARTITION BY c.cell
                              ORDER BY {_cos_sql('c.c_emb', 'g.g_emb')} DESC, g.grp)
             AS rn
    FROM c, g) WHERE rn = 1
),
gl AS (SELECT g.grp, g.g_emb FROM g
       WHERE g.grp IN (SELECT DISTINCT grp FROM gmap)),
asgng AS (
  SELECT vec_id, emb, grp FROM (
    SELECT e.vec_id, e.emb, gl.grp,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM e, gl) WHERE rn = 1
),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT a.vec_id, m.cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos_sql('a.emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM asgng a JOIN gmap m ON m.grp = a.grp) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
qg AS (
  SELECT q_id, grp FROM (
    SELECT q.q_id, gl.grp,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'gl.g_emb')} DESC, gl.grp)
             AS rn
    FROM q, gl) WHERE rn <= {AI.N_PROBE_GROUPS}
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, m.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'm.c_emb')} DESC, m.cell)
             AS rn
    FROM q JOIN qg ON qg.q_id = q.q_id
           JOIN gmap m ON m.grp = qg.grp) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
lf AS ({_PQ_LF_SQL}),
dist AS ({_PQ_DIST_SQL}),
codes AS ({_PQ_CODES_SQL}),
lut AS (
  SELECT vec_id AS q_id, subspace, cell AS code, sq AS d
  FROM dist WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
),
scored AS (
  SELECT m.q_id, m.vec_id, sum(l.d) AS adc_dist
  FROM member m
  JOIN codes cd ON cd.vec_id = m.vec_id
  JOIN lut l ON l.q_id = m.q_id AND l.subspace = cd.subspace
            AND l.code = cd.code
  GROUP BY m.q_id, m.vec_id
)
SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist, cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""


_ANN_2LEVEL_IVFPQ_SQL = _ann_2level_ivfpq_sql()


# Two-stage search: ADC shortlist + exact rerank (the production
# composition — PQ IO with exact top-k ordering). Shortlist is sized
# strictly between k and the probed population so the rerank is doing
# real work in the registered query.
_RERANK_SHORTLIST = 3 * _TOPK


def ann_index_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the two-stage search over the one-group artifact — rank
    the probed cells by 2-byte ADC codes, keep a 3k shortlist, exact
    cosine ONLY on those rows. Oracle = the IVFPQ twin's scored CTE cut
    at the shortlist, reranked by the exact rounded cosine."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_rerank_topk(
        spark,
        _ann_index_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


_ANN_IVFPQ_RERANK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
lf AS ({_PQ_LF_SQL}),
dist AS ({_PQ_DIST_SQL}),
codes AS ({_PQ_CODES_SQL}),
lut AS (
  SELECT vec_id AS q_id, subspace, cell AS code, sq AS d
  FROM dist WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
),
scored AS (
  SELECT m.q_id, m.vec_id, sum(l.d) AS adc_dist
  FROM member m
  JOIN codes cd ON cd.vec_id = m.vec_id
  JOIN lut l ON l.q_id = m.q_id AND l.subspace = cd.subspace
            AND l.code = cd.code
  GROUP BY m.q_id, m.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adc_dist, vec_id) AS rn
    FROM scored) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""


def ann_index_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the scalar-quantized (SQ8) two-stage search — the middle
    rung of the compression ladder (raw 256 B → SQ8 64 B → PQ 2 B per
    vector): shortlist by exact-integer code-space L2 over the probed
    cells' int8 codes, exact cosine rerank on the shortlist only.
    Oracle = the same probe/membership CTEs with the
    embedding_quantize grid (per-dim min/max over the corpus,
    round((x - vmin)/span·255)) encoding both sides."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_sq8_topk(
        spark,
        _ann_index_sq8_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


_ANN_SQ8_RERANK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
ex AS (
  SELECT vec_id, i - 1 AS dim, emb[i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
),
stats AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM ex GROUP BY dim),
codes AS (
  SELECT vec_id, dim,
         CASE WHEN s.vmax = s.vmin THEN 0
              ELSE CAST(round((x - s.vmin)
                              / ((s.vmax - s.vmin) / 255.0)) AS bigint)
         END AS code
  FROM ex JOIN stats s USING (dim)
),
sqd AS (
  SELECT m.q_id, m.vec_id,
         sum((qc.code - cc.code) * (qc.code - cc.code)) AS sq_dist
  FROM member m
  JOIN codes cc ON cc.vec_id = m.vec_id
  JOIN codes qc ON qc.vec_id = m.q_id AND qc.dim = cc.dim
  GROUP BY m.q_id, m.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY sq_dist, vec_id) AS rn
    FROM sqd) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""


def ann_index_sq8_trunc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the two ladders COMPOSED — SQ8 precision cut x matryoshka
    dimension cut: the exact-integer code-space shortlist runs on the
    leading 16 of the stored 64 int8 codes (~16 B scored per probed
    vector, vs SQ8's 64 B and raw's 256 B), the rerank stays exact
    full-dimension cosine. The per-dim grid is independent, so the
    prefix of the trained grid IS the trained grid of the prefix —
    which is why the oracle is the SQ8 twin with one dim filter. The
    staged store carries the MATERIALIZED prefix arm
    (add_sq8_prefix_to_ann_index), so the shortlist scan reads the
    ~dims-byte sq8_prefix/ table — the scan-side IO cut — and this
    oracle proves the arm bit-identical to the projection slice."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_sq8_topk(
        spark,
        _with_sq8_prefix(spark, _ann_index_sq8_shared(spark, sf_dir)),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
        dims=S.MRL_DIMS,
    )


# the truncated twin = the SQ8 twin with the shortlist's code-space sum
# restricted to the leading dims (surgery, so the twins cannot drift)
_SQD_TAIL = (
    "JOIN codes qc ON qc.vec_id = m.q_id AND qc.dim = cc.dim\n"
    "  GROUP BY m.q_id, m.vec_id"
)
assert _SQD_TAIL in _ANN_SQ8_RERANK_SQL
_ANN_SQ8_TRUNC_SQL = _ANN_SQ8_RERANK_SQL.replace(
    _SQD_TAIL,
    "JOIN codes qc ON qc.vec_id = m.q_id AND qc.dim = cc.dim\n"
    f"  WHERE cc.dim < {S.MRL_DIMS}\n"
    "  GROUP BY m.q_id, m.vec_id",
)


def ann_index_2level_ivfpq_rerank_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the two-stage search over the sharded-quantizer layout — at
    billion-vector scale THE search (code-IO shortlist + targeted exact
    rerank). Oracle = the 2-level IVFPQ twin cut at the shortlist,
    reranked by the exact rounded cosine."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_ivfpq_rerank_topk(
        spark,
        _ann_index_2level_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


def _ann_2level_ivfpq_rerank_sql() -> str:
    # the 2-level IVFPQ twin with its final top-k swapped for a
    # shortlist cut + exact-cosine rerank
    base = _ann_2level_ivfpq_sql()
    tail = f"""SELECT q_id, vec_id, cast(adc_dist AS bigint) AS adc_dist, cast(rank AS int) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_TOPK}
"""
    assert base.endswith(tail)
    return base[: -len(tail)] + f""", short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adc_dist, vec_id) AS rn
    FROM scored) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""


_ANN_2LEVEL_IVFPQ_RERANK_SQL = _ann_2level_ivfpq_rerank_sql()


def ann_index_2level_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the SQ8 two-stage search on the sharded-quantizer layout —
    the billion-vector middle rung (64 B/vector probed IO, ~3.5x the
    PQ arm's shortlist recall on the fixture). Oracle = the 2-level
    composed-assignment membership/probe CTEs with the SQ8 grid
    (embedding_quantize formula) encoding both sides, shortlist cut +
    exact-cosine rerank."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_sq8_topk(
        spark,
        _ann_index_2level_sq8_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


def _ann_2level_sq8_sql() -> str:
    # the 2-level twin's quantizer/membership/probe CTEs (everything
    # before the PQ scoring starts at `lf AS (`) with the SQ8 grid
    # encoding + integer code-space shortlist + exact rerank grafted on
    base = _ann_2level_ivfpq_sql()
    marker = ",\nlf AS ("
    head = base[: base.index(marker)]
    return (
        head
        + f""",
ex AS (
  SELECT vec_id, i - 1 AS dim, emb[i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
),
stats AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM ex GROUP BY dim),
codes AS (
  SELECT vec_id, dim,
         CASE WHEN s.vmax = s.vmin THEN 0
              ELSE CAST(round((x - s.vmin)
                              / ((s.vmax - s.vmin) / 255.0)) AS bigint)
         END AS code
  FROM ex JOIN stats s USING (dim)
),
sqd AS (
  SELECT m.q_id, m.vec_id,
         sum((qc.code - cc.code) * (qc.code - cc.code)) AS sq_dist
  FROM member m
  JOIN codes cc ON cc.vec_id = m.vec_id
  JOIN codes qc ON qc.vec_id = m.q_id AND qc.dim = cc.dim
  GROUP BY m.q_id, m.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY sq_dist, vec_id) AS rn
    FROM sqd) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""
    )


_ANN_2LEVEL_SQ8_SQL = _ann_2level_sq8_sql()


def ann_index_2level_sq8_trunc_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the composed SQ8 × truncation arm over several groups — same
    16-of-64-codes shortlist as the one-group composition, so BOTH
    ladders exist composed for one group and for several."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_sq8_topk(
        spark,
        _with_sq8_prefix(
            spark, _ann_index_2level_sq8_shared(spark, sf_dir)
        ),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
        dims=S.MRL_DIMS,
    )


# same one-filter surgery as the one-group truncated twin
assert _SQD_TAIL in _ANN_2LEVEL_SQ8_SQL
_ANN_2LEVEL_SQ8_TRUNC_SQL = _ANN_2LEVEL_SQ8_SQL.replace(
    _SQD_TAIL,
    "JOIN codes qc ON qc.vec_id = m.q_id AND qc.dim = cc.dim\n"
    f"  WHERE cc.dim < {S.MRL_DIMS}\n"
    "  GROUP BY m.q_id, m.vec_id",
)


# --- Binary (1-bit) arm: Hamming shortlist + exact rerank ---------------
# The bottom rung of the probed-bytes ladder (~dims/8 B/vector) with the
# shortlist stage entirely JVM-side (xor + bit_count in whole-stage
# codegen — the only rung with NO Python kernel on the scored path).
# Oracle: the same probe/membership CTEs with bit[d] = x > (min+max)/2
# per dim (midrange, not mean — min/max are summation-order-exact, so
# the two engines agree on every bit) and Hamming = count of unequal
# bits; the relational twin never packs words, proving the packed
# bit-arithmetic against an unpacked re-derivation.

_BINARY_READY: set[str] = set()
_BINARY_2L_READY: set[str] = set()


def _ann_index_binary_shared(spark: SparkSession, sf_dir: str) -> str:
    """The shared one-group artifact with its derived binary arm
    added (once per staged dir, like the SQ8 arm)."""
    from rds_pgbadger_etl_spark.operators.ann_index import (
        add_binary_to_ann_index,
    )

    d = _ann_index_shared(spark, sf_dir)
    if d not in _BINARY_READY:
        add_binary_to_ann_index(spark, d)
        _BINARY_READY.add(d)
    return d


def _ann_index_2level_binary_shared(spark: SparkSession, sf_dir: str) -> str:
    from rds_pgbadger_etl_spark.operators.ann_index import (
        add_binary_to_ann_index,
    )

    d = _ann_index_2level_shared(spark, sf_dir)
    if d not in _BINARY_2L_READY:
        add_binary_to_ann_index(spark, d)
        _BINARY_2L_READY.add(d)
    return d


def ann_index_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the binary-quantized two-stage search — sign-bit Hamming
    shortlist over the probed cells' packed words (~8 B/vector at
    DIM=64: 8x under SQ8, 32x under raw; the shortlist scoring is pure
    Catalyst integer bit-arithmetic, no Arrow, no Python), exact cosine
    rerank on the shortlist only. Oracle = the same probe/membership
    CTEs with per-dim midrange bits and an unpacked Hamming count."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_binary_topk(
        spark,
        _ann_index_binary_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


_ANN_BINARY_RERANK_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
ex AS (
  SELECT vec_id, i - 1 AS dim, emb[i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
),
stats AS (SELECT dim, (min(x) + max(x)) / 2.0 AS thresh FROM ex GROUP BY dim),
bits AS (
  SELECT vec_id, dim, CASE WHEN x > s.thresh THEN 1 ELSE 0 END AS bit
  FROM ex JOIN stats s USING (dim)
),
ham AS (
  SELECT m.q_id, m.vec_id,
         sum(CASE WHEN qb.bit <> cb.bit THEN 1 ELSE 0 END) AS hd
  FROM member m
  JOIN bits cb ON cb.vec_id = m.vec_id
  JOIN bits qb ON qb.vec_id = m.q_id AND qb.dim = cb.dim
  GROUP BY m.q_id, m.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY hd, vec_id) AS rn
    FROM ham) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""


def ann_index_2level_binary_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the binary arm over several groups — same Hamming-shortlist
    + exact-rerank contract over the (group, cell) pruned scan, so the
    1-bit rung exists for one group and for several like every other
    rung of the ladder."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_binary_topk(
        spark,
        _ann_index_2level_binary_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
    )


def _ann_2level_binary_sql() -> str:
    # the 2-level twin's quantizer/membership/probe CTEs with the
    # midrange-bit encoding + unpacked Hamming shortlist + exact
    # rerank grafted on (same head surgery as _ann_2level_sq8_sql)
    base = _ann_2level_ivfpq_sql()
    marker = ",\nlf AS ("
    head = base[: base.index(marker)]
    return (
        head
        + f""",
ex AS (
  SELECT vec_id, i - 1 AS dim, emb[i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
),
stats AS (SELECT dim, (min(x) + max(x)) / 2.0 AS thresh FROM ex GROUP BY dim),
bits AS (
  SELECT vec_id, dim, CASE WHEN x > s.thresh THEN 1 ELSE 0 END AS bit
  FROM ex JOIN stats s USING (dim)
),
ham AS (
  SELECT m.q_id, m.vec_id,
         sum(CASE WHEN qb.bit <> cb.bit THEN 1 ELSE 0 END) AS hd
  FROM member m
  JOIN bits cb ON cb.vec_id = m.vec_id
  JOIN bits qb ON qb.vec_id = m.q_id AND qb.dim = cb.dim
  GROUP BY m.q_id, m.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY hd, vec_id) AS rn
    FROM ham) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""
    )


_ANN_2LEVEL_BINARY_SQL = _ann_2level_binary_sql()


# --- The ladder COMPOSED: binary -> SQ8 -> exact cascade ----------------
# Three stages, each reading less and costing more per row: the ~dims/8 B
# Hamming stage covers the probed population and keeps a DEEP coarse
# shortlist (4x the SQ8 shortlist — depth is how the cascade absorbs the
# 1-bit rung's precision loss), exact-integer SQ8 L2 re-scores only
# those survivors, exact cosine reranks only the final shortlist. The
# first two stages are pure whole-stage codegen. Oracle = the binary
# twin's Hamming CTEs feeding the SQ8 twin's code CTEs feeding the
# exact rerank — one relational pipeline, no packing anywhere.

_CASCADE_COARSE = 4 * _RERANK_SHORTLIST


def _ann_index_cascade_shared(spark: SparkSession, sf_dir: str) -> str:
    """The shared one-group artifact carrying BOTH derived arms the
    cascade needs (each derive is once-per-dir idempotent)."""
    d = _ann_index_sq8_shared(spark, sf_dir)
    assert _ann_index_binary_shared(spark, sf_dir) == d  # same staged dir
    return d


def ann_index_cascade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the probed-bytes ladder composed as a three-stage cascade —
    binary Hamming (8 B/vector scan) -> SQ8 integer L2 (survivors
    only) -> exact cosine (final shortlist only). The only Python in
    the plan is the last stage's |q| x shortlist cosine kernel."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_cascade_topk(
        spark,
        _ann_index_cascade_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
        _CASCADE_COARSE,
    )


_CASCADE_STAGES_SQL = f"""
ex AS (
  SELECT vec_id, i - 1 AS dim, emb[i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
),
bstats AS (SELECT dim, (min(x) + max(x)) / 2.0 AS thresh FROM ex GROUP BY dim),
bits AS (
  SELECT vec_id, dim, CASE WHEN x > s.thresh THEN 1 ELSE 0 END AS bit
  FROM ex JOIN bstats s USING (dim)
),
ham AS (
  SELECT m.q_id, m.vec_id,
         sum(CASE WHEN qb.bit <> cb.bit THEN 1 ELSE 0 END) AS hd
  FROM member m
  JOIN bits cb ON cb.vec_id = m.vec_id
  JOIN bits qb ON qb.vec_id = m.q_id AND qb.dim = cb.dim
  GROUP BY m.q_id, m.vec_id
),
short1 AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY hd, vec_id) AS rn
    FROM ham) WHERE rn <= {_CASCADE_COARSE}
),
qstats AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM ex GROUP BY dim),
codes AS (
  SELECT vec_id, dim,
         CASE WHEN s.vmax = s.vmin THEN 0
              ELSE CAST(round((x - s.vmin)
                              / ((s.vmax - s.vmin) / 255.0)) AS bigint)
         END AS code
  FROM ex JOIN qstats s USING (dim)
),
sqd AS (
  SELECT s.q_id, s.vec_id,
         sum((qc.code - cc.code) * (qc.code - cc.code)) AS sq_dist
  FROM short1 s
  JOIN codes cc ON cc.vec_id = s.vec_id
  JOIN codes qc ON qc.vec_id = s.q_id AND qc.dim = cc.dim
  GROUP BY s.q_id, s.vec_id
),
short2 AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY sq_dist, vec_id) AS rn
    FROM sqd) WHERE rn <= {_RERANK_SHORTLIST}
),
rerank AS (
  SELECT s.q_id, s.vec_id, {_cos_sql('q.q_emb', 'v.emb')} AS sim
  FROM short2 s
  JOIN e v ON v.vec_id = s.vec_id
  JOIN q ON q.q_id = s.q_id
)
SELECT q_id, vec_id, sim, cast(rnk AS int) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM rerank
) WHERE rnk <= {_TOPK}
"""

_ANN_CASCADE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS emb
  FROM embeddings
),
c AS (SELECT vec_id AS cell, emb AS c_emb FROM e WHERE vec_id < {S.N_CENTROIDS}),
asgn AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM e, c) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_cos_sql('q.q_emb', 'c.c_emb')} DESC, c.cell)
             AS rn
    FROM q, c) WHERE rn <= {S.N_PROBE}
),
member AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
  WHERE a.vec_id <> p.q_id
),
{_CASCADE_STAGES_SQL}"""


def _ann_index_2level_cascade_shared(
    spark: SparkSession, sf_dir: str
) -> str:
    d = _ann_index_2level_sq8_shared(spark, sf_dir)
    assert _ann_index_2level_binary_shared(spark, sf_dir) == d
    return d


def ann_index_2level_cascade_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X3: the three-stage cascade over several groups — the composed
    ladder exists for one group and for several like each rung."""
    from rds_pgbadger_etl_spark.operators import ann_index as AI

    return AI.ann_index_cascade_topk(
        spark,
        _ann_index_2level_cascade_shared(spark, sf_dir),
        _query_vectors(spark, sf_dir),
        _TOPK,
        _RERANK_SHORTLIST,
        _CASCADE_COARSE,
    )


def _ann_2level_cascade_sql() -> str:
    # same head surgery as the other 2-level derived-arm twins
    base = _ann_2level_ivfpq_sql()
    marker = ",\nlf AS ("
    head = base[: base.index(marker)]
    return head + ",\n" + _CASCADE_STAGES_SQL


_ANN_2LEVEL_CASCADE_SQL = _ann_2level_cascade_sql()


QUERIES = {
    "dedup_exact": (dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_minhash_sigs": (dedup_minhash_sigs, _DEDUP_MINHASH_SIGS_SQL),
    "dedup_near_pairs": (dedup_near_pairs, _DEDUP_NEAR_PAIRS_SQL),
    "dedup_jaccard_histogram": (dedup_jaccard_histogram, _DEDUP_JHIST_SQL),
    "dedup_clusters": (dedup_clusters, _DEDUP_CLUSTERS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, _DEDUP_NGRAM_JACCARD_SQL),
    "dedup_simhash": (dedup_simhash, _DEDUP_SIMHASH_SQL),
    "text_stats": (text_stats, _TEXT_STATS_SQL),
    "text_lang_id": (text_lang_id, _TEXT_LANG_ID_SQL),
    "text_token_count": (text_token_count, _TEXT_TOKEN_COUNT_SQL),
    "doc_fingerprint": (doc_fingerprint, _DOC_FINGERPRINT_SQL),
    "ann_cosine_topk": (ann_cosine_topk, _ANN_BRUTE_SQL),
    "ann_truncated_topk": (ann_truncated_topk, _ANN_TRUNC_SQL),
    "ann_truncated_rerank_topk": (
        ann_truncated_rerank_topk,
        _ANN_TRUNC_RERANK_SQL,
    ),
    "ann_truncated_recall": (ann_truncated_recall, _ANN_TRUNC_RECALL_SQL),
    "ann_index_truncated_topk": (
        ann_index_truncated_topk,
        _ANN_IDX_TRUNC_SQL,
    ),
    "ann_index_2level_truncated_topk": (
        ann_index_2level_truncated_topk,
        _ANN_2LEVEL_TRUNC_SQL,
    ),
    "ann_lsh_topk": (ann_lsh_topk, _ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, _ANN_IVF_SQL),
    "embedding_near_dups": (embedding_near_dups, _EMB_NEAR_DUPS_SQL),
    "multimodal_features": (multimodal_features, _MULTIMODAL_SQL),
    "multimodal_decode": (multimodal_decode, _MULTIMODAL_DECODE_SQL),
    "multimodal_image_dedup": (multimodal_image_dedup, _MULTIMODAL_AHASH_SQL),
    "multimodal_audio_dedup": (multimodal_audio_dedup, _MULTIMODAL_AUDIO_SQL),
    "multimodal_audio_near_dups": (
        multimodal_audio_near_dups,
        _MULTIMODAL_AUDIO_NEAR_SQL,
    ),
    "multimodal_audio_contours": (
        multimodal_audio_contours,
        _MULTIMODAL_AUDIO_CONTOUR_SQL,
    ),
    "multimodal_video_dedup": (multimodal_video_dedup, _MULTIMODAL_VIDEO_SQL),
    "multimodal_video_frames": (
        multimodal_video_frames,
        _MULTIMODAL_VFRAMES_SQL,
    ),
    "multimodal_video_near_dups": (
        multimodal_video_near_dups,
        _MULTIMODAL_VIDEO_NEAR_SQL,
    ),
    "multimodal_image_near_dups": (
        multimodal_image_near_dups,
        _MULTIMODAL_NEAR_SQL,
    ),
    "multimodal_frames": (multimodal_frames, _MULTIMODAL_FRAMES_SQL),
    "pretrain_filter": (pretrain_filter, _PRETRAIN_FILTER_SQL),
    "sample_weighted_mix": (sample_weighted_mix, _SAMPLE_MIX_SQL),
    "top_docs_per_lang": (top_docs_per_lang, _TOP_DOCS_SQL),
    "curriculum_buckets": (curriculum_buckets, _CURRICULUM_SQL),
    "text_tfidf_top_terms": (text_tfidf_top_terms, _TFIDF_SQL),
    "data_profile": (data_profile, _DATA_PROFILE_SQL),
    "inverted_index": (inverted_index, _INVERTED_INDEX_SQL),
    "quality_filter_adaptive": (quality_filter_adaptive, _QUALITY_ADAPTIVE_SQL),
    "token_budget_mix": (token_budget_mix, _TOKEN_BUDGET_SQL),
    "embedding_outliers": (embedding_outliers, _EMB_OUTLIERS_SQL),
    "kmeans_refine": (kmeans_refine, _KMEANS_SQL),
    "ann_filtered_topk": (ann_filtered_topk, _ANN_FILTERED_SQL),
    "corpus_overlap_matrix": (corpus_overlap_matrix, _OVERLAP_SQL),
    "title_block_matches": (title_block_matches, _TITLE_BLOCK_SQL),
    "boilerplate_ngrams": (boilerplate_ngrams, _BOILERPLATE_SQL),
    "unigram_logprob": (unigram_logprob, _UNIGRAM_LOGPROB_SQL),
    "winnowing_fingerprints": (winnowing_fingerprints, _WINNOWING_SQL),
    "embedding_quantize": (embedding_quantize, _EMBEDDING_QUANTIZE_SQL),
    "pq_code_histogram": (pq_code_histogram, _PQ_CODE_HISTOGRAM_SQL),
    "pq_adc_topk": (pq_adc_topk, _PQ_ADC_SQL),
    "ann_ivfpq_topk": (ann_ivfpq_topk, _ANN_IVFPQ_SQL),
    "exact_substring_overlap": (exact_substring_overlap, _EXACT_OVERLAP_SQL),
    "dedup_span_removal": (dedup_span_removal, _SPAN_REMOVAL_SQL),
    "bpe_train_merges": (bpe_train_merges, _BPE_SQL),
    "bpe_segment_words": (bpe_segment_words, _BPE_SEG_SQL),
    "quality_deciles": (quality_deciles, _QUALITY_DECILES_SQL),
    "canonical_sample": (canonical_sample, _CANONICAL_SAMPLE_SQL),
    "dedup_containment": (dedup_containment, _CONTAINMENT_SQL),
    "dedup_containment_prefix": (
        dedup_containment_prefix,
        _CONTAINMENT_PREFIX_SQL,
    ),
    "containment_dedup_report": (
        containment_dedup_report,
        _CONTAINMENT_REPORT_SQL,
    ),
    "dedup_index_lookup": (dedup_index_lookup, _DEDUP_INDEX_SQL),
    "dedup_index_delete_lookup": (
        dedup_index_delete_lookup,
        _DEDUP_DELETE_SQL,
    ),
    "dedup_index_stats": (dedup_index_stats, None),
    "text_readability": (text_readability, _READABILITY_SQL),
    "ann_recall_report": (ann_recall_report, None),
    "ann_index_ivfpq_topk": (ann_index_ivfpq_topk, _ANN_IVFPQ_SQL),
    "ann_index_ivf_topk": (ann_index_ivf_topk, _ANN_IVF_SQL),
    "ann_index_lsh_topk": (ann_index_lsh_topk, _ANN_LSH_SQL),
    "ann_index_upsert_topk": (ann_index_upsert_topk, _ANN_IVFPQ_SQL),
    "ann_index_2level_topk": (ann_index_2level_topk, _ANN_2LEVEL_SQL),
    "ann_index_2level_upsert_topk": (
        ann_index_2level_upsert_topk,
        _ANN_2LEVEL_SQL,
    ),
    "ann_index_2level_delete_topk": (
        ann_index_2level_delete_topk,
        _ANN_2LEVEL_DELETE_SQL,
    ),
    "ann_2level_flag_batch": (ann_2level_flag_batch, _ANN_2LEVEL_FLAG_SQL),
    "ann_index_2level_ivfpq_topk": (
        ann_index_2level_ivfpq_topk,
        _ANN_2LEVEL_IVFPQ_SQL,
    ),
    "ann_index_ivfpq_rerank_topk": (
        ann_index_ivfpq_rerank_topk,
        _ANN_IVFPQ_RERANK_SQL,
    ),
    "ann_index_sq8_topk": (ann_index_sq8_topk, _ANN_SQ8_RERANK_SQL),
    "ann_index_binary_topk": (ann_index_binary_topk, _ANN_BINARY_RERANK_SQL),
    "ann_index_2level_binary_topk": (
        ann_index_2level_binary_topk,
        _ANN_2LEVEL_BINARY_SQL,
    ),
    "ann_index_cascade_topk": (ann_index_cascade_topk, _ANN_CASCADE_SQL),
    "ann_index_2level_cascade_topk": (
        ann_index_2level_cascade_topk,
        _ANN_2LEVEL_CASCADE_SQL,
    ),
    "ann_index_sq8_trunc_topk": (
        ann_index_sq8_trunc_topk,
        _ANN_SQ8_TRUNC_SQL,
    ),
    "ann_index_2level_sq8_trunc_topk": (
        ann_index_2level_sq8_trunc_topk,
        _ANN_2LEVEL_SQ8_TRUNC_SQL,
    ),
    "ann_index_2level_sq8_topk": (
        ann_index_2level_sq8_topk,
        _ANN_2LEVEL_SQ8_SQL,
    ),
    "ann_index_2level_dist_topk": (
        ann_index_2level_dist_topk,
        _ANN_2LEVEL_SQL,
    ),
    "ann_index_2level_ivfpq_rerank_topk": (
        ann_index_2level_ivfpq_rerank_topk,
        _ANN_2LEVEL_IVFPQ_RERANK_SQL,
    ),
    "ann_index_delete_topk": (ann_index_delete_topk, _ANN_DELETE_SQL),
    "ann_index_refined_recall": (ann_index_refined_recall, None),
    "ann_index_2level_refined_topk": (
        ann_index_2level_refined_topk,
        _ANN_2LEVEL_REFINED_SQL,
    ),
    "ann_index_2level_recall": (ann_index_2level_recall, None),
    "ann_index_ivfpq_residual_topk": (
        ann_index_ivfpq_residual_topk,
        _ANN_IVFPQ_RES_SQL,
    ),
    "ann_index_2level_residual_topk": (
        ann_index_2level_residual_topk,
        _ANN_2LEVEL_RESIDUAL_SQL,
    ),
    "ann_index_stats": (ann_index_stats, None),
    "ann_index_sq8_drift": (ann_index_sq8_drift, None),
    "ann_knn_join": (ann_knn_join, _ANN_KNN_JOIN_SQL),
    "embedding_pagerank": (embedding_pagerank, _PAGERANK_SQL),
    "embedding_communities": (embedding_communities, _LPA_SQL),
    "curation_funnel": (curation_funnel, _CURATION_FUNNEL_SQL),
    "embed_documents_batch": (embed_documents_batch, _EMBED_DOCS_SQL),
    "semantic_dedup": (semantic_dedup, _SEMDEDUP_SQL),
    "near_dup_triangles": (near_dup_triangles, _TRIANGLES_SQL),
    "heavy_hitter_tokens": (heavy_hitter_tokens, _HEAVY_HITTERS_SQL),
}
