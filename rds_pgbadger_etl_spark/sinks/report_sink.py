"""Report/event sinks.

Replaces the reference's Luigi-target plumbing (atomic temp-path write
rds_pgbadger.py:47-49; local→S3 copy rds_pgbadger.py:14-31; per-target
idempotency rds_pgbadger.py:25-26,44-45,70-71):

- events: ``partitionBy(log_date, log_hour)`` + dynamic partition
  overwrite through Spark's file-output committer gives atomic commit
  (O13) and deterministic, idempotent re-runs per hour partition (O15) —
  re-running an hour replaces exactly that hour;
- report: every section is bounded (a top-N, a per-bucket table, a cube
  over distinct keys), so ``collect_report`` brings all sections of one
  report to the driver in ONE Spark action, and ``write_report`` writes
  each with pyarrow: temp file, ``os.replace`` into a fixed name, earlier
  part files removed, ``_SUCCESS`` last — atomic and idempotent per
  section;
- an optional HTML rendering step reproduces the reference's one-HTML-
  per-run artifact (rds_pgbadger.py:26,45) from the same collected rows.
"""

from __future__ import annotations

import html as _html
import os
import tempfile
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    IntegerType,
    StructField,
    StructType,
)

from rds_pgbadger_etl_spark.sources.logcatalog import NAME_HOUR_RE


def write_events_partitioned(events: DataFrame, out_dir: str) -> dict:
    """Write parsed events hour-partitioned (P12 layout); return
    parse-quality counters observed on the write itself.

    log_date/log_hour are the trailing YYYY-MM-DD-HH of the source file
    name (…/postgresql.log.YYYY-MM-DD-HH — reference rds_pgbadger.py:120),
    by the catalog's one hour rule (``logcatalog.NAME_HOUR_RE``); a name
    without one gets Spark's null partition.
    Dynamic partition overwrite makes re-runs idempotent per partition.

    The counters (total events, MALFORMED-quarantined events, events
    with an unparseable timestamp) ride the write action via
    ``Observation`` — Spark accumulates them as rows stream through the
    committer, so the data-quality report costs ZERO extra scans. At
    100 TB a separate ``count()`` per metric would re-read the table;
    this is the production pattern for pipeline health metrics.
    """
    from pyspark.sql import Observation

    obs = Observation("parse_quality")
    (
        events.withColumn(
            "log_date", F.regexp_extract("source_file", NAME_HOUR_RE, 1)
        )
        .withColumn("log_hour", F.regexp_extract("source_file", NAME_HOUR_RE, 2))
        .observe(
            obs,
            F.count(F.lit(1)).alias("events"),
            F.sum((F.col("level") == "MALFORMED").cast("long")).alias(
                "malformed"
            ),
            F.sum(F.col("event_ts").isNull().cast("long")).alias("null_ts"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("log_date", "log_hour")
        .parquet(out_dir)
    )
    m = obs.get
    return {k: (v or 0) for k, v in m.items()}


def read_events_hours(
    spark, events_dir: str, hours: list[tuple[str, int]], data_schema: StructType
) -> DataFrame:
    """The stored events of the (log_date, log_hour) ``hours`` of the
    table :func:`write_events_partitioned` wrote at ``events_dir``.

    Only those hours' directories are listed (``basePath`` keeps their
    partition columns): a read of the table's root lists every partition
    of every earlier run, and past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    directories Spark does that listing as a Spark job. The schema is
    ``data_schema`` (the parse plan's) plus the partition columns, so no
    footer is read to infer it and an hour whose file held no events —
    which writes no directory — reads as empty instead of failing; with
    no directory at all the frame is empty with the same schema. Rows,
    columns and types equal those of the root read filtered to
    ``hours``."""
    # the partition columns as a root read infers them from the names
    schema = StructType(
        list(data_schema.fields)
        + [
            StructField("log_date", DateType()),
            StructField("log_hour", IntegerType()),
        ]
    )
    dirs = [
        os.path.join(events_dir, f"log_date={d}", f"log_hour={h:02d}")
        for d, h in sorted(set(hours))
    ]
    dirs = [p for p in dirs if os.path.isdir(p)]
    if not dirs:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema).option("basePath", events_dir).parquet(*dirs)
    )


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every nested field and array element nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    return dt


def collect_report(sections: dict[str, DataFrame]) -> dict[str, pa.Table]:
    """All sections' rows in one Spark action, as one Arrow table each.

    Branch i of a ``unionAll`` carries section i's row as the struct
    column ``_s<i>`` and a null in every other section's column; one
    ``toArrow()`` brings the union back and the ``_section`` index
    splits it. Every struct field is cast to nullable: Arrow rejects a
    null parent over a non-null child. Each branch keeps its own row
    order (a top-N stays sorted)."""
    names = list(sections)
    types = [_nullable(sections[n].schema) for n in names]
    branches = [
        sections[n].select(
            F.lit(i).alias("_section"),
            *[
                (
                    F.struct(*[F.col(f"`{c}`") for c in sections[n].columns])
                    if j == i
                    else F.lit(None)
                ).cast(t).alias(f"_s{j}")
                for j, t in enumerate(types)
            ],
        )
        for i, n in enumerate(names)
    ]
    rows = reduce(DataFrame.unionAll, branches).toArrow()
    section = rows.column("_section")
    return {
        n: pa.Table.from_struct_array(
            rows.filter(pc.equal(section, i)).column(f"_s{i}").combine_chunks()
        )
        for i, n in enumerate(names)
    }


def _write_section(table: pa.Table, path: str) -> None:
    """Write one section table as ``path/part-00000.parquet``: a hidden
    temp file ``os.replace``d into place, then every earlier file of the
    directory removed (a re-run leaves one data file), then ``_SUCCESS``.
    Readers skip names starting with ``.`` or ``_``, and the rename
    replaces the previous run's file in one step, so they see either
    the old table or the new one, never a partial file."""
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, "part-00000.parquet")
    fd, tmp = tempfile.mkstemp(prefix=".part-", suffix=".tmp", dir=path)
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, final)
    except BaseException:
        os.unlink(tmp)
        raise
    for f in os.listdir(path):
        p = os.path.join(path, f)
        if p != final and os.path.isfile(p):
            os.unlink(p)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def write_report(sections: dict[str, DataFrame], out_dir: str) -> dict[str, pa.Table]:
    """Write each report section as its own parquet table under
    ``out_dir/<section>``, from one collect of all sections; returns the
    collected tables (for ``render_html``)."""
    tables = collect_report(sections)
    for name, table in tables.items():
        _write_section(table, os.path.join(out_dir, name))
    return tables


def render_html(
    sections: dict[str, DataFrame] | dict[str, pa.Table],
    path: str,
    max_rows: int = 200,
) -> None:
    """Materialize the report as one HTML document (the reference's
    artifact shape). Driver-side by design: sections are already
    aggregated top-K/small tables. Takes the tables ``write_report``
    returned, or DataFrames, which it collects in one action."""
    if any(isinstance(v, DataFrame) for v in sections.values()):
        sections = collect_report(sections)
    parts = ["<html><head><title>log report</title></head><body>"]
    for name, table in sections.items():
        pdf = table.slice(0, max_rows).to_pandas()
        parts.append(f"<h2>{_html.escape(name)}</h2>")
        parts.append(pdf.to_html(index=False, border=0))
    parts.append("</body></html>")
    with open(path, "w") as f:
        f.write("\n".join(parts))
