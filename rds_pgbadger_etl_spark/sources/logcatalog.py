"""Log-file catalog planning: the reference's O2–O8 dataflow, declaratively.

The reference eagerly plans over the RDS file listing
(rds_pgbadger.py:83-129): list files whose names contain the target dates
(O2, server-side contains-filter + MaxRecords), union day chunks with a
visited-set (O3) plus a midnight boundary-fill (O4), drop the
still-open reference hour (O5), sort by the timestamp parsed from the last
13 name chars (O6), keep the newest ``max_records`` (O7), and fan out one
task per file (O8).

Here the whole selection is ONE function over the listed names
(``select_names``): deriving the hour window first makes the reference's
day-chunk union and boundary-fill edge case (rds_pgbadger.py:104-110)
structurally impossible. The listing is already a Python list on the
driver, so selecting there costs no Spark job; ``select_log_files`` adapts
it to a file-catalog DataFrame for the registry. Fan-out (O8) is just
Spark reading the selected paths — one partition per file split.

File-name format: ``…postgresql.log.YYYY-MM-DD-HH`` (reference
rds_pgbadger.py:120; rds_download_log.py:58).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame

# A log file's hour: the trailing YYYY-MM-DD-HH of its name, e.g.
# …postgresql.log.2019-04-01-10 (groups: date, hour). The one rule for
# selection, the per-hour report and the events' partition columns; the
# Spark side applies the same pattern in ``regexp_extract``.
NAME_HOUR_RE = r"(\d{4}-\d{2}-\d{2})-(\d{2})$"
_NAME_HOUR = re.compile(NAME_HOUR_RE, re.ASCII)


def name_hour(name: str) -> datetime | None:
    """The trailing YYYY-MM-DD-HH of ``name`` as a datetime; None when the
    name does not end in a valid timestamp (``garbage``, a month 13, a
    ``.gz`` suffix): quarantine, don't drop — O17."""
    m = _NAME_HOUR.search(name)
    if m is None:
        return None
    try:
        return datetime.strptime(m.group(0), "%Y-%m-%d-%H")
    except ValueError:
        return None


def hour_partition(name: str) -> tuple[str, int]:
    """(log_date, log_hour) of a selected log file, by :func:`name_hour`.
    Loud on a name without a valid trailing hour: a caller building a
    partition path or predicate from it would otherwise silently miss
    that hour."""
    ts = name_hour(name)
    if ts is None:
        raise ValueError(
            f"log file name {name!r} does not end in YYYY-MM-DD-HH;"
            " cannot derive its (log_date, log_hour) partition"
        )
    return f"{ts:%Y-%m-%d}", ts.hour


def select_names(
    names: list[str],
    reference_dt: datetime,
    max_records: int | None = 5,
) -> list[str]:
    """Pick the newest ``max_records`` *closed*-hour file names before the
    reference hour — the reference's entire planning pipeline
    (rds_pgbadger.py:83-129) over the listed names.

    Newest first (timestamp, then name, descending). The reference-hour
    file is excluded because it is still being written (O5 — the batch
    twin of a 1-hour watermark). Names without a valid trailing
    timestamp are quarantined, not failed on (O17). ``max_records=None``
    means every closed hour.
    """
    ref_hour = reference_dt.replace(minute=0, second=0, microsecond=0)
    dated = [(ts, n) for n in names if (ts := name_hour(n)) is not None]
    picked = sorted((d for d in dated if d[0] < ref_hour), reverse=True)
    return [n for _ts, n in picked[:max_records]]


def select_log_files(
    files: DataFrame,
    reference_dt: datetime,
    max_records: int | None = 5,
    name_col: str = "file_name",
) -> DataFrame:
    """``select_names`` over a file-catalog DataFrame: collects the names,
    selects on the driver and returns (``name_col``, file_ts), newest
    first. ``file_ts`` is the name's hour in UTC, the session time zone
    (a naive datetime would be read in the process's local zone)."""
    names = [r[0] for r in files.select(name_col).collect() if r[0] is not None]
    return files.sparkSession.createDataFrame(
        [
            (n, name_hour(n).replace(tzinfo=timezone.utc))
            for n in select_names(names, reference_dt, max_records)
        ],
        f"`{name_col}` string, file_ts timestamp",
    )
