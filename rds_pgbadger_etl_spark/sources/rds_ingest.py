"""RDS log staging utility — the engine's replacement for the reference's
download path (SURVEY O9/O10/O11, §3.3).

The reference hand-builds a SigV4 presigned REST call with no retries and
no status check (rds_download_log.py:25-125; a non-200 body would be
written out as the "log", and missing credentials return the literal
string 'No access key is available.', rds_download_log.py:49-50). Here:

- listing uses ``describe_db_log_files`` with the name-contains pushdown
  the reference uses (rds_pgbadger.py:86-93) plus pagination;
- download uses boto3's ``download_db_log_file_portion`` (paginated
  Marker/AdditionalDataPending protocol) — SDK-signed, no hand-rolled
  SigV4;
- real error handling: exceptions propagate, bounded retries with
  backoff;
- region resolution from the instance ARN (split(':')[3], the
  reference's rds_download_log.py:13-19) only when not configured.

The engine proper never calls the network: this utility *stages* log text
to a local/object-store directory laid out as
``log_date=YYYY-MM-DD/log_hour=HH/<name>`` so ``spark.read.text`` gets
hour-partition pruning for free (O2). Spark reads staged storage only.

All functions accept an injected client (duck-typed) so tests run with a
fake; a real boto3 client is constructed only in :func:`rds_client`.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable


def rds_client(region: str | None = None):
    """Construct a real boto3 RDS client (network path — not used by
    tests or the engine's query layer)."""
    try:
        import boto3
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError("boto3 is required for live RDS staging") from exc
    return boto3.client("rds", region_name=region) if region else boto3.client("rds")


def region_from_arn(arn: str) -> str:
    """arn:aws:rds:REGION:acct:db:name → REGION (rds_download_log.py:13-19)."""
    parts = arn.split(":")
    if len(parts) < 4 or not parts[3]:
        raise ValueError(f"cannot parse region from ARN {arn!r}")
    return parts[3]


def list_log_files(
    client, instance_id: str, filename_contains: str | None = None
) -> list[dict]:
    """All log-file descriptors, with server-side contains-pushdown and
    Marker pagination (the reference caps at one 24-file page,
    rds_pgbadger.py:91 — a silent-truncation bug this avoids)."""
    kwargs: dict = {"DBInstanceIdentifier": instance_id}
    if filename_contains:
        kwargs["FilenameContains"] = filename_contains
    out: list[dict] = []
    while True:
        resp = client.describe_db_log_files(**kwargs)
        out.extend(resp.get("DescribeDBLogFiles", []))
        marker = resp.get("Marker")
        if not marker:
            return out
        kwargs["Marker"] = marker


def download_log_file(
    client,
    instance_id: str,
    file_name: str,
    retries: int = 3,
    backoff_s: float = 1.0,
) -> str:
    """Full log text via the paginated portion API, with bounded retries
    (the reference does a single unchecked GET, rds_download_log.py:119-125)."""
    chunks: list[str] = []
    marker = "0"
    while True:
        for attempt in range(retries):
            try:
                resp = client.download_db_log_file_portion(
                    DBInstanceIdentifier=instance_id,
                    LogFileName=file_name,
                    Marker=marker,
                    NumberOfLines=10_000,
                )
                break
            except Exception:
                if attempt == retries - 1:
                    raise
                time.sleep(backoff_s * (2**attempt))
        chunks.append(resp.get("LogFileData") or "")
        if not resp.get("AdditionalDataPending"):
            return "".join(chunks)
        marker = resp["Marker"]


def staging_path(dest_dir: str, file_name: str) -> str:
    """Hour-partitioned staging layout from the name's trailing
    YYYY-MM-DD-HH (``logcatalog.name_hour``, rds_pgbadger.py:120);
    undated names land in the 'unknown' partition (utils.py:14-21
    semantics)."""
    from rds_pgbadger_etl_spark.sources.logcatalog import name_hour

    base = os.path.basename(file_name)
    ts = name_hour(base)
    date, hour = (f"{ts:%Y-%m-%d}", f"{ts:%H}") if ts else ("unknown", "00")
    return os.path.join(dest_dir, f"log_date={date}", f"log_hour={hour}", base)


def stage_logs(
    client,
    instance_id: str,
    file_names: Iterable[str],
    dest_dir: str,
    skip_existing: bool = True,
) -> list[str]:
    """Download each file to the partitioned staging layout; an existing
    target is skipped (the idempotent-target behavior of O15, made
    explicit). Returns the written paths."""
    written: list[str] = []
    for name in file_names:
        path = staging_path(dest_dir, name)
        if skip_existing and os.path.exists(path):
            continue
        text = download_log_file(client, instance_id, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".inprogress"
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, path)  # atomic commit (the reference's O13)
        written.append(path)
    return written
