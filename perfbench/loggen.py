"""Seeded PostgreSQL stderr-log generator with ground truth.

Writes hour files named ``postgresql.log.YYYY-MM-DD-HH`` in the format the
engine parses (``log_line_prefix = '%t:%r:%u@%d:[%p]:'``) and returns, for
every file, the totals a correct parse must reproduce: raw lines, events,
events per level, duration counts and sums per pgBadger duration bucket, and
error counts per (level, normalized message) as the ``error_report`` section
groups them.

The payload mix covers what the report sections consume: single-line and
multi-line statements with durations, prepare/bind/execute phases, errors
with DETAIL and STATEMENT lines, connection lifecycles, temp files,
checkpoints and autovacuum. Query popularity is Zipf-skewed, and every hour
draws its own popularity order, so the hot statements move between hours.
The same seed gives byte-identical files and identical totals.

Every file of ``n`` entries holds the same number of entries of each kind,
in a seeded order, so its line and event counts depend on ``n`` alone: the
events-per-line ratio of a parse is the same for every seed.
"""

from __future__ import annotations

import os
import random
import re
from bisect import bisect_left, bisect_right
from datetime import datetime, timedelta
from itertools import accumulate

# exclusive upper bounds (ms) of functions/normalize.DURATION_BUCKETS: a
# duration's bucket index is bisect_right over them
_BUCKET_BOUNDS = [1.0, 5.0, 10.0, 100.0, 1000.0]
ERROR_LEVELS = ("ERROR", "FATAL", "PANIC", "WARNING")

_TABLES = [f"t{i}" for i in range(60)]
_COLUMNS = ["id", "grp", "owner_id", "status", "created_at", "amount"]
_USERS = ["app", "report", "etl", "admin"]
_DBS = ["proddb", "analytics"]
N_TEMPLATES = 240
ZIPF_S = 1.1
START = datetime(2019, 4, 1)

# entry kind -> weight (per 1000 entries); an entry writes 1 to 3 events
_KINDS = [
    ("statement", 560),
    ("multiline", 90),
    ("prepared", 80),
    ("connection", 80),
    ("error", 70),
    ("tempfile", 50),
    ("checkpoint", 20),
    ("autovacuum", 30),
    ("fatal", 10),
    ("warning", 10),
]


def hour_name(hour: int) -> str:
    """File name of hour ``hour`` counted from 2019-04-01 00:00 UTC."""
    return "postgresql.log." + (START + timedelta(hours=hour)).strftime(
        "%Y-%m-%d-%H"
    )


def normalize_error(message: str) -> str:
    """The ``error_report`` section's message key (plans/reports.py):
    digits to ``?``, whitespace runs to one space, trimmed."""
    return re.sub(r"\s+", " ", re.sub(r"\d+", "?", message)).strip()


def _templates(rng: random.Random) -> list[str]:
    """Statement templates; ``{a}`` and ``{b}`` take the literals."""
    out = []
    for i in range(N_TEMPLATES):
        t = _TABLES[i % len(_TABLES)]
        c = rng.choice(_COLUMNS)
        shape = i % 4
        if shape == 0:
            sql = f"SELECT {c}, id FROM {t} WHERE id = {{a}}"
        elif shape == 1:
            sql = f"SELECT count(*) FROM {t} WHERE {c} > {{a}} AND grp = {{b}}"
        elif shape == 2:
            sql = f"UPDATE {t} SET {c} = {{a}} WHERE id = {{b}}"
        else:
            sql = f"INSERT INTO {t} ({c}, grp) VALUES ({{a}}, 'g{{b}}')"
        out.append(sql)
    return out


class _Truth:
    def __init__(self) -> None:
        self.lines = 0
        self.events = 0
        self.levels: dict[str, int] = {}
        self.n_durations = 0
        self.total_ms = 0.0
        self.buckets: dict[int, list] = {}
        self.errors: dict[tuple[str, str], int] = {}

    def event(self, level: str, n_lines: int = 1) -> None:
        self.events += 1
        self.lines += n_lines
        self.levels[level] = self.levels.get(level, 0) + 1

    def duration(self, text: str) -> None:
        ms = float(text)
        self.n_durations += 1
        self.total_ms += ms
        b = self.buckets.setdefault(bisect_right(_BUCKET_BOUNDS, ms), [0, 0.0])
        b[0] += 1
        b[1] += ms

    def error(self, level: str, message: str) -> None:
        key = (level, normalize_error(message))
        self.errors[key] = self.errors.get(key, 0) + 1

    def as_dict(self) -> dict:
        return {
            "lines": self.lines,
            "events": self.events,
            "levels": dict(sorted(self.levels.items())),
            "n_durations": self.n_durations,
            "total_ms": self.total_ms,
            "buckets": {k: tuple(v) for k, v in sorted(self.buckets.items())},
            "errors": dict(sorted(self.errors.items())),
        }


def _duration(rng: random.Random, scale: float) -> str:
    """A lognormal duration rendered as ``<ms>.<3 digits>``."""
    us = int(rng.lognormvariate(0.0, 1.6) * scale * 1000)
    return f"{us // 1000}.{us % 1000:03d}"


def _entry_kinds(n_entries: int, rng: random.Random) -> list[str]:
    """``n_entries`` kinds in the ``_KINDS`` proportions (the rounding
    remainder goes to ``statement``), in a seeded order."""
    total = sum(w for _, w in _KINDS)
    kinds = [k for k, w in _KINDS[1:] for _ in range(n_entries * w // total)]
    kinds += [_KINDS[0][0]] * (n_entries - len(kinds))
    rng.shuffle(kinds)
    return kinds


def write_hour(path: str, hour: int, n_entries: int, seed: int) -> dict:
    """Write one hour file of ``n_entries`` log entries; return its truth."""
    rng = random.Random(f"{seed}:{hour}")
    templates = _templates(random.Random(seed))
    order = list(range(N_TEMPLATES))
    rng.shuffle(order)  # this hour's popularity order
    cum = list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(N_TEMPLATES)))
    n_multiline = 0
    base = START + timedelta(hours=hour)
    day = base.strftime("%Y-%m-%d")
    hh = base.hour
    truth = _Truth()
    out: list[str] = []
    for i, kind in enumerate(_entry_kinds(n_entries, rng)):
        sec = i * 3600 // n_entries
        ts = f"{day} {hh:02d}:{sec // 60:02d}:{sec % 60:02d}"
        user = _USERS[rng.randrange(len(_USERS))]
        db = _DBS[rng.randrange(len(_DBS))]
        pid = 1000 + rng.randrange(2000)
        host = f"10.0.{rng.randrange(4)}.{rng.randrange(1, 51)}"
        prefix = f"{ts} UTC:{host}({40000 + rng.randrange(20000)}):{user}@{db}:[{pid}]:"
        a, b = rng.randrange(100000), rng.randrange(100)
        if kind == "statement":
            sql = templates[order[bisect_left(cum, rng.random() * cum[-1])]]
            d = _duration(rng, 2.0)
            out.append(f"{prefix}LOG:  duration: {d} ms  statement: "
                       + sql.format(a=a, b=b))
            truth.event("LOG")
            truth.duration(d)
        elif kind == "multiline":
            d = _duration(rng, 40.0)
            tail = [
                f"\tFROM {rng.choice(_TABLES)} o JOIN lineitem l ON l.okey = o.id",
                f"\tWHERE o.owner_id = {a} AND o.status = 'S{b}'",
            ]
            n_multiline += 1
            if n_multiline % 2:
                tail.append(f"\tORDER BY o.created_at DESC LIMIT {b + 1}")
            out.append(f"{prefix}LOG:  duration: {d} ms  statement: "
                       "SELECT o.id, o.amount")
            out.extend(tail)
            truth.event("LOG", 1 + len(tail))
            truth.duration(d)
        elif kind == "prepared":
            sql = templates[order[bisect_left(cum, rng.random() * cum[-1])]]
            q = sql.format(a="$1", b="$2")
            name = f"p{rng.randrange(8)}"
            for phase, scale in (("parse", 0.05), ("bind", 0.02), ("execute", 1.5)):
                d = _duration(rng, scale)
                out.append(f"{prefix}LOG:  duration: {d} ms  {phase} {name}: {q}")
                truth.event("LOG")
                truth.duration(d)
        elif kind == "connection":
            out.append(f"{prefix}LOG:  connection received: host={host} port={a % 60000}")
            out.append(f"{prefix}LOG:  connection authorized: user={user} database={db}")
            out.append(
                f"{prefix}LOG:  disconnection: session time: 0:{b % 60:02d}:"
                f"{a % 60:02d}.{a % 1000:03d} user={user} database={db} host={host}"
            )
            for _ in range(3):
                truth.event("LOG")
        elif kind == "error":
            t = rng.choice(_TABLES)
            if rng.random() < 0.6:
                msg = f'duplicate key value violates unique constraint "{t}_pkey"'
                detail = f"Key (id)=({a}) already exists."
            else:
                msg = f'null value in column "{rng.choice(_COLUMNS)}" violates not-null constraint'
                detail = f"Failing row contains ({a}, null, {b})."
            out.append(f"{prefix}ERROR:  {msg}")
            out.append(f"{prefix}DETAIL:  {detail}")
            out.append(f"{prefix}STATEMENT:  INSERT INTO {t} VALUES ({a}, 'x{b}')")
            truth.event("ERROR")
            truth.error("ERROR", msg)
            truth.event("DETAIL")
            truth.event("STATEMENT")
        elif kind == "fatal":
            msg = f'password authentication failed for user "{user}"'
            out.append(f"{prefix}FATAL:  {msg}")
            truth.event("FATAL")
            truth.error("FATAL", msg)
        elif kind == "warning":
            msg = "there is already a transaction in progress"
            out.append(f"{prefix}WARNING:  {msg}")
            truth.event("WARNING")
            truth.error("WARNING", msg)
        elif kind == "tempfile":
            out.append(
                f'{prefix}LOG:  temporary file: path "base/pgsql_tmp/pgsql_tmp{pid}.{b}", '
                f"size {(a % 64 + 1) * 1048576}"
            )
            truth.event("LOG")
        elif kind == "checkpoint":
            out.append(f"{prefix}LOG:  checkpoint starting: time")
            out.append(
                f"{prefix}LOG:  checkpoint complete: wrote {a % 4000} buffers "
                f"({b / 10:.1f}%); write={a % 30}.{a % 1000:03d} s, "
                f"sync=0.{b:03d} s"
            )
            truth.event("LOG")
            truth.event("LOG")
        else:  # autovacuum
            out.append(
                f'{prefix}LOG:  automatic vacuum of table "{db}.public.{rng.choice(_TABLES)}": '
                f"index scans: 1 pages: 0 removed, {a % 5000} remain "
                f"tuples: {a % 9000} removed, {a} remain"
            )
            truth.event("LOG")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    return truth.as_dict()


def write_hours(log_dir: str, hours: range, n_entries: int, seed: int) -> dict[str, dict]:
    """Write one file per hour in ``hours``; return {file name: truth}."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        hour_name(h): write_hour(os.path.join(log_dir, hour_name(h)), h, n_entries, seed)
        for h in hours
    }


def combine(truths: list[dict]) -> dict:
    """Sum the truths of several files."""
    out = _Truth()
    for t in truths:
        out.lines += t["lines"]
        out.events += t["events"]
        out.n_durations += t["n_durations"]
        out.total_ms += t["total_ms"]
        for k, v in t["levels"].items():
            out.levels[k] = out.levels.get(k, 0) + v
        for k, (n, ms) in t["buckets"].items():
            b = out.buckets.setdefault(k, [0, 0.0])
            b[0] += n
            b[1] += ms
        for k, v in t["errors"].items():
            out.errors[k] = out.errors.get(k, 0) + v
    return out.as_dict()
