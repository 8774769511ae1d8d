"""Seeded PostgreSQL stderr-log hour generator with ground truth.

Writes one ``postgresql.log.YYYY-MM-DD-HH`` file in the pinned RDS
prefix format ``%t:%r:%u@%d:[%p]:`` with the payload mix every report
section consumes: plain and multi-line statements with durations,
prepared-statement phases, connection lifecycle, errors with
DETAIL/STATEMENT, temp files, checkpoints and autovacuum.

The file is sized to the byte: whole events are added while they fit,
then one padding statement fills the rest exactly. A known number of
malformed lines (no prefix, no leading whitespace) is injected between
events, each of which the parser must quarantine as one MALFORMED event.
The returned ground truth is computed from what was written, not from
the parser.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

PAD_MIN_BYTES = 160
MALFORMED_FMT = "### rotated-segment fragment {:06d} ###"
ERROR_LEVELS = ("ERROR", "FATAL", "PANIC", "WARNING")
MAINT_KINDS = ("temp_file", "lock", "checkpoint", "autovacuum")


def hour_file_name(hour: datetime) -> str:
    return f"postgresql.log.{hour:%Y-%m-%d-%H}"


def _empty_truth() -> dict:
    return {
        "bytes": 0,
        "lines": 0,
        "events": 0,
        "malformed": 0,
        "levels": {},
        "errors": 0,
        "connections": 0,
        "duration_events": 0,
        "duration_thousandths": 0,
        "phases": {"statement": 0, "parse": 0, "bind": 0, "execute": 0},
        "maintenance": {k: 0 for k in MAINT_KINDS},
        "temp_bytes": 0,
    }


class _Unit:
    """One generated group of events: its lines plus what they count."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.levels: list[str] = []
        self.connections = 0
        self.durations: list[tuple[str, int]] = []  # (phase, thousandths)
        self.maint: list[str] = []
        self.temp_bytes = 0

    def event(self, prefix: str, level: str, payload: str, *tail: str) -> None:
        self.lines.append(f"{prefix}{level}:  {payload}")
        self.lines.extend(tail)
        self.levels.append(level)

    def timed(self, prefix: str, phase: str, ms: int, rest: str, *tail: str) -> None:
        txt = f"duration: {ms // 1000}.{ms % 1000:03d} ms  {rest}"
        self.event(prefix, "LOG", txt, *tail)
        self.durations.append((phase, ms))

    def nbytes(self) -> int:
        return sum(len(x) + 1 for x in self.lines)


def _unit(rng: random.Random, prefix: str, i: int) -> _Unit:
    u = _Unit()
    t = rng.randrange(60)
    m = rng.randrange(40)
    if m < 24:  # plain statement with duration
        u.timed(
            prefix, "statement", rng.randrange(977_000),
            f"statement: SELECT c{rng.randrange(7)} FROM t{t} "
            f"WHERE id = {i} AND grp = {rng.randrange(13)}",
        )
    elif m < 28:  # multi-line statement: one event over four lines
        u.timed(
            prefix, "statement", rng.randrange(450_000),
            "statement: SELECT o_orderkey, o_totalprice",
            "\tFROM orders JOIN lineitem ON l_orderkey = o_orderkey",
            f"\tWHERE o_custkey = {i} AND o_comment LIKE '%x{rng.randrange(97)}%'",
            "\tORDER BY o_orderdate DESC LIMIT 50",
        )
    elif m < 31:  # extended-protocol phases
        p = rng.randrange(5)
        q = f"SELECT * FROM t{t} WHERE id = $1"
        u.timed(prefix, "parse", rng.randrange(10, 100), f"parse p{p}: {q}")
        u.timed(prefix, "bind", rng.randrange(5, 65), f"bind p{p}: {q}")
        u.timed(prefix, "execute", rng.randrange(70_000), f"execute p{p}: {q}")
    elif m < 33:  # connection lifecycle
        user = prefix.split("):", 1)[1].split("@", 1)[0]
        u.event(prefix, "LOG", f"connection authorized: user={user} database=proddb")
        u.connections += 1
        u.event(
            prefix, "LOG",
            f"disconnection: session time: 0:0{rng.randrange(6)}:"
            f"{rng.randrange(60):02d}.{rng.randrange(1000):03d} user={user} "
            f"database=proddb host=10.0.0.{rng.randrange(1, 51)}",
        )
    elif m < 36:  # error with DETAIL and STATEMENT
        u.event(
            prefix, "ERROR",
            f'duplicate key value violates unique constraint "t{t}_pkey"',
        )
        u.event(prefix, "DETAIL", f"Key (id)=({i}) already exists.")
        u.event(prefix, "STATEMENT", f"INSERT INTO t{t} VALUES ({i}, 'x')")
    elif m < 38:  # temp file
        size = rng.randrange(1, 65) * 1_048_576
        u.event(
            prefix, "LOG",
            f'temporary file: path "base/pgsql_tmp/pgsql_tmp{i}.0", size {size}',
        )
        u.maint.append("temp_file")
        u.temp_bytes += size
    elif m == 38:  # checkpoint: two classified events
        u.event(prefix, "LOG", "checkpoint starting: time")
        u.event(
            prefix, "LOG",
            f"checkpoint complete: wrote {rng.randrange(4000)} buffers (2.4%); "
            f"write={rng.randrange(30)}.{rng.randrange(1000):03d} s, "
            f"sync=0.{rng.randrange(100, 1000):03d} s",
        )
        u.maint += ["checkpoint", "checkpoint"]
    else:  # autovacuum
        u.event(
            prefix, "LOG",
            f'automatic vacuum of table "proddb.public.t{t}": index scans: 1 '
            f"pages: 0 removed, {rng.randrange(5000)} remain tuples: "
            f"{rng.randrange(9000)} removed, {rng.randrange(100_000)} remain",
        )
        u.maint.append("autovacuum")
    return u


def _prefix(rng: random.Random, ts: str) -> str:
    user = ("app", "report", "etl")[rng.randrange(3)]
    return (
        f"{ts} UTC:10.0.{rng.randrange(4)}.{rng.randrange(1, 51)}"
        f"({rng.randrange(10_000, 60_000)}):{user}@proddb:"
        f"[{rng.randrange(1000, 1800)}]:"
    )


def generate_hour(
    path: str, hour: datetime, target_bytes: int, seed: int, malformed: int = 0
) -> dict:
    """Write one log hour of exactly ``target_bytes`` bytes to ``path``
    with ``malformed`` quarantine-bound lines, and return its ground
    truth (event counts per level, errors, connections, duration sum in
    thousandths of a millisecond, phase and maintenance counts)."""
    rng = random.Random(seed)
    bad_line = MALFORMED_FMT.format(0)
    reserve = malformed * (len(bad_line) + 1)
    units: list[_Unit] = []
    used = 0
    while True:
        sec = min(3599, used * 3600 // max(target_bytes, 1))
        ts = (hour + timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")
        u = _unit(rng, _prefix(rng, ts), len(units))
        if used + u.nbytes() + reserve + PAD_MIN_BYTES > target_bytes:
            break
        units.append(u)
        used += u.nbytes()

    # one padding statement fills the file to the exact byte count
    pad = _Unit()
    ts = (hour + timedelta(seconds=3599)).strftime("%Y-%m-%d %H:%M:%S")
    pad.timed(_prefix(rng, ts), "statement", 1, "statement: SELECT 1 -- ")
    fill = target_bytes - used - reserve - pad.nbytes()
    if fill < 0:
        raise ValueError(f"target_bytes={target_bytes} too small for one event")
    pad.lines[0] += "x" * fill
    units.append(pad)

    if malformed > len(units) - 1:
        raise ValueError(f"{malformed} malformed lines need more than {len(units)} events")
    # a malformed line goes BEFORE a unit (whose first line is a header),
    # never before a continuation line and never next to another one
    before = set(rng.sample(range(1, len(units)), malformed))

    truth = _empty_truth()
    out: list[str] = []
    n_bad = 0
    for j, u in enumerate(units):
        if j in before:
            out.append(MALFORMED_FMT.format(n_bad))
            n_bad += 1
        out.extend(u.lines)
        for lvl in u.levels:
            truth["levels"][lvl] = truth["levels"].get(lvl, 0) + 1
        truth["connections"] += u.connections
        for phase, ms in u.durations:
            truth["phases"][phase] += 1
            truth["duration_thousandths"] += ms
        truth["duration_events"] += len(u.durations)
        for k in u.maint:
            truth["maintenance"][k] += 1
        truth["temp_bytes"] += u.temp_bytes
    data = ("\n".join(out) + "\n").encode("ascii")
    with open(path, "wb") as f:
        f.write(data)

    truth["levels"]["MALFORMED"] = n_bad
    truth["malformed"] = n_bad
    truth["bytes"] = len(data)
    truth["lines"] = len(out)
    truth["events"] = sum(truth["levels"].values())
    truth["errors"] = sum(truth["levels"].get(lv, 0) for lv in ERROR_LEVELS)
    return truth


def merge_truths(truths: list[dict]) -> dict:
    """Sum per-file ground truths into one corpus-level truth."""
    total = _empty_truth()
    for t in truths:
        for k, v in t.items():
            if isinstance(v, dict):
                for kk, vv in v.items():
                    total[k][kk] = total[k].get(kk, 0) + vv
            else:
                total[k] += v
    return total
