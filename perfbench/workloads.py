"""Workload inputs and output checks (the benchmark's parent side).

Nothing here imports Spark: inputs are generated and outputs checked in
the parent process, outside every timed region. Each op runs in a fresh
child process (child.py).

- ``log_backfill``: ``cli.run_pipeline`` over four seeded hour files,
  with the HTML artifact.
- ``cron_tick``: ``cli.run_incremental`` processing one new closed hour
  into an events store that already holds 24 earlier hours.
- ``curation_mix``: five registry queries (near-dup pairs, clusters,
  embedding near-dups, cosine top-k, text stats) to the noop sink.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
from datetime import datetime, timedelta

import gen_logs

WORKLOADS = ("log_backfill", "cron_tick", "curation_mix")

SECTIONS = (
    "top_queries", "slowest_statements", "time_histogram", "error_report",
    "connection_breakdown", "session_stats", "maintenance_report",
    "table_workload", "phase_timing", "duration_ranges", "error_templates",
)
QUERIES = (
    "dedup_near_pairs", "dedup_clusters", "embedding_near_dups",
    "ann_cosine_topk", "text_stats",
)

BACKFILL_FILES = 4
BACKFILL_BYTES = 2_500_000
BACKFILL_MALFORMED = 5
BACKFILL_HOUR0 = datetime(2024, 1, 15, 0)

CRON_EARLIER_HOURS = 24
CRON_BYTES = 300_000
CRON_MALFORMED = 3
CRON_HOUR0 = datetime(2024, 1, 14, 0)
CRON_STORE_SEED = 20240114  # the 24 earlier hours are the same for every seed

CORPUS_DOCS = 2_500
CORPUS_VECS = 1_000


def _reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``: Spark's hidden
    checksum files and ``_SUCCESS`` markers are bookkeeping, not output."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    n = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += os.path.getsize(os.path.join(root, name))
            files += 1
    return n, files


# -- inputs ---------------------------------------------------------------


def prepare(workload: str, seed: int, work: str, repo: str, populate) -> dict:
    """Generate the run's inputs under ``work``; return the context
    every op and check of the run shares. ``populate(spec)`` runs the
    child process that fills the cron store, once per checkout."""
    inputs = _reset_dir(os.path.join(work, "inputs"))
    if workload == "log_backfill":
        truths = []
        for k in range(BACKFILL_FILES):
            hour = BACKFILL_HOUR0 + timedelta(hours=k)
            truths.append(gen_logs.generate_hour(
                os.path.join(inputs, gen_logs.hour_file_name(hour)), hour,
                BACKFILL_BYTES, seed=seed * 1000 + k, malformed=BACKFILL_MALFORMED,
            ))
        truth = gen_logs.merge_truths(truths)
        return {
            "workload": workload, "log_dir": inputs, "truth": truth,
            "rows": truth["lines"], "input_bytes": truth["bytes"],
            "reference": (BACKFILL_HOUR0 + timedelta(hours=BACKFILL_FILES)).isoformat(),
            "files": BACKFILL_FILES,
        }
    if workload == "cron_tick":
        store = _cron_store(work, repo, populate)
        hour = CRON_HOUR0 + timedelta(hours=CRON_EARLIER_HOURS)
        name = gen_logs.hour_file_name(hour)
        truth = gen_logs.generate_hour(
            os.path.join(inputs, name), hour, CRON_BYTES, seed=seed,
            malformed=CRON_MALFORMED,
        )
        return {
            "workload": workload, "inputs": inputs, "store": store,
            "new_file": name, "truth": truth, "rows": truth["lines"],
            "input_bytes": truth["bytes"], "hour": hour.isoformat(),
            "reference": (hour + timedelta(hours=1)).isoformat(),
        }
    if workload == "curation_mix":
        import gen_corpus

        n = gen_corpus.write_corpus(inputs, seed, CORPUS_DOCS, CORPUS_VECS)
        return {
            "workload": workload, "sf_dir": inputs,
            "rows": n["documents"] + n["embeddings"], "input_bytes": 0,
        }
    raise ValueError(f"unknown workload {workload!r}; know {WORKLOADS}")


def _source_key(repo: str) -> str:
    """Hash of the engine's sources and this generator: a cached store
    is reused only by the code that wrote it."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(repo, "rds_pgbadger_etl_spark", "**", "*.py"),
                             recursive=True))
    files.append(gen_logs.__file__)
    for p in files:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(f"{CRON_BYTES}:{CRON_MALFORMED}:{CRON_STORE_SEED}".encode())
    return h.hexdigest()[:16]


def _cron_store(work: str, repo: str, populate) -> str:
    """The 24 earlier hours: log files plus their events store and
    manifest, populated once per checkout with ``parse_logs`` +
    ``write_events_partitioned`` (a child process) and copied per op."""
    cache = os.path.join(work, "..", "cache", f"cron-store-{_source_key(repo)}")
    cache = os.path.normpath(cache)
    if os.path.exists(os.path.join(cache, "meta.json")):
        return cache
    tmp = _reset_dir(cache + ".tmp")
    logs = os.path.join(tmp, "logs")
    os.makedirs(logs)
    names, rows = [], {}
    for k in range(CRON_EARLIER_HOURS):
        hour = CRON_HOUR0 + timedelta(hours=k)
        name = gen_logs.hour_file_name(hour)
        t = gen_logs.generate_hour(os.path.join(logs, name), hour, CRON_BYTES,
                                   seed=CRON_STORE_SEED + k, malformed=CRON_MALFORMED)
        names.append(name)
        rows[name] = t["events"]
    populate({"log_dir": logs, "events_dir": os.path.join(tmp, "events")})
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"names": names, "events": rows}, f)
    shutil.rmtree(cache, ignore_errors=True)
    os.replace(tmp, cache)
    return cache


def reset_op(ctx: dict, op_dir: str) -> dict:
    """Untimed per-op reset so every op does equal work: a fresh output
    dir; for cron_tick the pristine 24-hour store, log dir and manifest."""
    _reset_dir(op_dir)
    out = os.path.join(op_dir, "out")
    spec = {"workload": ctx["workload"], "out_dir": out,
            "reference": ctx.get("reference"), "rows": ctx["rows"],
            "input_bytes": ctx["input_bytes"]}
    if ctx["workload"] == "log_backfill":
        os.makedirs(out)
        spec.update(log_dir=ctx["log_dir"], files=ctx["files"],
                    html=os.path.join(out, "report.html"))
    elif ctx["workload"] == "cron_tick":
        store = ctx["store"]
        logs = os.path.join(op_dir, "logs")
        shutil.copytree(os.path.join(store, "logs"), logs)
        shutil.copy(os.path.join(ctx["inputs"], ctx["new_file"]), logs)
        shutil.copytree(os.path.join(store, "events"), os.path.join(out, "events"))
        with open(os.path.join(store, "meta.json")) as f:
            names = json.load(f)["names"]
        with open(os.path.join(out, "_processed_files.txt"), "w") as f:
            f.write("\n".join(sorted(names)) + "\n")
        spec.update(log_dir=logs, new_file=ctx["new_file"], hour=ctx["hour"])
    else:
        spec.update(sf_dir=ctx["sf_dir"], results=os.path.join(op_dir, "results"))
    return spec


def output_sizes(spec) -> dict:
    """Bytes and files the op wrote: for cron_tick only the new hour's
    events partition and report (the store's 24 earlier hours are input)."""
    out = spec["out_dir"]
    if spec["workload"] == "log_backfill":
        ev, rep, html = (os.path.join(out, "events"), os.path.join(out, "report"), spec["html"])
    elif spec["workload"] == "cron_tick":
        h = datetime.fromisoformat(spec["hour"])
        ev = os.path.join(out, "events", f"log_date={h:%Y-%m-%d}", f"log_hour={h:%H}")
        rep = os.path.join(out, "report", f"log_date={h:%Y-%m-%d}", f"log_hour={h.hour}")
        html = None
    else:
        return {"events": (0, 0), "report": (0, 0), "html": (0, 0)}
    return {
        "events": tree_bytes(ev),
        "report": tree_bytes(rep),
        "html": tree_bytes(html) if html else (0, 0),
    }


# -- output checks ----------------------------------------------------------


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _table(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_report(report_dir: str, truth: dict) -> list[str]:
    """Report-section totals against the generator's ground truth."""
    bad = []
    missing = [s for s in SECTIONS if not os.path.isdir(os.path.join(report_dir, s))]
    if missing:
        return [f"report sections missing: {missing}"]
    dur_ms = truth["duration_thousandths"] / 1000.0

    th = _table(os.path.join(report_dir, "time_histogram"))
    got = (sum(r["n_events"] for r in th), sum(r["n_errors"] for r in th),
           sum(r["n_queries"] for r in th))
    want = (truth["events"] - truth["malformed"], truth["errors"], truth["duration_events"])
    if got != want:
        bad.append(f"time_histogram events/errors/queries {got} != {want}")
    if not _close(sum(r["total_ms"] or 0 for r in th), dur_ms):
        bad.append("time_histogram total_ms != generated duration sum")

    dr = _table(os.path.join(report_dir, "duration_ranges"))
    if sum(r["n_queries"] for r in dr) != truth["duration_events"] or not _close(
        sum(r["total_ms"] for r in dr), dur_ms
    ):
        bad.append("duration_ranges totals != ground truth")

    phases = {r["phase"]: r["n_calls"] for r in _table(os.path.join(report_dir, "phase_timing"))}
    if phases != {k: v for k, v in truth["phases"].items() if v}:
        bad.append(f"phase_timing {phases} != {truth['phases']}")

    maint = {r["kind"]: r for r in _table(os.path.join(report_dir, "maintenance_report"))}
    want_m = {k: v for k, v in truth["maintenance"].items() if v}
    if {k: r["n"] for k, r in maint.items()} != want_m:
        bad.append(f"maintenance_report counts != {want_m}")
    elif maint["temp_file"]["total_temp_bytes"] != truth["temp_bytes"]:
        bad.append("maintenance_report temp bytes != ground truth")

    errs = sum(r["n"] for r in _table(os.path.join(report_dir, "error_report")))
    if errs != truth["errors"]:
        bad.append(f"error_report total {errs} != {truth['errors']}")
    return bad


def _check_counters(res: dict, truth: dict, files: int) -> list[str]:
    got = {k: res.get(k) for k in ("files", "events", "malformed", "null_ts")}
    want = {"files": files, "events": truth["events"],
            "malformed": truth["malformed"], "null_ts": truth["malformed"]}
    return [] if got == want else [f"write counters {got} != {want}"]


def check(ctx: dict, spec: dict, res: dict) -> list[str]:
    """Every failed output check of one op (empty when correct)."""
    w = ctx["workload"]
    out = spec["out_dir"]
    if w == "log_backfill":
        truth = ctx["truth"]
        bad = _check_counters(res["result"], truth, ctx["files"])
        if _rows(os.path.join(out, "events")) != truth["events"]:
            bad.append("events store rows != generated events")
        bad += check_report(os.path.join(out, "report"), truth)
        with open(spec["html"]) as f:
            html = f.read()
        heads = [h.split("</h2>")[0] for h in html.split("<h2>")[1:]]
        if heads != list(SECTIONS):
            bad.append(f"html sections {heads} != the 11 report sections")
        return bad
    if w == "cron_tick":
        truth = ctx["truth"]
        res_c = res["result"]
        bad = _check_counters(res_c, truth, 1)
        if res_c.get("skipped") != CRON_EARLIER_HOURS:
            bad.append(f"skipped {res_c.get('skipped')} != {CRON_EARLIER_HOURS}")
        with open(os.path.join(ctx["store"], "meta.json")) as f:
            meta = json.load(f)
        with open(os.path.join(out, "_processed_files.txt")) as f:
            manifest = f.read().split()
        if manifest != sorted(meta["names"] + [spec["new_file"]]):
            bad.append("manifest does not list the 24 earlier hours plus the new one")
        hour = datetime.fromisoformat(ctx["hour"])
        parts = sorted(glob.glob(os.path.join(out, "events", "log_date=*", "log_hour=*")))
        new_part = os.path.join(out, "events", f"log_date={hour:%Y-%m-%d}",
                                f"log_hour={hour:%H}")
        if len(parts) != CRON_EARLIER_HOURS + 1 or _rows(new_part) != truth["events"]:
            bad.append("events store partitions/rows for the new hour are wrong")
        if _rows(os.path.join(out, "events")) != sum(meta["events"].values()) + truth["events"]:
            bad.append("earlier hours of the events store changed")
        reports = glob.glob(os.path.join(out, "report", "log_date=*", "log_hour=*"))
        want_dir = os.path.join(out, "report", f"log_date={hour:%Y-%m-%d}",
                                f"log_hour={hour.hour}")
        if reports != [want_dir]:
            bad.append(f"per-hour report dirs {reports} != [{want_dir}]")
        else:
            bad += check_report(want_dir, truth)
        return bad
    return check_curation(spec, res)


def _canon(rows: list[dict]) -> list[tuple]:
    cols = sorted(rows[0]) if rows else []
    out = [tuple(r[c] for c in cols) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def same_rows(got: list[dict], want: list[dict]) -> str | None:
    """Row count, column names and order-insensitive values, floats to a
    1e-9 relative tolerance: the rules of ``tests/oracle.py``'s
    comparator, restated so the benchmark depends on the engine only."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if got and sorted(got[0]) != sorted(want[0]):
        return f"columns {sorted(got[0])} != {sorted(want[0])}"
    for g, w in zip(_canon(got), _canon(want)):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not (math.isnan(a) and math.isnan(b)) and not math.isclose(
                    a, b, rel_tol=1e-9, abs_tol=1e-12
                ):
                    return f"value {a!r} != {b!r}"
            elif str(a) != str(b):
                return f"value {a!r} != {b!r}"
    return None


def cluster_oracle(doc_ids: list[int], pairs: list[tuple[int, int]]) -> list[dict]:
    """``dedup_clusters``' oracle semantics (component = smallest doc id
    reachable over near-dup pairs) by union-find over the oracle's pairs:
    the registry's recursive-CTE twin computes the same closure but takes
    tens of seconds in DuckDB."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [
        {"doc_id": d, "component": find(d), "is_canonical": int(find(d) == d)}
        for d in doc_ids
    ]


def check_curation(spec: dict, res: dict) -> list[str]:
    import duckdb
    import pyarrow.parquet as pq

    sf = spec["sf_dir"]
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB"})
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        bad = []
        want: dict[str, list[dict]] = {}
        for q in QUERIES:
            if q == "dedup_clusters":
                ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
                pairs = [(r["a"], r["b"]) for r in want["dedup_near_pairs"]]
                want[q] = cluster_oracle(ids, pairs)
            else:
                want[q] = con.sql(res["oracle_sql"][q]).to_arrow_table().to_pylist()
            got = pq.read_table(os.path.join(spec["results"], f"{q}.parquet")).to_pylist()
            err = same_rows(got, want[q])
            if err:
                bad.append(f"{q}: {err}")
        return bad
    finally:
        con.close()
