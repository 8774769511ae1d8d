"""One benchmark operation in a fresh process.

    python3 perfbench/child.py SPEC.json RESULT.json

Sets up the engine's session (``session.get_spark`` plus one trivial
action), runs one op of the spec's workload through the engine's public
entry points, and writes timings, the op's return value and, when the
spec asks for a trace, every per-layer metric to RESULT.json. A fresh
process per op is what each invocation of the CLI, and each tick of the
hourly cron job, pays.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _reset_peak_rss(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def release_session_state(spark) -> None:
    """Drop the staged tables a curation op leaves behind: the shared
    staging handles, the ranged-cumsum cache, and every persisted
    DataFrame (``near_dup_pairs`` never unpersists its signatures).
    Same steps as ``bench.py::_release_session_state``, kept here so the
    benchmark depends on the engine package only."""
    from rds_pgbadger_etl_spark.functions import agg
    from rds_pgbadger_etl_spark.plans import _shared

    for df in _shared._CACHE.values():
        df.unpersist()
    _shared._CACHE.clear()
    agg.clear_ranged_cache()
    spark.catalog.clearCache()


# -- ops ------------------------------------------------------------------


def _op_log_backfill(spark, spec, tracer):
    from datetime import datetime

    from rds_pgbadger_etl_spark import cli

    with tracer.span("cli.run_pipeline"):
        return cli.run_pipeline(
            spark, spec["log_dir"], spec["out_dir"],
            datetime.fromisoformat(spec["reference"]),
            max_records=spec["files"], html_path=spec["html"],
        )


def _op_cron_tick(spark, spec, tracer):
    from datetime import datetime

    from rds_pgbadger_etl_spark import cli

    with tracer.span("cli.run_incremental"):
        return cli.run_incremental(
            spark, spec["log_dir"], spec["out_dir"],
            datetime.fromisoformat(spec["reference"]),
        )


def _op_curation_mix(spark, spec, tracer):
    from rds_pgbadger_etl_spark.plans import llm_ops

    from workloads import QUERIES

    release_session_state(spark)
    with tracer.span("op.curation_mix"):
        for q in QUERIES:
            with tracer.span(f"query.{q}"):
                getattr(llm_ops, q)(spark, spec["sf_dir"]).write.format(
                    "noop"
                ).mode("overwrite").save()
    return {}


OPS = {
    "log_backfill": _op_log_backfill,
    "cron_tick": _op_cron_tick,
    "curation_mix": _op_curation_mix,
}


def _save_curation_results(spark, spec) -> dict:
    """Untimed: each query's rows to parquet for the parent's oracle
    check, and the oracle SQL twins from the registry."""
    import __spark_entry__ as entry
    from rds_pgbadger_etl_spark.plans import llm_ops

    from workloads import QUERIES

    os.makedirs(spec["results"], exist_ok=True)
    for q in QUERIES:
        pdf = getattr(llm_ops, q)(spark, spec["sf_dir"]).toPandas()
        pdf.to_parquet(os.path.join(spec["results"], f"{q}.parquet"), index=False)
    sqls = entry.oracle_sql()
    return {q: sqls[q] for q in QUERIES if q != "dedup_clusters"}


def _populate(spark, spec) -> dict:
    """Fill the cron store's earlier hours the way the pipeline writes
    them: ``parse_logs`` + ``write_events_partitioned``."""
    from rds_pgbadger_etl_spark.operators.logparse import parse_logs
    from rds_pgbadger_etl_spark.sinks.report_sink import write_events_partitioned

    logs = spec["log_dir"]
    paths = sorted(os.path.join(logs, n) for n in os.listdir(logs))
    return write_events_partitioned(parse_logs(spark, paths), spec["events_dir"])


class _NoTrace:
    """The untraced run's stand-in: spans cost nothing and set no job group."""

    def span(self, name):
        return nullcontext()


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from rds_pgbadger_etl_spark.session import get_spark
    from steal import cpu_ticks, net_of_steal

    extra = {}
    if spec.get("trace"):
        os.makedirs(spec["event_dir"], exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(spec["event_dir"]),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    t1 = time.perf_counter()
    spark.range(1).count()
    res = {"warm_epoch": time.time(), "warm_ticks": cpu_ticks(),
           "get_spark_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    if spec["mode"] == "populate":
        res["result"] = _populate(spark, spec)
        spark.stop()
        _write(out_path, res)
        return

    tracer = _NoTrace()
    if spec.get("trace"):
        import layers

        tracer = layers.install(spark, spec)
    pid = _jvm_pid(spark)
    _reset_peak_rss(pid)
    ticks = cpu_ticks()
    t = time.perf_counter()
    result = OPS[spec["workload"]](spark, spec, tracer)
    res["raw_wall_s"] = time.perf_counter() - t
    res["wall_s"] = net_of_steal(res["raw_wall_s"], ticks, cpu_ticks())
    res["peak_rss_mb"] = _peak_rss_mb(pid)
    res["result"] = result
    if spec["workload"] == "curation_mix":
        res["oracle_sql"] = _save_curation_results(spark, spec)
    if spec.get("trace"):
        layers.after_op(spark, spec, tracer)
        spark.stop()
        res["layers"] = layers.layer_metrics(spec, tracer, res)
        res["spans"] = tracer.spans
    else:
        spark.stop()
    _write(out_path, res)


def _write(path: str, res: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
