"""Per-layer metrics of the traced run.

:func:`install` wraps the public functions of the engine's layers in
spans (child process, before the op); :func:`after_op` runs the traced
run's extra measurements outside the op's root span; and
:func:`layer_metrics` turns spans, counters and the Spark event log
into the flat metric dict ``LAYER_METRICS`` names. Layers a workload
does not run report 0.
"""

from __future__ import annotations

import os

from spans import Tracer, attribute, count_scans, descendants, job_gap_s, read_event_log, self_times
from workloads import QUERIES, SECTIONS, output_sizes

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
MB = 1024.0 * 1024.0

LAYER_METRICS: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("cli.self_s", "s"),
    ("cli.files_skipped_frac", "fraction"),
    ("logcatalog.select_s", "s"),
    ("logcatalog.files_selected", "count"),
    ("logparse.parse_s", "s"),
    ("logparse.lines_in", "count"),
    ("logparse.events_out", "count"),
    ("logparse.malformed", "count"),
    ("logparse.shuffle_write_mb", "MB"),
    ("logparse.spill_mb", "MB"),
    ("logparse.tasks", "count"),
    ("logparse.core_util", "fraction"),
    ("report_sink.write_events_s", "s"),
    ("report_sink.write_events_self_s", "s"),
    ("report_sink.events_bytes", "bytes"),
    ("report_sink.events_files", "count"),
    ("report_sink.write_report_s", "s"),
    ("report_sink.report_bytes", "bytes"),
    ("report_sink.report_files", "count"),
    ("report_sink.render_html_s", "s"),
    ("report_sink.html_jobs", "count"),
    ("report_sink.write_amp", "bytes/byte"),
    ("reports.full_report_s", "s"),
    *[(f"reports.section.{s}_s", "s") for s in SECTIONS],
    ("reports.jobs", "count"),
    ("reports.scan_mb", "MB"),
    ("reports.events_scans", "count"),
    *[(f"query.{q}_s", "s") for q in QUERIES],
    ("dedup.candidate_pairs", "count"),
    ("dedup.pairs_out", "count"),
    ("dedup.verify_yield", "fraction"),
    ("dedup.shuffle_write_mb", "MB"),
    ("dedup.spill_mb", "MB"),
    ("shared.builds", "count"),
    ("shared.reuses", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.core_util", "fraction"),
    ("spark.job_gap_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]

ROOTS = ("cli.run_pipeline", "cli.run_incremental", "op.curation_mix")


def install(spark, spec) -> Tracer:
    """Wrap the layers the spec's workload runs."""
    tracer = Tracer(spark.sparkContext, op=spec["op"])
    if spec["workload"] == "curation_mix":
        from rds_pgbadger_etl_spark.operators import dedup
        from rds_pgbadger_etl_spark.plans import _shared

        def keep(fn, *a, **kw):
            df = fn(*a, **kw)
            if tracer.active:
                tracer.kept.append(df)
            return df

        def build_or_reuse(fn, *a, **kw):
            before = len(_shared._CACHE)
            df = fn(*a, **kw)
            if tracer.active:
                grew = len(_shared._CACHE) > before
                tracer.count("shared.builds" if grew else "shared.reuses")
            return df

        tracer.wrap(dedup, "candidate_pairs", "dedup.candidate_pairs", keep)
        tracer.wrap(_shared, "shared_df", "shared.shared_df", build_or_reuse)
        return tracer

    from rds_pgbadger_etl_spark.operators import logparse
    from rds_pgbadger_etl_spark.plans import reports
    from rds_pgbadger_etl_spark.sinks import report_sink
    from rds_pgbadger_etl_spark.sources import logcatalog

    def select(fn, *a, **kw):
        # the selection runs when cli collects the returned plan
        df = fn(*a, **kw)
        collect = df.collect

        def spanned_collect():
            with tracer.span("logcatalog.collect"):
                rows = collect()
            tracer.count("logcatalog.files_selected", len(rows))
            return rows

        df.collect = spanned_collect
        return df

    def per_section(fn, sections, out_dir):
        for name, df in sections.items():
            with tracer.span(f"reports.section.{name}"):
                fn({name: df}, out_dir)

    tracer.wrap(logcatalog, "select_log_files", "logcatalog.select_log_files", select)
    tracer.wrap(logparse, "parse_logs", "logparse.parse_logs")
    tracer.wrap(report_sink, "write_events_partitioned", "report_sink.write_events_partitioned")
    tracer.wrap(reports, "full_report", "reports.full_report")
    tracer.wrap(report_sink, "write_report", "report_sink.write_report", per_section)
    tracer.wrap(report_sink, "render_html", "report_sink.render_html")
    return tracer


def _parsed_paths(spec) -> list[str]:
    if spec["workload"] == "cron_tick":
        return [os.path.join(spec["log_dir"], spec["new_file"])]
    d = spec["log_dir"]
    return sorted(os.path.join(d, n) for n in os.listdir(d))


def after_op(spark, spec, tracer: Tracer) -> None:
    """Traced-run-only measurements, outside the op's root span: the
    parse alone (forced to the noop sink; the op fuses it into the
    events write) and the dedup candidate/pair counts."""
    if spec["workload"] == "curation_mix":
        from rds_pgbadger_etl_spark.plans import llm_ops

        tracer.counts["dedup.candidate_pairs"] = sum(df.count() for df in tracer.kept)
        tracer.counts["dedup.pairs_out"] = llm_ops.dedup_near_pairs(spark, spec["sf_dir"]).count()
        return
    from rds_pgbadger_etl_spark.operators import logparse

    with tracer.span("logparse.parse_noop"):
        logparse.parse_logs(spark, _parsed_paths(spec)).write.format("noop").mode(
            "overwrite"
        ).save()


def layer_metrics(spec, tracer: Tracer, res: dict) -> dict[str, float]:
    """Every ``LAYER_METRICS`` name, from spans, counters and the event
    log (read after ``spark.stop()`` so it is complete)."""
    log = read_event_log(spec["event_dir"])
    spans = tracer.spans
    selfs = self_times(spans)
    root = next(s for s in spans if s["name"] in ROOTS and s["parent"] is None)
    in_op = descendants(spans, root["id"])
    wall = root["end"] - root["start"]

    def ids(*names: str) -> set[int]:
        return {s["id"] for s in spans if s["name"] in names}

    def dur(*names: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["id"] in ids(*names))

    def under(*names: str) -> set[int]:
        out: set[int] = set()
        for i in ids(*names):
            out |= descendants(spans, i)
        return out

    m = {name: 0.0 for name, _unit in LAYER_METRICS}
    m["session.get_spark_s"] = res["get_spark_s"]
    m["session.warmup_s"] = res["warmup_s"]

    op = attribute(log, in_op)
    m.update({
        "spark.jobs": op["jobs"], "spark.stages": op["stages"], "spark.tasks": op["tasks"],
        "spark.executor_run_s": op["run_ms"] / 1000.0,
        "spark.executor_cpu_s": op["cpu_ns"] / 1e9,
        "spark.gc_s": op["gc_ms"] / 1000.0,
        "spark.core_util": op["run_ms"] / 1000.0 / (wall * CORES),
        "spark.job_gap_s": job_gap_s(log, in_op, root["start"], root["end"]),
        "spark.shuffle_write_mb": op["shuffle_write_bytes"] / MB,
        "spark.spill_mb": op["spill_bytes"] / MB,
        "spark.input_mb": op["input_bytes"] / MB,
        "spark.output_mb": op["output_bytes"] / MB,
        "trace.wall_s": wall,
    })

    if spec["workload"] == "curation_mix":
        for q in QUERIES:
            m[f"query.{q}_s"] = dur(f"query.{q}")
        dd = attribute(log, under("query.dedup_near_pairs", "query.dedup_clusters"))
        cand = tracer.counts.get("dedup.candidate_pairs", 0)
        pairs = tracer.counts.get("dedup.pairs_out", 0)
        m.update({
            "dedup.candidate_pairs": cand,
            "dedup.pairs_out": pairs,
            "dedup.verify_yield": pairs / cand if cand else 0.0,
            "dedup.shuffle_write_mb": dd["shuffle_write_bytes"] / MB,
            "dedup.spill_mb": dd["spill_bytes"] / MB,
            "shared.builds": tracer.counts.get("shared.builds", 0),
            "shared.reuses": tracer.counts.get("shared.reuses", 0),
        })
        return m

    result = res["result"]
    listed = len(os.listdir(spec["log_dir"]))
    skipped = result.get("skipped", listed - result["files"])
    parse_s = dur("logparse.parse_noop")
    parse = attribute(log, under("logparse.parse_noop"))
    sections = [f"reports.section.{s}" for s in SECTIONS]
    rep = attribute(log, under(*sections, "reports.full_report"))
    html = attribute(log, under("report_sink.render_html"))
    sizes = output_sizes(spec)
    written = sum(b for b, _f in sizes.values())
    plans = log["plans"]
    events_dir = os.path.join(spec["out_dir"], "events")
    m.update({
        "cli.self_s": selfs[root["id"]],
        "cli.files_skipped_frac": skipped / (skipped + result["files"]),
        "logcatalog.select_s": dur("logcatalog.select_log_files", "logcatalog.collect"),
        "logcatalog.files_selected": tracer.counts.get("logcatalog.files_selected", 0),
        "logparse.parse_s": parse_s,
        "logparse.lines_in": spec["rows"],
        "logparse.events_out": result["events"],
        "logparse.malformed": result["malformed"],
        "logparse.shuffle_write_mb": parse["shuffle_write_bytes"] / MB,
        "logparse.spill_mb": parse["spill_bytes"] / MB,
        "logparse.tasks": parse["tasks"],
        "logparse.core_util": parse["run_ms"] / 1000.0 / (parse_s * CORES),
        "report_sink.write_events_s": dur("report_sink.write_events_partitioned"),
        "report_sink.write_events_self_s": dur("report_sink.write_events_partitioned") - parse_s,
        "report_sink.events_bytes": sizes["events"][0],
        "report_sink.events_files": sizes["events"][1],
        "report_sink.write_report_s": dur("report_sink.write_report"),
        "report_sink.report_bytes": sizes["report"][0],
        "report_sink.report_files": sizes["report"][1],
        "report_sink.render_html_s": dur("report_sink.render_html"),
        "report_sink.html_jobs": html["jobs"],
        "report_sink.write_amp": written / spec["input_bytes"],
        "reports.full_report_s": dur("reports.full_report", *sections),
        "reports.jobs": rep["jobs"],
        "reports.scan_mb": rep["input_bytes"] / MB,
        "reports.events_scans": sum(
            count_scans(plans[e], events_dir) for e in op["sql_executions"] if e in plans
        ),
    })
    for s in SECTIONS:
        m[f"reports.section.{s}_s"] = dur(f"reports.section.{s}")
    return m
