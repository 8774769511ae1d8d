"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload log_backfill --seed 1 --seconds 1 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, then runs a closed loop with one client for ``--seconds``
seconds: each op is one fresh child process (session set-up plus one
operation, as each CLI invocation and each hourly cron tick is), and the
next op starts only after the previous one has been checked. The loop
always runs at least one op. Outputs are checked against the
generators' ground truth or the registry's DuckDB oracles outside every
timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
untraced op(s), then one traced op, and prints the per-layer metrics
(plus ``trace.overhead_s``, traced minus untraced op time). The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from steal import cpu_ticks, net_of_steal  # noqa: E402

CHILD_TIMEOUT_S = 150
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
)


def _child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # keep the JVMs' scratch files inside the checkout too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``: the child, its JVM, and the PySpark
    worker daemon, which moves to its own process group but keeps the
    session."""
    pids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed it
            continue
        if int(fields[3]) == sid and fields[0] not in "ZX":  # zombies hold nothing
            pids.append(int(stat.split("/")[2]))
    return pids


def _kill_session(sid: int) -> None:
    for pid in _session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _wait_session_gone(sid: int, grace_s: float) -> None:
    """Wait until every process of the child's session has ended; kill
    what outlives the grace."""
    deadline = time.monotonic() + grace_s
    while _session_pids(sid):
        if time.monotonic() > deadline:
            _kill_session(sid)
        time.sleep(0.05)


def spawn(work: str, op_dir: str, spec: dict) -> dict:
    """Run child.py on ``spec`` in its own process group; return its
    result with ``setup_s`` (spawn to warm session) filled in. Raises
    RuntimeError when the child fails."""
    os.makedirs(op_dir, exist_ok=True)
    spec = {**spec, "repo": REPO}
    spec_path = os.path.join(op_dir, "spec.json")
    res_path = os.path.join(op_dir, "result.json")
    log_path = os.path.join(op_dir, "child.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        ticks = cpu_ticks()
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path, res_path],
            cwd=op_dir, env=_child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
            _kill_session(proc.pid)
        except BaseException:  # interrupted: take the child's processes down too
            _kill_session(proc.pid)
            raise
        finally:
            proc.wait()
            _wait_session_gone(proc.pid, grace_s=10)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"child exited {code}:\n{tail}")
    with open(res_path) as f:
        res = json.load(f)
    res["raw_setup_s"] = res["warm_epoch"] - t0
    res["setup_s"] = net_of_steal(res["raw_setup_s"], ticks, tuple(res["warm_ticks"]))
    return res


def run_op(ctx: dict, work: str, i: int, trace: bool) -> tuple[dict | None, list[str]]:
    """One op: untimed reset, the child, untimed checks."""
    op_dir = os.path.join(work, f"op{i}")
    spec = workloads.reset_op(ctx, op_dir)
    spec.update(mode="op", op=i, trace=trace, event_dir=os.path.join(op_dir, "eventlog"))
    try:
        res = spawn(work, op_dir, spec)
    except RuntimeError as e:
        return None, [str(e)]
    res["spec"] = spec
    try:
        bad = workloads.check(ctx, spec, res)
    except Exception as e:  # a missing or unreadable output is a failed check
        bad = [f"check raised {type(e).__name__}: {e}"]
    return res, bad


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(REPO, "rds_pgbadger_etl_spark", "cli.py")):
        print(f"no rds_pgbadger_etl_spark package under {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".perfbench", args.workload)
    os.makedirs(work, exist_ok=True)

    def populate(spec: dict) -> dict:
        return spawn(work, os.path.join(work, "populate"),
                     {**spec, "mode": "populate", "workload": args.workload})

    ctx = workloads.prepare(args.workload, args.seed, work, REPO, populate)

    done: list[dict] = []
    errors: list[str] = []
    attempted = 0
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < args.seconds:
        res, bad = run_op(ctx, work, attempted, trace=False)
        attempted += 1
        if bad:
            errors += bad
        else:
            done.append(res)
    traced = None
    if args.trace:
        traced, bad = run_op(ctx, work, attempted, trace=True)
        attempted += 1
        if bad:
            errors += bad
            traced = None
    failed = attempted - len(done) - (traced is not None)
    for e in errors:
        print(f"FAILED: {e}", file=sys.stderr)
    if not done or (args.trace and traced is None):
        print("no successful op; no result", file=sys.stderr)
        return 1

    wall = [r["wall_s"] for r in done]
    e2e = {
        "setup_s": statistics.median(r["setup_s"] for r in done),
        "wall_s": statistics.median(wall),
        "rows_per_s": statistics.median(ctx["rows"] / w for w in wall),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in done),
    }
    units = dict(END_TO_END)
    out_bytes = sum(b for b, _f in workloads.output_sizes(done[0]["spec"]).values())
    extra = {
        "write_amp": (out_bytes / ctx["input_bytes"] if ctx["input_bytes"] else 0.0,
                      "bytes/byte"),
        "error_rate": (failed / attempted, "fraction"),
        "raw_setup_s": (statistics.median(r["raw_setup_s"] for r in done), "s"),
        "raw_wall_s": (statistics.median(r["raw_wall_s"] for r in done), "s"),
    }
    print(f"{args.workload} seed={args.seed} ops={len(done)} " + " ".join(
        [f"{k}={v:.6g} {units[k]}" for k, v in e2e.items()]
        + [f"{k}={v:.6g} {u}" for k, (v, u) in extra.items()]
    ))

    if args.trace:
        import layers

        lm = dict(traced["layers"])
        lm["trace.overhead_s"] = traced["wall_s"] - e2e["wall_s"]
        metrics = {n: {"value": lm[n], "unit": u} for n, u in layers.LAYER_METRICS}
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(traced["spans"], f)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
