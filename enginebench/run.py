#!/usr/bin/env python3
"""Engine benchmark: one workload per process, closed loop, one client.

    python3 enginebench/run.py --workload archive_ingest --seed 1 --seconds 5 --trace 0
    python3 enginebench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. The inputs are generated from ``--seed``
inside a per-run directory under the root, which is removed at the end.
Every metric is printed as ``name value unit``; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). ``--workload all`` runs every workload untraced and traced,
each in its own process, and reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".enginebench-runs")

WORKLOADS = ("archive_ingest", "canary_sf0.001", "canary_sf0.1")

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
)

PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.driver_hwm_mb", "MiB"),
    ("session.jvm_hwm_mb", "MiB"),
    ("registry.load_all_s", "s"),
    ("catalog.table_cold_s", "s"),
    ("queries.build_s", "s"),
    ("exec.run_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_rows", "count"),
    ("sources.decode_ops_per_s", "1/s"),
    ("sources.read_archive_s", "s"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.addBatch_ms", "ms"),
    ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"),
    ("streaming.latestOffset_ms", "ms"),
    ("streaming.input_rows", "count"),
    ("sinks.write_batch_s", "s"),
    ("sinks.jobs_per_batch", "count"),
    ("sinks.rows_written", "count"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.replay_s", "s"),
    ("pinning.live_pins", "count"),
    ("hygiene.memory_tables_left", "count"),
    ("hygiene.active_streams_left", "count"),
    ("hygiene.tmp_entries_left", "count"),
    ("trace.op_p50_s", "s"),
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: str) -> int:
    """Point every scratch path into the run directory; size Spark to the
    cores this process may use."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
        }
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return cpus


def _report(name: str, value: float, unit: str) -> dict:
    print(f"{name} {value:.6g} {unit}")
    return {"value": value, "unit": unit}


def run_one(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads

    run_dir = os.path.join(RUNS_DIR, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(run_dir)
    cpus = _environment(run_dir)
    run = workloads.Run(run_dir, args.seed, args.seconds, bool(args.trace), cpus)

    res = None
    try:
        if args.workload == "archive_ingest":
            res = workloads.ingest(run)
        else:
            res = workloads.canary(run, float(args.workload.split("sf", 1)[1]))
        driver_mb = harness.hwm_mb(os.getpid())
        jvm_mb = harness.hwm_mb(harness.jvm_pid())
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        leftover_streams = harness.stop_session(spark) if spark is not None else 0
        killed = harness.reap_descendants()
        tmp_left = harness.count_entries(os.path.join(run_dir, "tmp"))
        tmp_left += harness.count_entries(os.path.join(run_dir, "spark-local"))
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS_DIR) and not os.listdir(RUNS_DIR):
            os.rmdir(RUNS_DIR)

    if leftover_streams:
        res.checks_ok = False
        res.notes.append(f"{leftover_streams} streams still active at teardown")
    if killed:
        res.checks_ok = False
        res.notes.append(f"killed {len(killed)} processes that outlived teardown")
    if os.path.exists(run_dir):
        res.checks_ok = False
        res.notes.append("per-run directory not removed")
    for note in res.notes:
        print(f"note: {note}")

    if not res.latencies:
        res.checks_ok = False
        res.latencies = [res.elapsed_s]
    tail_s, tail_label = harness.tail(res.latencies)
    done = res.attempted - res.failed
    print(
        f"workload {args.workload}: {res.attempted} ops, {res.failed} failed, "
        f"{res.elapsed_s:.2f} s timed, {cpus} cores; op_tail_s is the {tail_label}"
    )
    e2e = {
        "setup_s": res.setup_s,
        "ops_per_s": done / res.elapsed_s,
        "op_p50_s": harness.p50(res.latencies),
        "op_tail_s": tail_s,
    }
    # printed, not in the result: failed_frac is 0 on a healthy run, and
    # peak RSS varies by more than a tenth between runs (GC timing), so
    # traced runs report its parts as session.*_hwm_mb instead
    print(f"failed_frac {res.failed / max(1, res.attempted):.6g} ratio")
    print(f"peak_rss_mb {driver_mb + jvm_mb:.6g} MiB")
    if args.trace:
        layers = dict(res.layers)
        layers.update(
            {
                "session.driver_hwm_mb": driver_mb,
                "session.jvm_hwm_mb": jvm_mb,
                "hygiene.tmp_entries_left": float(tmp_left),
                "trace.op_p50_s": e2e["op_p50_s"],
            }
        )
        metrics = {n: _report(n, float(layers[n]), u) for n, u in PER_LAYER}
    else:
        metrics = {n: _report(n, float(e2e[n]), u) for n, u in END_TO_END}
    print(
        json.dumps(
            {
                "correct": res.checks_ok and res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    summary, ok = {}, True
    for workload in WORKLOADS:
        p50 = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--workload", workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(trace),
            ]  # fmt: skip
            print(f"== {workload} trace={trace}", flush=True)
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(out.stdout)
            if out.returncode != 0:
                print(f"{workload} trace={trace} exited {out.returncode}")
                return out.returncode
            result = json.loads(out.stdout.strip().splitlines()[-1])
            ok = ok and result["correct"]
            m = result["metrics"]
            p50[trace] = m["trace.op_p50_s" if trace else "op_p50_s"]["value"]
            summary[workload] = {**summary.get(workload, {}), **m}
        overhead = p50[1] - p50[0]
        print(f"{workload} tracing overhead on op_p50_s {overhead:+.4f} s")
        summary[workload]["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    print(json.dumps({"correct": ok, "workloads": summary}))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
