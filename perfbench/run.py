"""The repository benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload latency_chain --seed 1 --seconds 5 --trace 0

Workloads: latency_chain, volume_x10, reference_etl (see README.md).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes the spans to ``.perfbench/traces/``. The last line of
standard output is the result:

    {"correct": true, "attempted": 11, "failed": 0, "metrics": {...}}

Inputs are generated from the seed before the measured process starts
and cached under ``.perfbench/`` in the current directory; nothing is
read or written outside it. The measured run is a fresh Python process
driving Spark ``local[N]`` with N the usable cores, one closed-loop
client issuing one operation at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.import_s": "s",
    "setup.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.persist_left": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.single_task_stages": "count",
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.max_task_share": "ratio",
    "exec.failed_tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "io.scan_bytes": "bytes",
    "io.scan_rows": "count",
    "io.read_csv_s": "s",
    "io.write_csv_s": "s",
    "io.csv_scan_amplification": "ratio",
    "io.bytes_written_per_input_byte": "ratio",
    "operators.enrich_s": "s",
    "operators.validate_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# A run must end within 180 s; input generation comes first.
WORKER_TIMEOUT_S = 165


def _pgroup_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM
    included) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while _pgroup_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def run_worker(cfg: dict, state: str) -> dict | None:
    os.makedirs(cfg["out_dir"], exist_ok=True)
    cfg_path = os.path.join(state, "run", "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(state, "tmp")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([cfg["root"], HERE]),
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
        # keep every temporary file, the JVM's included, in the checkout
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    if os.path.exists(cfg["result_path"]):
        os.remove(cfg["result_path"])
    log_path = os.path.join(state, "run", "worker.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_LAUNCH"] = repr(time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=os.path.join(state, "run"), env=env, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(cfg["result_path"]):
        with open(log_path) as f:
            lines = f.readlines()
        why = "timed out" if code is None else f"exited with {code}"
        sys.stderr.write(f"worker {why}; log tail:\n{''.join(lines[-30:])}")
        return None
    with open(cfg["result_path"]) as f:
        return json.load(f)


def report(args, res: dict) -> dict:
    """Human-readable lines, then the result object."""
    n, failed = res["attempted"], res["failed"]
    passes = ", ".join(f"{w:.2f}s{' traced' if t else ''}" for t, w in res["passes"])
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}: passes [{passes}]")
    if args.trace:
        values, units = res["layers"], PER_LAYER
    else:
        values, units = res["e2e"], END_TO_END
    for name, unit in units.items():
        extra = f"  ({res['tail_label']})" if name == "op_tail_s" else ""
        print(f"  {name:<34} {values[name]:>14.4f} {unit}{extra}")
    print(f"  {'failed_frac':<34} {failed / n:>14.4f} ratio  ({failed} of {n})")
    for op, why in sorted(res["problems"].items()):
        print(f"  FAILED {op}: {why.strip().splitlines()[-1]}")
    return {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(workloads.SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker and JVM (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ucl_data_pipeline_spark", "session.py")):
        sys.stderr.write("run from the repository root: ucl_data_pipeline_spark/ not found\n")
        return 2
    state = os.path.join(root, ".perfbench")
    for d in ("run", "tmp", "spark-local"):  # scratch of the previous run
        shutil.rmtree(os.path.join(state, d), ignore_errors=True)
    for d in ("cache", "run", "tmp", "traces"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    inputs = workloads.prepare(args.workload, args.seed, args.size,
                               os.path.join(state, "cache"))
    cfg = {
        **inputs,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "root": root,
        "out_dir": os.path.join(state, "run", "out"),
        "result_path": os.path.join(state, "run", "result.json"),
        "trace_path": os.path.join(
            state, "traces", f"{args.workload}-seed{args.seed}.json"),
    }
    res = run_worker(cfg, state)
    if res is None:
        return 1
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
