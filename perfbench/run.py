#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

For each workload: write its seeded inputs and references (no Spark), then
run it in a fresh worker process on ``local[<cores>]`` and print, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` gives the end-to-end metrics,
``--trace 1`` the per-layer metrics. Everything it writes stays under
``perfbench/.work/`` in the checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import session_pids  # noqa: E402
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")
CHILD_TIMEOUT_S = 170
ACCUMULATOR_ERROR = "attempted to access non-existent accumulator"

#: per-layer metric → unit; every traced run reports all of them (0 where
#: the workload does not exercise the layer)
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.rows_read": "rows",
    "sources.bytes_read": "bytes",
    "operators.normalize.self_s": "s",
    "operators.padding.self_s": "s",
    "operators.windowing.self_s": "s",
    "operators.windowing.windows_out": "count",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "ml.tcn.self_s": "s",
    "ml.tcn.windows_scored": "count",
    "ml.tcn.python_bytes_in": "bytes",
    "operators.metrics.self_s": "s",
    "operators.text.self_s": "s",
    "operators.dedup.self_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.graph.self_s": "s",
    "operators.graph.cc_rounds": "count",
    "plans.self_s": "s",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "session.start_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.scheduler_wait_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes_written": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.accumulator_error_lines": "count",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def stop_session(sid: int) -> None:
    """Stop every process left in the worker's session (the Python workers
    included, which sit in a process group of their own) and wait for
    them to end."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not session_pids(sid):
            return


def child_env(work: str, trace: bool, extra: dict[str, str]) -> dict[str, str]:
    """Session settings for the worker: all scratch space in the work dir,
    no console progress bars, the repo on the Python workers' path, the
    workload's own confs, and the event log only when tracing."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        **extra,
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=shlex.join(args + ["pyspark-shell"]),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_GRAFT_DRIVER_MEM="2g",
        # one BLAS thread per Python worker: local[<cores>] already runs a
        # worker per core
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    return env


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name]()
    work = os.path.join(WORK_ROOT, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.perf_counter()
        refs = wl.generate(work, seed)
        print(f"perfbench: inputs and references in {time.perf_counter() - t_gen:.2f}s", file=sys.stderr)
        with open(os.path.join(work, "refs.pkl"), "wb") as fh:
            pickle.dump(refs, fh)
        log_path = os.path.join(work, "worker.log")
        cmd = [
            sys.executable, "-m", "perfbench.worker", "--workload", name, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(int(trace)), "--work", work,
        ]
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=ROOT, env=child_env(work, trace, wl.spark_conf),
                stdout=subprocess.PIPE, stderr=log, start_new_session=True,
            )
            try:
                stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop_session(proc.pid)
                proc.communicate()
                raise RuntimeError(f"{name}: worker exceeded {CHILD_TIMEOUT_S}s")
            finally:
                t_exit = time.time()
                stop_session(proc.pid)
        print(
            f"perfbench: worker ran {t_exit - t0:.2f}s, teardown {time.time() - t_exit:.2f}s",
            file=sys.stderr,
        )
        with open(log_path, errors="replace") as fh:
            log_text = fh.read()
        for line in log_text.splitlines():
            if line.startswith("perfbench:"):
                print(line, file=sys.stderr)
        if proc.returncode != 0:
            sys.stderr.write(log_text[-20000:])
            raise RuntimeError(f"{name}: worker exited with {proc.returncode}")
        res = json.loads(stdout.decode().strip().splitlines()[-1])
        acc_errors = log_text.count(ACCUMULATOR_ERROR)
        if trace:
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(WORK_ROOT, f"trace-{name}-{seed}.json"))
            raw = res["metrics"]
            raw["spark.accumulator_error_lines"] = acc_errors
            metrics = {k: {"value": float(raw.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = res["metrics"]
        print(
            f"perfbench: {name} seed {seed}: error_rate {res['failed'] / res['attempted']:.4f} fraction "
            f"({res['failed']}/{res['attempted']}), accumulator ERROR lines {acc_errors}",
            file=sys.stderr,
        )
        return {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for name in names:
        res = run_workload(name, args.seed, args.seconds, bool(args.trace))
        if args.workload == "all":
            print(json.dumps({"workload": name, **res}))
            for k, m in res["metrics"].items():
                print(f"  {name}  {k:34s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
        else:
            print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
