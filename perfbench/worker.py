"""One workload in one fresh process: set up, warm up, run the closed loop,
check every output, and print one JSON line of measurements on stdout.

Started by perfbench/run.py, which has already written the inputs and
references into the work directory. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import random
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

from perfbench.procs import cpu_line, session_cpu_s, steal_share
from perfbench.stats import median, p90
from perfbench.trace import SPARK_COUNTERS, Tracer, read_event_log, sum_counters
from perfbench.workloads import WORKLOADS, cores, timed

#: untimed passes after the warm-up pass that ``setup_s`` includes: request
#: times keep falling for several requests while the JIT compiles
SETTLE_PASSES = 2

#: the launcher starts the worker as the leader of a new session
SESSION = os.getsid(0)

#: per-layer self-time metric of each traced stage
LAYER_METRIC = {
    "sources": "sources.scan_s",
    "sources.sinks": "sources.sinks.write_s",
}


def layer_metric(layer: str) -> str:
    return LAYER_METRIC.get(layer, f"{layer}.self_s")


@dataclass(frozen=True)
class Sample:
    """One checked request: wall seconds, CPU seconds of the worker's
    session without JIT compilation, CPU seconds of JIT compilation, and
    the share of the host's CPU time stolen meanwhile."""

    wall_s: float
    cpu_s: float
    jit_s: float
    steal: float


class Loop:
    """Closed loop, one client: each request is sent when the previous one
    has completed and been checked. Checks run outside the timed region."""

    def __init__(self, wl, tracer: Tracer):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.check_s = 0.0

    def settle(self) -> None:
        """Collect garbage on both sides before a pass, outside the timed
        region, so that blocks a finished pass left behind (checkpoints,
        shuffle files) are released and no pass pays for another's GC."""
        gc.collect()
        self.wl.spark.sparkContext._jvm.System.gc()

    def request(self, key: str) -> Sample | None:
        """Run and check one request; None if it failed."""
        self.attempted += 1
        try:
            cpu0, host0 = session_cpu_s(SESSION), cpu_line()
            (out, _), dt = timed(lambda: self.wl.run(key))
            cpu1, host1 = session_cpu_s(SESSION), cpu_line()
            ok, check_s = timed(lambda: self.wl.check(key, out))
            self.check_s += check_s
        except Exception:  # a failed request is counted, the loop goes on
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: request {key} failed", file=sys.stderr)
            return None
        cpu, jit = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        return Sample(dt, cpu - jit, jit, steal_share(host0, host1))

    def closed_loop(
        self, rng: random.Random, seconds: float, min_requests: int
    ) -> dict[str, list[Sample]]:
        """Whole passes until ``seconds`` of request time and ``min_requests``
        successful requests are reached; the samples by request."""
        lat: dict[str, list[Sample]] = defaultdict(list)
        busy = 0.0
        while busy < seconds or sum(map(len, lat.values())) < min_requests:
            self.settle()
            for key in self.wl.passes(rng):
                t = self.request(key)
                if t is not None:
                    lat[key].append(t)
                    busy += t.wall_s
            if self.attempted > 10 * max(min_requests, 1) and not lat:
                break
        return lat

    def traced_pass(self, rng: random.Random) -> dict[str, float]:
        """One pass with every request run stage by stage; per-layer sums."""
        layers: dict[str, float] = defaultdict(float)
        for key in self.wl.passes(rng):
            self.attempted += 1
            walls, outputs = [], {}
            self.settle()
            try:
                for layer, fn in self.wl.stages(key):
                    with self.tracer.span(layer) as s:
                        outputs[layer] = fn()
                    walls.append((layer, s.seconds))
                out, build = outputs[walls[-1][0]]
                ok = self.wl.check(key, out)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.failed += 1
                continue
            for layer, dt in self.wl.self_times(walls).items():
                layers[layer_metric(layer)] += dt
            for name, v in self.wl.counters(key, outputs).items():
                layers[name] += v
            layers["sources.bytes_read"] += self.wl.input_bytes(key)
            layers["plans.build_s"] += build
            layers["plans.execute_s"] += walls[-1][1] - build
            # the last stage is the whole request, run under tracing
            layers["trace.traced_wall_s"] += walls[-1][1]
        return layers


def metrics_untraced(wl, lat: dict[str, list[Sample]], setup_s: float, loop: Loop) -> dict[str, dict]:
    """CPU seconds, not wall seconds, are the timed metrics: on a shared
    host a request's wall time swings with the CPU time the hypervisor
    steals (up to 2.5x at 17% steal), its CPU time by about a tenth."""
    samples = [x for xs in lat.values() for x in xs]
    rows = sum(wl.rows(k) for k in lat)
    cpu = sum(median([x.cpu_s for x in xs]) for xs in lat.values())
    tail = p90([x.cpu_s for x in samples])
    print(
        f"perfbench: {wl.name}: {len(samples)} samples, "
        + ("no p90 (it needs 100)" if tail is None else f"CPU p90 {tail:.4f} s"),
        file=sys.stderr,
    )
    for field in ("wall_s", "cpu_s", "jit_s", "steal"):
        print(f"perfbench: {field} {[round(getattr(x, field), 3) for x in samples]}", file=sys.stderr)
    print(
        f"perfbench: wall p50 {median([x.wall_s for x in samples]):.4f} s, "
        f"rows per wall second {rows / sum(median([x.wall_s for x in xs]) for xs in lat.values()):.4g}",
        file=sys.stderr,
    )
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_cpu_s": {"value": rows / cpu, "unit": "rows/s"},
        "query_cpu_s": {"value": median([x.cpu_s for x in samples]), "unit": "s"},
        "success_rate": {"value": 1.0 - loop.failed / loop.attempted, "unit": "fraction"},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="launcher time.time() at spawn")
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]()
    with open(os.path.join(args.work, "refs.pkl"), "rb") as fh:
        refs = pickle.load(fh)
    wl.instrument()

    from aidc_2018_timeseries_spark.plans.catalog import load_all
    from aidc_2018_timeseries_spark.session import get_spark

    spark, session_start = timed(
        lambda: get_spark(app_name=f"perfbench-{wl.name}", cpus=cores())
    )
    load_all()
    ready = time.time() - args.t0
    wl.bind(spark, args.work, refs)

    tracer = Tracer(spark.sparkContext)
    loop = Loop(wl, tracer)
    rng = random.Random(args.seed)
    with tracer.span("warmup"):
        loop.settle()
        warm = [loop.request(k) for k in wl.passes(rng)]
        setup_wall_s = ready + sum(x.wall_s for x in warm if x is not None)
        setup_s = session_cpu_s(SESSION)[0]
        for _ in range(SETTLE_PASSES):
            loop.settle()
            settle = [loop.request(k) for k in wl.passes(rng)]
    print(f"perfbench: last settling pass {[round(x.wall_s, 3) for x in settle if x is not None]}", file=sys.stderr)
    print(
        f"perfbench: session {session_start:.2f}s, ready {ready:.2f}s, "
        f"warm after {setup_wall_s:.2f}s wall, {setup_s:.2f}s CPU",
        file=sys.stderr,
    )

    seconds = args.seconds / 2 if args.trace else args.seconds
    with tracer.span("untraced"):
        lat = loop.closed_loop(rng, seconds, min_requests=3)
    if not lat:
        print("perfbench: no request succeeded", file=sys.stderr)
        return 1

    traced: list[dict[str, float]] = []
    if args.trace:
        busy = 0.0
        while busy < seconds or not traced:
            layers, dt = timed(lambda: loop.traced_pass(rng))
            traced.append(layers)
            busy += dt
    app_id = spark.sparkContext.applicationId
    _, stop_s = timed(spark.stop)
    print(f"perfbench: checks took {loop.check_s:.2f}s, session stop {stop_s:.2f}s", file=sys.stderr)

    if args.trace:
        n = len(traced)
        per_span = read_event_log(os.path.join(args.work, "events", app_id))
        spark_totals = sum_counters(per_span, {s.name for s in tracer.spans} - {"warmup", "untraced"})
        names = sorted({k for p in traced for k in p})
        metrics = {k: median([p.get(k, 0.0) for p in traced]) for k in names}
        untraced_wall = sum(median([x.wall_s for x in xs]) for xs in lat.values())
        metrics["trace.untraced_wall_s"] = untraced_wall
        metrics["trace.overhead_s"] = metrics.get("trace.traced_wall_s", 0.0) - untraced_wall
        metrics["session.start_s"] = session_start
        scan = per_span.get("sources", {})
        metrics["sources.rows_read"] = scan.get("spark.input_rows", 0.0) / n
        for k in SPARK_COUNTERS:
            metrics[k] = spark_totals[k] / n
        with open(os.path.join(args.work, "trace.json"), "w") as fh:
            json.dump(
                {
                    "spans": [[s.name, s.start, s.end, s.parent] for s in tracer.spans],
                    "spark_by_span": per_span,
                    "traced_passes": traced,
                },
                fh,
            )
        out = {"metrics": metrics}
    else:
        out = {"metrics": metrics_untraced(wl, lat, setup_s, loop)}
    out.update(attempted=loop.attempted, failed=loop.failed)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
