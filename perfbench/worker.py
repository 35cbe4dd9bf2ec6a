"""One workload in its own process: set-up, the timed closed loop (one
client, the next operation starts when the previous one is checked),
and, with ``--trace 1``, the same first operation traced: its spans and
the Spark event log give the per-layer metrics.

Started by run.py, which owns the environment (package path, heap,
scratch directories). Prints ``PERFBENCH timed-start`` / ``timed-end``
around the timed window (run.py samples memory between them) and writes
its result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

PREPARE_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def phase(name: str) -> None:
    print(f"PERFBENCH {name}", flush=True)


def start_session(app: str, cpus: int, work: str, events_dir: str | None):
    from entity_resolution_pipeline_v1_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Dperfbench.root={os.environ['PERFBENCH_ROOT']}"
        ),
    }
    if events_dir:
        os.makedirs(events_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events_dir,
        })
    spark = get_spark(app_name=app, cpus=cpus, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def timed_op(wl, tracer=None) -> tuple[float, dict | None]:
    """One operation: untimed per-op set-up, the timed call, the check.
    Returns (wall seconds, quality metrics or None when it failed)."""
    import checks

    wl.before_op()
    t0 = time.perf_counter()
    try:
        try:
            with tracer.op() if tracer else nullcontext():
                out = wl.run(tracer)
        except Exception:  # a failed operation is counted, not fatal
            log("operation raised:\n" + traceback.format_exc())
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        try:
            return wall, wl.check(out)
        except checks.CheckFailed as e:
            log(f"output check failed: {e}")
            return wall, None
    finally:
        wl.cleanup()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--records", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    events = os.path.join(args.work, "events") if args.trace else None
    t = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", cpus, args.work, events)
    start_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](spark, args.seed, args.work, args.records)

    prep = []
    for _ in range(PREPARE_REPEATS):
        t = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t
    setup_s = start_s + statistics.median(prep) + build_s
    log(f"setup: session {start_s:.2f}s, prepare {[round(p, 2) for p in prep]}, build {build_s:.2f}s")

    walls, quality, failed = [], [], 0
    result = {"setup_s": setup_s, "records": wl.records, "cpus": cpus}
    if not args.trace:
        phase("timed-start")
        t_end = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < t_end:
            wall, q = timed_op(wl)
            walls.append(wall)
            if q is None:
                failed += 1
            else:
                quality.append(q)
            log(f"op {len(walls)}: {wall:.3f}s {q}")
        phase("timed-end")
        spark.stop()
    else:
        from tracing import Tracer, layer_metrics, read_event_log

        tracer = Tracer(spark)
        tracer.install(type(spark.range(1)))
        try:
            wall, q = timed_op(wl, tracer)
        finally:
            tracer.uninstall()
        failed += q is None
        walls = [wall]
        spark.stop()
        layers = layer_metrics(tracer, read_event_log(events))
        layers["session.start_s"] = start_s
        layers["trace.overhead_s"] = tracer.overhead_s
        result["layers"] = layers
        log(f"traced {wall:.3f}s, tracer bookkeeping {tracer.overhead_s:.4f}s")

    result.update({"walls": walls, "failed": failed, "quality": quality})
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
