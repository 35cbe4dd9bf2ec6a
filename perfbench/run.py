"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in its own process
(worker.py) and session on ``local[<cores>]``; this parent sets up its
environment, samples the memory of its whole process tree during the
timed window, makes sure no JVM of this checkout outlives the run, and
prints the metrics named in BENCHMARK.json: the end-to-end set with
``--trace 0``, the per-layer set with ``--trace 1``. Every file the run
writes lands under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "entity_resolution_pipeline_v1_spark"
RECORDS = {"er_batch": 300, "er_attach": 640, "corpus_dedup": 1500}
DEADLINE_S = 170  # the worker is killed after this; a run must end within 180 s
RSS_POLL_S = 0.25
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process table -------------------------------------------------------------
def _procs():
    """(pid, parent pid, session id, state, cmdline) of every process."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        yield int(name), int(fields[1]), int(fields[3]), fields[0], cmd


def _members(session: int) -> list[int]:
    return [pid for pid, _, sid, state, _ in _procs() if sid == session and state != "Z"]


def _rss_mb(session: int) -> dict[int, float]:
    """RSS per process of the session. A child whose memory counters
    equal its parent's has not exec'd or diverged yet (a JVM spawning a
    process, a freshly forked Python worker): it shares every page with
    the parent and is not counted twice."""
    parent, statm = {}, {}
    for pid, ppid, sid, state, _ in _procs():
        if sid != session or state == "Z":
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                statm[pid] = fh.read()
        except OSError:
            continue
        parent[pid] = ppid
    return {pid: int(m.split()[1]) * PAGE / (1 << 20)
            for pid, m in statm.items() if statm.get(parent[pid]) != m}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _kill_and_wait(pids: list[int], what: str, timeout: float = 20.0) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.time() + timeout
    live = set(pids)
    while live and time.time() < end:
        live = {pid for pid, _, _, state, _ in _procs() if pid in live and state != "Z"}
        time.sleep(0.1)
    if live:
        raise RuntimeError(f"{what}: processes {sorted(live)} did not exit")


def reap_stale_jvms(marker: str) -> None:
    """Kill every process tree of an earlier run of this checkout whose
    JVM is still alive (it would share the cores with this run)."""
    sessions = {sid for pid, _, sid, state, cmd in _procs()
                if marker in cmd and pid != os.getpid() and state != "Z"}
    for sid in sessions:
        pids = _members(sid)
        print(f"[perfbench] killing a surviving JVM tree of an earlier run: {pids}", file=sys.stderr)
        _kill_and_wait(pids, "stale run")


# -- one worker process --------------------------------------------------------
def driver_heap() -> str:
    """An explicit driver heap that fits the host: a quarter of memory,
    at most 2 GiB (the engine's own default is 16g)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def run_worker(args, root: str, work: str, log_path: str) -> tuple[dict | None, float, float]:
    """Returns (worker result or None, peak RSS MB over the timed window,
    the host's CPU steal share over it)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, HERE, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": driver_heap(),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PERFBENCH_ROOT": root,
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    out_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--records", str(args.records), "--work", work, "--out", out_path]
    peak = [0.0, {}]
    ticks = []
    sampling = threading.Event()
    done = threading.Event()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)

        def read_phases():
            for line in proc.stdout:
                if line.startswith("PERFBENCH timed-start"):
                    ticks.append(_cpu_ticks())
                    sampling.set()
                elif line.startswith("PERFBENCH timed-end"):
                    sampling.clear()
                    ticks.append(_cpu_ticks())

        def sample_rss():
            while not done.is_set():
                if sampling.is_set():
                    rss = _rss_mb(proc.pid)
                    if sum(rss.values()) > peak[0]:
                        peak[:] = [sum(rss.values()), rss]
                done.wait(RSS_POLL_S)

        threads = [threading.Thread(target=f, daemon=True) for f in (read_phases, sample_rss)]
        for t in threads:
            t.start()
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] worker exceeded {DEADLINE_S}s; killing it", file=sys.stderr)
            rc = None
        finally:
            done.set()
            # the worker leads its own session: this covers it, its JVM
            # and the Python workers, whether or not it has exited
            _kill_and_wait(_members(proc.pid), "worker tree")
            proc.wait()
            for t in threads:
                t.join(timeout=5)
    if peak[1]:
        print("[perfbench] peak RSS MB by process: "
              + ", ".join(f"{pid}:{mb:.0f}" for pid, mb in sorted(peak[1].items())), file=sys.stderr)
    steal = 0.0
    if len(ticks) == 2:
        (s0, t0), (s1, t1) = ticks
        steal = (s1 - s0) / max(t1 - t0, 1)
    if rc != 0 or not os.path.exists(out_path):
        return None, peak[0], steal
    with open(out_path) as fh:
        return json.load(fh), peak[0], steal


# -- metrics -------------------------------------------------------------------
def tail(walls: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or the maximum when there are fewer than 20."""
    n = len(walls)
    if n < 20:
        return 100.0, max(walls)
    p = int(100 * (1 - 10 / n))
    return float(p), statistics.quantiles(walls, n=100)[p - 1]


def end_to_end(res: dict, peak_rss: float) -> tuple[dict, str]:
    walls = res["walls"]
    wall = statistics.median(walls)
    pct, tail_v = tail(walls)
    q = res["quality"]
    vals = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "wall_s_tail": tail_v,
        "records_per_s": res["records"] / wall,
        "pairwise_f1": statistics.median(x["pairwise_f1"] for x in q) if q else 0.0,
        "dup_pairs": statistics.median(x["dup_pairs"] for x in q) if q else 0.0,
        "peak_rss_mb": peak_rss,
    }
    n, failed = len(walls), res["failed"]
    note = (f"wall_s_tail is p{pct:g} of {n} operations; error_rate {failed}/{n} = {failed / n:g}; "
            f"{res['records']} records per operation on local[{res['cpus']}]")
    return vals, note


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RECORDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", type=int, help="corpus size (default: the workload's)")
    args = ap.parse_args()
    args.records = args.records or RECORDS[args.workload]

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    bench = os.path.join(root, ".bench_work")
    os.makedirs(os.path.join(bench, "logs"), exist_ok=True)
    reap_stale_jvms(f"-Dperfbench.root={root}")
    work = os.path.join(bench, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    log_path = os.path.join(bench, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    try:
        res, peak, steal = run_worker(args, root, work, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"perfbench: {args.workload} worker failed; log in {log_path}", file=sys.stderr)
        return 1

    if args.trace:
        vals = res["layers"]
        note = "tracing overhead: trace.wall_s minus wall_s of the --trace 0 run on this seed"
    else:
        vals, note = end_to_end(res, peak)
        note += f"; host CPU steal {steal:.1%} over the timed window"
    if set(vals) != set(units):
        print(f"perfbench: metric names differ from BENCHMARK.json: {sorted(set(vals) ^ set(units))}",
              file=sys.stderr)
        return 1
    attempted = len(res["walls"])
    summary = " ".join(f"{k}={vals[k]:.6g}{units[k] if units[k] != 'count' else ''}" for k in units)
    print(f"{args.workload} seed={args.seed}: {summary}")
    print(f"({note})")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": attempted,
        "failed": res["failed"],
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
