"""The repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload config_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner builds the seed's inputs and
reference answers (cached under ``.bench_cache/``), starts
``worker.py`` in a fresh process on ``local[nproc]``, samples the
resident memory of the worker's whole process tree from ``/proc``,
and prints the metrics. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones), each
metric a ``{"value", "unit"}`` pair. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import LAYERS, SPAN_METRICS  # noqa: E402

WORKER_TIMEOUT_S = 170
RSS_SAMPLE_S = 0.2
#: the local JVM's heap cap; tasks run inside it under local[N]
DRIVER_MEM = "1g"

END_TO_END = [
    ("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
    ("throughput_rows_s", "rows/s"), ("success_rate", "ratio"),
    ("peak_rss_mb", "MB"), ("dedup_recall", "ratio"), ("recall_at_10", "ratio"),
]
PER_LAYER = (
    [(m, "s") for m in SPAN_METRICS.values() if not m.startswith("streaming.")]
    + [(f"{layer}.self_s", "s") for layer in LAYERS if layer != "streaming"]
    + [("config.validate_calls", "count"), ("plans.optimized_nodes", "count"),
       ("sources.rows_in", "count"), ("engine.jobs", "count"),
       ("engine.stages", "count"), ("engine.tasks", "count"),
       ("functions.text.pass_frac", "ratio"),
       ("operators.dedup.candidate_pairs", "count"),
       ("operators.dedup.verified_pairs", "count"),
       ("operators.dedup.verify_yield", "ratio"),
       ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes"),
       ("sinks.bytes_per_row", "bytes/row"),
       ("trace.overhead_ratio", "ratio"), ("trace.spans", "count")]
)
#: printed by event_stream's traced run only: that workload is not in
#: BENCHMARK.json, so on the listed workloads these would always read 0
STREAM_LAYER = [("streaming.run_s", "s"), ("streaming.self_s", "s"),
                ("streaming.batches", "count"), ("streaming.batch_s", "s"),
                ("streaming.state_rows", "count"), ("streaming.rows_per_batch", "count")]

BUILD = {
    "config_jobs": (gen.build_config_jobs, oracle.config_jobs),
    "curation_batch": (gen.build_curation, oracle.curation),
    "search_batches": (gen.build_search, oracle.search),
    "event_stream": (gen.build_events, oracle.events),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _resident(pid: int) -> int:
    """Proportional resident bytes (Pss): pages shared by the forked
    Python workers are split between them, not counted once per
    process. Falls back to plain RSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


_LIBC = ctypes.CDLL(None, use_errno=True)
_LIBC.syscall.restype = ctypes.c_long
_LIBC.syscall.argtypes = [ctypes.c_long] * 6
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _shares_memory(a: int, b: int) -> bool:
    """True when processes ``a`` and ``b`` share one address space: the
    JVM spawning a helper (``vfork``) before the helper execs."""
    return _SYS_KCMP is not None and _LIBC.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def tree_resident_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, counting a
    shared address space once."""
    total, todo, seen = 0, [(root, None)], set()
    while todo:
        pid, parent = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            if parent is not None and _shares_memory(parent, pid):
                continue
            total += _resident(pid)
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [(int(c), pid) for c in f.read().split()]
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, i.e. the eleventh-largest sample. With ten or
    fewer samples no percentile qualifies and the maximum is reported
    (as p100)."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def run_worker(args, inputs: str, run_dir: str) -> tuple[dict, float]:
    n = str(nproc())
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    root = os.getcwd()
    env.update({
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join([root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": n,
        # the session factory leaves the shuffle width to the caller, to
        # be sized to the cluster; twice the cores, as the tests do
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "OMP_NUM_THREADS": n, "OPENBLAS_NUM_THREADS": n, "MKL_NUM_THREADS": n,
        "NUMEXPR_NUM_THREADS": n, "ARROW_NUM_THREADS": n,
    })
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--inputs", inputs, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--out", out]
    log_path = os.path.join(run_dir, "worker.log")
    peak = 0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=root, start_new_session=True)
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None:
                peak = max(peak, tree_resident_bytes(proc.pid))
                if time.monotonic() > deadline:
                    raise TimeoutError(f"worker exceeded {WORKER_TIMEOUT_S}s")
                time.sleep(RSS_SAMPLE_S)
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(out) as f:
        return json.load(f), peak / 2**20


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole session (JVM, Python workers) and wait
    until every process in it has exited. A worker that returned on its
    own gets a grace period to let the JVM finish its shutdown hooks."""
    steps = [(None, 15.0)] if proc.poll() is not None else []
    for sig, wait in steps + [(signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)]:
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end:
            proc.poll()
            if not _group_alive(proc.pid):
                return
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def metrics(workload: str, res: dict, peak_mb: float) -> dict[str, float]:
    lat = res["latencies"]
    value, pct = tail(lat)
    stats = res["stats"]
    attempted = len(lat) + res["traced_samples"]
    print(f"# {workload}: {res['ops']} operations, {len(lat)} latency samples; "
          f"latency_tail_s is p{pct:.1f} of {len(lat)} samples", flush=True)
    return {
        "setup_s": res["setup_s"],
        "latency_p50_s": median(lat),
        "latency_tail_s": value,
        "throughput_rows_s": res["rows"] / res["busy_s"],
        "success_rate": 1.0 - res["failed_samples"] / attempted,
        "peak_rss_mb": peak_mb,
        # recall over an empty set of injected duplicates / ANN queries
        # is vacuously 1: the workloads without them report 1
        "dedup_recall": (stats["near_removed"] / stats["near_injected"]
                         if stats.get("near_injected") else 1.0),
        "recall_at_10": (stats["ivf_hits"] / stats["ivf_slots"]
                         if stats.get("ivf_slots") else 1.0),
    }


def layer_metrics(res: dict) -> dict[str, float]:
    tr = res["trace"]
    out = dict(tr["summary"])
    c = tr["counters"]
    for k in ("config.validate_calls", "plans.optimized_nodes", "sources.rows_in",
              "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
              "sinks.files_written", "sinks.bytes_written", "streaming.batches",
              "streaming.batch_s", "streaming.state_rows", "streaming.rows_per_batch"):
        out[k] = c.get(k, 0.0)
    rows = c.get("functions.text.rows", 0.0)
    out["functions.text.pass_frac"] = c.get("functions.text.passed", 0.0) / rows if rows else 0.0
    cands = c.get("operators.dedup.candidate_pairs", 0.0)
    out["operators.dedup.verify_yield"] = (c.get("operators.dedup.verified_pairs", 0.0) / cands
                                           if cands else 0.0)
    written = c.get("sinks.rows_written", 0.0)
    out["sinks.bytes_per_row"] = c.get("sinks.bytes_written", 0.0) / written if written else 0.0
    out["trace.overhead_ratio"] = tr["overhead_ratio"]
    print(f"# traced {tr['traced_ops']} operations, {len(tr['spans'])} spans; "
          f"traced/untraced busy time {tr['overhead_ratio']:.3f}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(BUILD))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated runner still stops its worker (``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "meta_frame_spark", "__init__.py")):
        print("perfbench: run from the repository root (meta_frame_spark/ not found)",
              file=sys.stderr)
        return 2

    build, answer = BUILD[args.workload]
    inputs = gen.cached(os.path.join(root, ".bench_cache"), args.workload, args.seed, build)
    oracle.cached_answer(inputs, answer)

    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, peak_mb = run_worker(args, inputs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed_samples"]
    if args.trace:
        values, units = layer_metrics(res), dict(PER_LAYER)
        if args.workload == "event_stream":
            units.update(STREAM_LAYER)
    else:
        values, units = metrics(args.workload, res, peak_mb), dict(END_TO_END)
    print(json.dumps({
        "correct": failed == 0 and res["warmup_failed"] == 0,
        "attempted": len(res["latencies"]) + res["traced_samples"],
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
