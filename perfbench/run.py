"""One command for the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It sizes the Spark env knobs to the machine,
runs one workload (see ``workloads.py`` and ``README.md``), checks the
outputs, and prints two JSON lines on stdout: a detail record (every
metric with its percentile and sample count, the checks, provenance), then
the result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from a run with spans recorded around the engine's calls.
Spans and the full record are written under ``.perfbench/results/``.

Exit status is 0 only when every output check passed and no operation
failed.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# The engine must be importable from the checkout; in a directory holding
# only the benchmark this fails here, before anything runs or prints.
import endor_blockchain_data_pipeline_spark  # noqa: E402,F401

import layers  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def box_fit(work: str) -> dict:
    """Size the engine's env knobs to this machine; return the box record."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    # A fifth of RAM, 1-4 GiB: the machine may be shared, and the engine's
    # default (16g) is all of a 16 GiB host.
    driver_mb = min(4096, max(1024, mem_kb // 1024 // 5))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's too: temp files inside the
        # checkout, no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "nproc": nproc,
        "mem_total_kb": mem_kb,
        "dev_shm_bytes": shm.f_blocks * shm.f_frsize if shm else None,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "tmp": tmp,
    }


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with ten samples
    beyond it, never below the median. Under 20 samples no percentile above
    the median has ten beyond it, and the maximum (p100) is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    k = n - 11
    return max(xs[k], statistics.median(xs)), round(100.0 * (k + 1) / n, 1), n


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM VmHWM, Python driver ru_maxrss) in MB, read from outside."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return hwm_kb / 1024, py_kb / 1024


def stop_jvm() -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    from endor_blockchain_data_pipeline_spark.session import stop_spark

    stop_spark()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def provenance(args, box: dict) -> dict:
    import pyarrow
    import pyspark

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "endor_blockchain_data_pipeline_spark")
    for f in sorted(glob.glob(f"{pkg}/**/*.py", recursive=True)) + [
        os.path.join(ROOT, "__spark_entry__.py")
    ]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "box": box,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "env": dict(os.environ),
    }


def untraced_wall(results_dir: str, args) -> float | None:
    """The timed wall time of the untraced run with the same workload,
    seed, seconds and scale, if one was recorded, to state the tracing
    overhead."""
    f = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        rec = json.load(fh)
    prov = rec["provenance"]
    if (prov["seconds"], prov["scale"]) != (args.seconds, args.scale):
        return None
    return rec["detail"]["timed_wall_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor (the smoke self-test uses a small one)",
    )
    ap.add_argument(
        "--corrupt-check", action="store_true",
        help="self-test only: corrupt one output check's input; the run must fail",
    )
    ap.add_argument(
        "--out", default=".perfbench",
        help="output directory, relative to the repository root",
    )
    args = ap.parse_args()

    out_root = os.path.join(ROOT, args.out)
    results_dir = os.path.join(out_root, "results")
    work = os.path.join(out_root, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    box = box_fit(work)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job/stage of the run for the per-span counts, and
        # never drop a listener event under bursts of small jobs
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.scheduler.listenerbus.eventqueue.capacity": "200000",
    }
    ctx = Ctx(
        ROOT, work, args.seed, args.seconds, box["nproc"], conf, args.scale,
        bool(args.trace), args.corrupt_check,
    )
    t_run = time.perf_counter()
    try:
        spark = WORKLOADS[args.workload](ctx)
        jvm_mb, py_mb = peak_rss_mb(spark)
    finally:
        stop_jvm()
    res = ctx.res
    e2e = {
        "setup_s": statistics.median(res["setup_rounds_s"]),
        "throughput_per_s": res["throughput"],
        "peak_rss_mb": jvm_mb + py_mb,
    }
    detail = {
        "setup_s": {"value": e2e["setup_s"], "stat": "median", "n": len(res["setup_rounds_s"]),
                    "rounds": res["setup_rounds_s"]},
        "throughput_per_s": {"value": e2e["throughput_per_s"]},
    }
    xs = res["steps_s"]
    # no step succeeded: the run is incorrect, and 0 keeps the line valid JSON
    p50 = statistics.median(xs) if xs else 0.0
    tail_v, tail_p, n = tail(xs) if xs else (0.0, 0.0, 0)
    e2e["step_p50_s"], e2e["step_tail_s"] = p50, tail_v
    detail["step_p50_s"] = {"value": p50, "stat": "p50", "n": n}
    detail["step_tail_s"] = {"value": tail_v, "stat": f"p{tail_p:g}", "n": n}
    detail.update({
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "jvm_vmhwm_mb": jvm_mb,
                        "python_maxrss_mb": py_mb},
        "failed_frac": res["failed"] / max(res["attempted"], 1),
        "warmup_s": res["warmup_s"],
        "timed_wall_s": res.get("timed_wall_s"),
        "run_wall_s": time.perf_counter() - t_run,
        **res["detail"],
    })
    if ctx.tracer is not None:
        # null when no matching untraced run was recorded
        base = untraced_wall(results_dir, args)
        detail["trace_overhead_frac"] = res["timed_wall_s"] / base - 1 if base else None
        per_layer = layers.compute(
            ctx.tracer, res.get("trace_wall_s", res["timed_wall_s"]), res["extra"]
        )
        metrics = {
            m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]}
            for m in BENCH["per_layer"]
        }
        spans_path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-spans.json")
        ctx.tracer.write(spans_path, t_run)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        detail["span_signature_sha256"] = hashlib.sha256(
            json.dumps(ctx.tracer.signature()).encode()
        ).hexdigest()
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
            for m in BENCH["end_to_end"]
        }
    correct = res["failed"] == 0 and all(c["ok"] for c in res["checks"].values())
    record = {
        "provenance": provenance(args, box),
        "detail": detail,
        "checks": res["checks"],
        "errors": res["errors"],
        "metrics": metrics,
    }
    rec_path = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail, "checks": res["checks"], "record": os.path.relpath(rec_path, ROOT)}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
