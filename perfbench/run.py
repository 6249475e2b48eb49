#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed``. After set-up and the warm-up ops, the
workload's ops run back to back until their summed wall time reaches
``--seconds``; each op's output is checked outside the timed interval.
With ``--trace 0`` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` untraced and traced ops alternate and it
carries the per-layer metrics, including the tracing overhead. The line
before it holds the run's details: environment, op counts and times,
``ops_failed_ratio`` and the first failures. Spans are written to
``.perfbench_out/`` when the run ends. Everything the run writes stays under
the current directory. A workload of ``perfbench/workloads.py`` that
BENCHMARK.json does not list runs too; its layer metrics then appear only in
the details line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
PACKAGE = "streamforge_data_pipeline_spark"


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def environment(seed: int, cores: int) -> dict:
    import pyspark

    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            commit = f.read().strip()
        if commit.startswith("ref: "):
            ref = os.path.join(ROOT, ".git", commit[5:])
            commit = open(ref).read().strip() if os.path.isfile(ref) else commit
    return {
        "nproc": os.cpu_count(),
        "cores": cores,
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "seed": seed,
    }


def isolate(work: str) -> None:
    """Keep every file Spark, its JVM and its Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Spark's Python workers import the package (mapInPandas datagen) from
    # wherever they start, so it must be on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # A fixed, pre-touched heap (initial = maximum, every page resident from
    # the start) keeps the JVM's resident memory from depending on when G1
    # happens to touch fresh heap pages, so peak_rss_mb moves with memory
    # outside the heap (Python driver, metaspace, code cache, direct
    # buffers). Without -XX:-UsePerfData each JVM would write a file under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch "
        "-XX:-UsePerfData' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def bench(args, work: str, spec: dict) -> tuple[dict, dict]:
    origin = time.perf_counter() - process_age()
    cores = os.cpu_count()
    from pyspark import SparkContext

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx
    from streamforge_data_pipeline_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench", cpus=cores)
    get_session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc
    try:
        wl = WORKLOADS[args.workload](Ctx(spark, work, args.seed, cores))
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = []
        for i in range(wl.WARMUP_OPS):
            prep = wl.prepare(i)
            warm.append(wl.check(prep, wl.run(prep)))
        warmup_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else None

        setup_s = time.perf_counter() - origin
        ops, layer_rows, failures = [], [], []
        timed, i = 0.0, wl.WARMUP_OPS
        # With tracing, untraced and traced ops alternate, so the store's
        # growth weighs on both kinds alike.
        while timed < args.seconds or (args.trace and len(ops) < 2):
            traced = bool(args.trace) and len(ops) % 2 == 1
            prep = wl.prepare(i)
            out, error = None, None
            op_id = tracer.new_op() if traced else None
            t = time.perf_counter()
            try:
                out = wl.traced(prep, tracer) if traced else wl.run(prep)
            except Exception:
                error = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t
            if error is None:
                if traced:
                    layer_rows.append(wl.layers(tracer, op_id, out))
                chk = wl.check(prep, out)
                ok, rows, error = chk.ok, chk.rows, chk.detail
            else:
                ok, rows = False, 0
            ops.append({"seconds": dt, "rows": rows, "ok": ok, "traced": traced})
            if not ok:
                failures.append(f"op {i}: {error}")
            timed += dt
            i += 1

        plain = [o for o in ops if not o["traced"]]
        detail = {
            "workload": args.workload,
            "env": environment(args.seed, cores),
            "ops": len(ops),
            "ops_failed": sum(not o["ok"] for o in ops),
            "ops_failed_ratio": sum(not o["ok"] for o in ops) / len(ops),
            "op_seconds": [round(o["seconds"], 4) for o in ops],
            "setup_phases_s": {
                "get_session": round(get_session_s, 3),
                "inputs": round(inputs_s, 3),
                "warmup_op": round(warmup_s, 3),
            },
            "warmup_ok": [w.ok for w in warm],
            "failures": [f"warm-up: {w.detail}" for w in warm if not w.ok] + failures[:3],
        }
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.close()
            traced_p50 = median([o["seconds"] for o in ops if o["traced"]])
            values = {
                "session.get_session_s": get_session_s,
                "session.warmup_s": warmup_s,
                "trace.op_p50_s": traced_p50,
                "trace.overhead_s": traced_p50 - median([o["seconds"] for o in plain]),
            }
            for name in {k for row in layer_rows for k in row}:
                values[name] = median([row[name] for row in layer_rows if name in row])
            metrics = {m["name"]: values.get(m["name"], 0.0) for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            detail["unlisted_layer_metrics"] = {k: values[k] for k in sorted(set(values) - set(metrics))}
        else:
            values = {
                "setup_s": setup_s,
                "rows_per_s": median([o["rows"] / o["seconds"] for o in ops]),
                "op_p50_s": median([o["seconds"] for o in ops]),
                "peak_rss_mb": peak_rss_mb([os.getpid(), jvm.pid]),
            }
            metrics = {m["name"]: values[m["name"]] for m in spec["end_to_end"]}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        result = {
            "correct": all(w.ok for w in warm) and all(o["ok"] for o in ops),
            "attempted": len(ops),
            "failed": detail["ops_failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return detail, result
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: run from the repository root; {PACKAGE}/ or BENCHMARK.json is missing",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        detail, result = bench(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
