#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 graftbench/run.py --workload training_data --seed 1 --seconds 10 --trace 0

Builds the engine and the driver if the sources changed (build.py), runs one
JVM with Spark on local[nproc], and relays its output. The last stdout line
is one JSON object {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics, each with the unit BENCHMARK.json gives it. Everything the run writes stays under .bench_build/.
Exits non-zero, without a result line, when the build or any check fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("training_data", "fresh_tables")
# the whole run (build excluded) must end well inside the 180 s run limit
RUN_TIMEOUT_S = 170

def fail(msg: str) -> None:
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(1)


def metric_units(trace: int) -> dict:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    try:
        units = metric_units(args.trace)
        build.build()
        jars = build.spark_jars()
        java = build.java_bin()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        fail(f"cannot run: {e}")

    work = build.BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    records = build.BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = [java] + build.JVM_FLAGS
    if build.ARCHIVE.is_file():
        cmd.append(f"-XX:SharedArchiveFile={build.ARCHIVE}")
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(jars),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", cpus, "--work", str(work), "--records", str(records),
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"driver exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        fail("last output line is not JSON")
    values = result.get("metrics", {})
    if set(values) != set(units):
        sys.stderr.write(out)
        fail("metric names differ from BENCHMARK.json: "
             f"{sorted(set(values) ^ set(units))}")
    result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(3)


if __name__ == "__main__":
    main()
