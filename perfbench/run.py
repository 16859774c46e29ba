"""graft benchmark: one command, two workloads, end-to-end or traced.

    python3 perfbench/run.py --workload plc_fleet --seed 1 --seconds 10 --trace 0

Builds the benchmark from source (see build.py), runs one workload in a
fresh JVM on local[min(4, nproc)], and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end set, with --trace 1
its per_layer set (the traced run also writes its spans under
.bench_build/traces/). A failed or mismatched operation makes the run
exit non-zero. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(res, trace):
    """Problems with a result line, as a list of strings."""
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return [f"result keys {sorted(res)}"]
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1 and isinstance(res["failed"], int)):
        problems.append("attempted/failed must be whole numbers, attempted >= 1")
    if res["correct"] and res["failed"] == 0:
        want = declared(trace)
        got = res["metrics"]
        if set(got) != set(want):
            problems.append(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                            f"extra {sorted(set(got) - set(want))}")
        for k, m in got.items():
            if k in want and (m.get("unit") != want[k] or not isinstance(m.get("value"), (int, float))):
                problems.append(f"metric {k}: {m}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["plc_fleet", "ingest_search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-fault", type=int, choices=[0, 1], default=0,
                    help="make one operation throw (proves failures are counted and fail the run)")
    a = ap.parse_args()

    try:
        classpath = build.ensure_built()
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(base, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = [java, "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--plant-fault", str(a.plant_fault),
            "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if a.trace and os.path.isfile(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        res = json.loads(lines[-1])
        problems = check_result(res, a.trace == 1)
    except (json.JSONDecodeError, AttributeError) as e:
        res, problems = None, [f"no result line: {e}"]
    print("\n".join(lines[:-1]))
    if problems:
        print("perfbench: " + "; ".join(problems), file=sys.stderr)
        print("perfbench: invalid result")
        return 4
    print(lines[-1])
    ok = proc.returncode == 0 and res["correct"] and res["failed"] == 0
    return 0 if ok else (proc.returncode or 1)


if __name__ == "__main__":
    sys.exit(main())
