"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload mixed_feed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # each workload in turn
    python3 perfbench/run.py --selftest 1      # the input generator's own test

Workloads: mixed_feed, ops_jobs (BENCHMARK.json says why each exists;
perfbench/METRICS.md maps every metric). The last
stdout line is the result JSON: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The line before it is a one-line summary naming the
full record file (per-op timings, per-layer metrics, spans) under the build
target directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mixed_feed", "ops_jobs")
TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def declared_metrics(trace):
    b = spec()
    return None if b is None else {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def run_all(a):
    """Each workload, one after another, each in its own process."""
    code = 0
    for w in WORKLOADS:
        p = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--workload", w,
                              "--seed", str(a.seed), "--seconds", str(a.seconds),
                              "--trace", str(a.trace)])

        def stop(signum, _frame):
            p.terminate()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        code = max(code, p.wait())
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, metavar="SEED")
    a = ap.parse_args()
    if a.selftest is None and a.workload is None:
        ap.error("--workload is required")
    if a.workload == "all":
        run_all(a)

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

    tgt = build.target_dir()
    tag = "selftest" if a.selftest is not None else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(tgt, f"run-{tag}-{os.getpid()}")
    logs = os.path.join(tgt, "logs")
    os.makedirs(logs, exist_ok=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    jvm = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    jvm += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jvm += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            f"-Dderby.system.home={work}/tmp", "-cp", cp, "perfbench.App"]
    if a.selftest is not None:
        args = ["--selftest", str(a.selftest)]
    else:
        record = os.path.join(tgt, "records", f"{tag}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--record", record]
    log_path = os.path.join(logs, f"{tag}.log")
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.Popen(jvm + args, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=work, env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"timed out after {TIMEOUT_S} s; log: {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        for l in lines:
            print(l)
        fail(f"exit code {p.returncode}; log: {log_path}")
    if a.selftest is not None:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want is not None and got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
