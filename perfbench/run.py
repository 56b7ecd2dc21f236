"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds on first use (perfbench/build.py), starts one JVM that sets up the
workload, runs its closed loop for --seconds and checks every output, then
prints a report block (lines starting with '#') and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics; with --trace 1 its
per_layer metrics (0 for the layers NOT_EXERCISED names), and the
spans are written to .perfbench/traces/. Exits non-zero when an output
check fails or the run breaks.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("translate_csv", "corpus_ingest")
# per-layer metrics (by name prefix) of the layers a workload does not
# exercise: reported as 0; any other metric it does not produce fails the run
NOT_EXERCISED = {
    "translate_csv": ("streaming.", "plans.", "file.", "module.", "exec_ms",
                      "ext.", "ingest.", "storage."),
    "corpus_ingest": ("sources.", "operators.", "translate."),
}
XMX = "2g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # on SIGTERM unwind normally: subprocess.run kills the JVM and the
    # finally block below removes the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds <= 0:
        fail("--seconds must be positive")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]

    build.build()
    with open(build.STAMP) as fh:
        source = fh.read().strip()

    work = os.path.join(ROOT, ".perfbench", "tmp", uuid.uuid4().hex)
    os.makedirs(os.path.join(work, "jtmp"))
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(ROOT, ".perfbench", "traces",
                             f"{a.workload}-seed{a.seed}.jsonl")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/jtmp", "-Dspark.callstack.depth=200",
           *[x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           "-cp", build.classpath(), "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--result", result, "--work", work, "--trace-out", trace_out,
           "--commit", git_commit(), "--source", source]
    try:
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=work, timeout=a.seconds + 150).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            with open(log, errors="replace") as lf:
                tail = lf.read()[-30000:]
            print(tail, file=sys.stderr)
            fail(f"benchmark JVM exited with {rc}")
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(got) - names)
    if unknown:
        fail("metrics not declared in BENCHMARK.json: " + ", ".join(unknown))
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]
        elif a.trace == "1" and m["name"].startswith(NOT_EXERCISED[a.workload]):
            v = 0.0
        else:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print("# perfbench " + json.dumps({
        "workload": res["workload"], "seed": res["seed"],
        "trace": res["trace"], "env": res["env"]}))
    for k, v in res["report"].items():
        print(f"# {k} = {json.dumps(v)}")
    for f in res["failures"]:
        print(f"# FAILED {f}")
    for k, v in metrics.items():
        print(f"# {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.stdout.flush()
    if res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
