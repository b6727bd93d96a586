#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine, driven from outside the
program through its public surface.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(pipebench/harness, which compiles the checkout's src/main/scala with
it); later runs reuse the build while no source is newer than it. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import plan as planlib  # noqa: E402
import stats  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "pipebench")
WORKLOADS = ("pipeline_service", "query_battery", "bulk_pipeline")
SF_ROOT = os.environ.get("PIPEBENCH_SF_ROOT", os.path.expanduser("~/testdata"))
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HARNESS, "src", "**", "*.scala"),
            os.path.join(HARNESS, "*.sbt"),
            os.path.join(HARNESS, "project", "*.properties")]
    return [f for p in pats for f in glob.glob(p, recursive=True)]


def build():
    """Compile the harness with the program unless the build is current."""
    srcs = sources()
    if (os.path.exists(CLASSPATH) and
            os.path.getmtime(CLASSPATH) >= max(os.path.getmtime(f) for f in srcs)):
        return
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=BUILD_DIR)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Djava.io.tmpdir={BUILD_DIR}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "writeClasspath"],
                            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness build failed (exit {rc}); log in {log}", 1)


def java_opts(work):
    return ([a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}"])


def run_harness(plan, work, trace, deadline):
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java"] + java_opts(work) +
           ["-cp", cp, "pipebench.Main", "--plan", plan_path, "--work", work,
            "--out", os.path.join(work, "report.json"), "--trace", str(trace),
            "--spans", os.path.join(work, "spans.jsonl")])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", 1)
    with open(os.path.join(work, "report.json")) as f:
        report = json.load(f)
    spans = []
    if trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
    return report, spans


def check(workload, plan, op):
    """Whether one measured op succeeded and produced the right output."""
    if not op["ok"]:
        return False
    if workload == "pipeline_service":
        want = next(p for c in plan["clients"] for p in c if p["id"] == op["id"])
        return (op["output"] == want["expect"] and op["images"] == want["expect_images"]
                and (want["kind"] != "resume" or op["ledger_first"] == want["from"]))
    if workload == "bulk_pipeline":
        want = next(p for p in plan["ops"] if p["id"] == op["id"])
        hydrated = [b["slug"] for b in plan["spec"]["blocks"]].index(plan["edited_block"])
        return (op["rows"] == 1 and op["sha256"] == want["expect"] and
                (op["kind"] != "resume" or op["stages_hydrated"] == hydrated))
    want = planlib.query_digests()[op["query"]]
    if want["oracle"]:
        return op["digest"] == want["digest"]
    return op["rows"] == want["rows"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    if args.workload == "query_battery" and not os.path.isdir(
            os.path.join(SF_ROOT, planlib.QUERY_SF)):
        fail(f"query corpus {SF_ROOT}/{planlib.QUERY_SF} not found (set PIPEBENCH_SF_ROOT)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    build()

    t_main = time.time()  # set-up starts here: the build tool is excluded
    deadline = max(deadline, t_main + RUN_TIMEOUT_S)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=BUILD_DIR)
    try:
        cores = len(os.sched_getaffinity(0))
        plan = planlib.make(args.workload, args.seed, args.seconds, cores, SF_ROOT)
        report, spans = run_harness(plan, work, args.trace, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = report["ops"]
    passed = {o["id"] for o in ops if check(args.workload, plan, o)}
    failed = len(ops) - len(passed)
    setup_s = report["warmup_end_wall_us"] / 1e6 - t_main
    e2e, t = stats.end_to_end(report, setup_s, passed, passes=plan.get("passes"))
    if args.trace:
        layer = stats.per_layer(args.workload, report, spans, passed)
        metrics = {n: {"value": layer[n], "unit": u} for n, u in stats.PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(f"host probe median: {stats.PROBE_REF_MS / stats.host_scale(report):.1f} ms over "
          f"{len(report['probes'])} probes; reference {stats.PROBE_REF_MS} ms")
    print(f"set-up: {report['session_wall_us'] / 1e6 - t_main:.2f} s to a running session, "
          f"{setup_s:.2f} s to the end of warm-up")
    unscaled, _ = stats.end_to_end(report, setup_s, passed, scaled=False,
                                   passes=plan.get("passes"))
    print("unscaled: " + json.dumps({k: v for k, (v, _) in unscaled.items()}))
    print(f"latency_tail_ms is p{t[0]:.1f} of {t[1]} ops, median of {t[2]} pass(es) "
          f"(at least {stats.TAIL_BEYOND} samples beyond it, or the maximum of a smaller pass)")
    print(json.dumps({"correct": failed == 0 and len(ops) > 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
