#!/usr/bin/env python3
"""Paper-path benchmark runner.

Usage (from the repository root):
  python3 paperbench/run.py --workload parse_bulk --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark driver from source (once per
source state, into .bench_build/), generates the workload's inputs from
the seed, runs the JVM driver on local[N] (N = cores), checks every
op's output and prints one JSON result object as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See paperbench/README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# workload -> its inputs' shape; see README.md for why each is shaped
# as it is. schema = (modules, topics per module) of the generated
# can_ids file: (8, 3) is a real season's width (164 signals), (2, 2)
# a narrow one (32 signals).
# warmup_ops: ops run (and checked) before timing starts. A parse op
# keeps getting faster over its first few runs in a JVM (JIT); two
# warm-ups are what a parse run can afford, one a season run.
WORKLOADS = {
    # four logs of 12k lines: the jump filter compares each row with the
    # one 10000 rows before it, so a log needs more than that for the
    # clock-jump rejects to show
    "parse_bulk": {"schema": (8, 3), "lines": 48_000, "warmup_ops": 2},
    # one race log (clock fix, mab20 traps) plus the reference-DB log,
    # a Solcast CSV and a GPX track; one resample period
    "season_e2e": {"schema": (2, 2), "lines": 15_000, "period": "100ms",
                   "warmup_ops": 1},
}
MIN_OPS = 1       # timed ops per run, at least
JVM_HEAP = "4g"
# a run must end within 180 s of its build
DEADLINE_S = 165


def fail(msg):
    print(f"paperbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, work):
    """Write the workload's inputs under work/in; return the manifest
    part describing them and the expectations the checks use."""
    inp = os.path.join(work, "in")
    os.makedirs(inp, exist_ok=True)
    w = WORKLOADS[workload]
    schema = gen.make_schema(seed, *w["schema"])
    schema_path = os.path.join(inp, "can_ids.json")
    gen.write_schema(schema_path, schema)
    m = {"parse": {"schema": schema_path}}
    if workload == "season_e2e":
        d = os.path.join(inp, "season")
        m["season"] = dict(gen.write_season(d, schema, seed, w["lines"],
                                            w["period"]), dir=d)
    else:
        d = os.path.join(inp, "candump")
        m["parse"]["files"] = gen.write_candump_corpus(d, schema, seed, w["lines"])
        m["parse"]["glob"] = os.path.join(d, "*.log")
    return m


def run_jvm(root, manifest_path, work, deadline):
    cp = build.classpath(root)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    jsa = build.class_archive(root)
    share = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
             else f"-XX:ArchiveClassesAtExit={jsa}.tmp")
    cmd = ["java", f"-Xmx{JVM_HEAP}", share, *opens,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-cp", cp, "paperbench.Driver",
           manifest_path]
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            with open(os.path.join(work, "jvm.err")) as fh:
                done = [ln for ln in fh if ln.startswith("paperbench:")]
            fail("the JVM driver overran the run deadline:\n" + "".join(done))
        finally:  # never leave the JVM behind, whatever ended the wait
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.err")) as fh:
            tail = fh.read()[-3000:]
        fail(f"the JVM driver exited {rc}:\n{tail}")
    if os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: no src/main/scala here")
    build.ensure(root)
    # set-up starts here: the build is not set-up
    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S
    work = os.path.join(root, ".bench_build", "runs",
                        f"{a.workload}-s{a.seed}-p{os.getpid()}")
    build.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        manifest = generate(a.workload, a.seed, work)
        gen_s = time.monotonic() - t0
        manifest.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=a.trace, cores=cores(), work=work,
                        min_ops=MIN_OPS,
                        warmup_ops=WORKLOADS[a.workload]["warmup_ops"])
        mpath = os.path.join(work, "manifest.json")
        with open(mpath, "w") as fh:
            json.dump(manifest, fh)
        res = run_jvm(root, mpath, work, deadline)
        result = layers.summarize(res, gen_s, a.trace == 1)
        print("paperbench: warm-up %s s, ops %s s, cpu steal %s" % (
            [round(o["op_s"], 2) for o in res["warmup"]],
            [round(o["op_s"], 2) for o in res["ops"]],
            [round(o["steal_share"], 3) for o in res["ops"]]), file=sys.stderr)
        for o, why in layers.failures(res).items():
            print(f"paperbench: op {o} failed: {why}", file=sys.stderr)
    finally:
        build.rmtree(work)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
