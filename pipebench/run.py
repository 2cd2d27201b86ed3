"""Run one benchmark workload end to end and print its metrics.

    python3 pipebench/run.py --workload votes_pipeline --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Builds the program (see build.py), writes
the workload's inputs from the seed (gen.py), runs the harness in a fresh
JVM, checks every pass's outputs, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it carries harness fields: input digest,
generation time, set-up times, work tree size, pass times.

Everything a run writes lives under .bench_work/ in the repository root
and is removed when the run ends. The run fails when the tree it runs in
holds more bytes after that clean-up than before the run: a run must
leave nothing behind.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")

JVM_TIMEOUT = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def check_left(root, before):
    """Fail when the tree under `root` holds more than `before` bytes."""
    after = du(root)
    if after > before:
        raise SystemExit("run: %d bytes left behind in the tree" % (after - before))


def run_jvm(classes, workload, inputs, work, seconds, trace, out):
    cores = str(min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "pass", "indexes"))
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", build.classpath(classes), "graft.pipebench.Main",
            "--workload", workload, "--inputs", inputs, "--work", work,
            "--seconds", str(seconds), "--cores", cores, "--trace", str(trace),
            "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-3000:])
        raise SystemExit("run: harness JVM failed (%s)" % code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(WORK, ignore_errors=True)
    before = du(ROOT)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        _, digest = gen.generate(a.workload, inputs, a.seed)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        t0 = time.time()
        run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace, out)
        jvm_s = time.time() - t0
        with open(out) as fh:
            raw = json.load(fh)
        work_mb = du(WORK) / 1e6
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    check_left(ROOT, before)

    passes = raw["passes"]
    failed = sum(1 for p in passes if not p["ok"])
    if a.trace:
        values = metrics.per_layer(raw)
        names = [(n, u) for n, u, _ in metrics.per_layer_names()]
    else:
        values = metrics.end_to_end(raw)
        names = metrics.END_TO_END
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "input_digest": digest,
        "gen_s": round(gen_s, 3), "session_s": raw["session_s"],
        "setup_work_s": raw["setup_work_s"],
        "passes": [[p["phase"], p["traced"], p["wall_s"], p["jit_s"], p["check_s"]]
                   for p in passes],
        "jvm_s": round(jvm_s, 3), "work_mb": round(work_mb, 3),
        "errors": sorted({e for p in passes for e in p["errors"]})[:8],
    }))
    # a traced pass whose listener events did not all arrive is incomplete
    complete = (all(values.get(n) is not None for n, _ in names)
                and all(p["drained"] for p in passes))
    print(json.dumps({
        "correct": failed == 0 and complete,
        "attempted": len(passes), "failed": failed,
        "metrics": {n: {"value": values.get(n), "unit": u} for n, u in names},
    }))


if __name__ == "__main__":
    main()
