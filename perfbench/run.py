#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the harness from source (sbt, offline) and generates the snapshot tables
into perfbench/target/; later runs reuse both while the sources are
unchanged. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Everything the run writes stays under perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

TARGET = os.path.join(HERE, "target")
WORKLOADS = ["snapshot-sf0.1", "geotag-stream"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources at %s" % ROOT)
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    log("building engine and harness")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=840, stdin=subprocess.DEVNULL)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in out.stdout.splitlines() if ln.endswith(".jar") and ":" in ln][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def java(cp, work, args, timeout):
    """Run the harness JVM with its output on stderr; kills it on timeout."""
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=timeout, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit("perfbench: harness exited with %d" % r.returncode)


def snapshot_data(cp):
    """The sf0.1 snapshot tables, generated once per checkout."""
    data = os.path.join(TARGET, "data", "sf0.1")
    with open(os.path.join(HERE, "src", "main", "scala", "graftbench", "Gen.scala"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()
    done = os.path.join(data, "_DONE")
    if os.path.exists(done) and open(done).read() == version:
        return data
    log("generating the sf0.1 snapshot tables")
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(TARGET, "gen-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        java(cp, work, ["graftbench.Main", "gen", data, work], 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(done, "w") as fh:
        fh.write(version)
    return data


def metric_specs():
    """(name, unit) of the per-layer and of the end-to-end metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]], \
        [(m["name"], m["unit"]) for m in spec["end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    layer_specs, e2e_specs = metric_specs()
    cp = build()
    data = snapshot_data(cp)
    work = os.path.join(TARGET, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        java(cp, work, ["graftbench.Main", "run", a.workload, str(a.seed), str(a.seconds),
                        str(a.trace), data, work, out], JVM_TIMEOUT_S)
        with open(out) as fh:
            raw = json.load(fh)
        # keep the raw record (spans, per-query and per-batch figures)
        kept = os.path.join(TARGET, "results", "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.copy(out, kept + ".json")
        entries = None if a.workload.startswith("snapshot") else benchlib.read_topic(raw["topic"])
        line = benchlib.metrics_line(a.workload, raw, a.trace == 1, entries,
                                     os.path.join(HERE, "expected.tsv"),
                                     e2e_specs, layer_specs)
        for p in line.pop("problems"):
            log("FAILED: " + p)
        with open(kept + ".line.json", "w") as fh:
            json.dump(line, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
