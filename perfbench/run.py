#!/usr/bin/env python3
"""graft's benchmark: one workload as a closed loop, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness together
with graft's sources (sbt, offline) into .bench_build/; later runs start
the JVM directly. Workloads, their draws and the layer map live in
perfbench/workloads.json; expected query outputs in perfbench/expected.json.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
and the tracing overhead, and writes the run's spans to
.bench_build/traces/. The last stdout line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: graft's main sources and the harness."""
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def build():
    """Compile when a source changed; return the JVM classpath."""
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the harness with graft's sources (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, check=True).stdout
    cp = [l for l in out.splitlines() if "sbt-target" in l and ".jar" in l][-1].strip()
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def plan_lines(spec, expected, workload, seed, seconds, trace):
    """The run's seeded draws, in the harness's plan format: the query
    set with its expected outputs, and one fresh order per pass."""
    w = spec["workloads"][workload]
    lines = [f"workload {workload}", f"seed {seed}", f"seconds {seconds}",
             f"trace {trace}", f"min_passes {w['min_passes']}", f"cores {spec['cores']}",
             f"data {spec['data']}"]
    if w["kind"] == "eduflow":
        return lines
    rnd = random.Random(f"{workload}:{seed}")
    for q in w["queries"]:
        lines.append(f"query {q} {expected[q]['rows']} {expected[q]['digest']}")
    for _ in range(64):
        order = list(w["queries"])
        rnd.shuffle(order)
        lines.append("pass " + " ".join(order))
    return lines


def run_jvm(cp, plan_file, result_file, spans_file):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp / 'hadoop'}",
        "-cp", cp, "graftbench.Harness", "run", str(plan_file), str(result_file), str(spans_file)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    # the JVM's stdout goes to our stderr: our last stdout line is the result
    subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=JVM_TIMEOUT_S, check=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"graft's sources are not in {ROOT}: run from the root of a graft checkout")
        return 2
    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        log(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
        return 2
    expected = json.loads((HERE / "expected.json").read_text())
    try:
        cp = build()
    except (subprocess.SubprocessError, IndexError, OSError) as e:
        log(f"build failed: {e}")
        return 3

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "work").mkdir(parents=True)
    plan = plan_lines(spec, expected, a.workload, a.seed, a.seconds, a.trace)
    plan.append(f"work {run_dir / 'work'}")
    (run_dir / "plan.txt").write_text("\n".join(plan) + "\n")
    traces = BUILD / "traces"
    traces.mkdir(exist_ok=True)
    spans = traces / f"{a.workload}-seed{a.seed}.jsonl"
    t0 = time.time()
    try:
        run_jvm(cp, run_dir / "plan.txt", run_dir / "result.json", spans)
        result = json.loads((run_dir / "result.json").read_text())
    except (subprocess.SubprocessError, OSError, ValueError) as e:
        log(f"run failed: {e}")
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.time() - t0:.1f} s")

    w = spec["workloads"][a.workload]
    values, attempted, failed, correct, lines = metrics.summarize(
        result, a.trace == 1, w.get("spread", {}))
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{w['input_per_op']}")
    for line in lines:
        print(line)
    if a.trace:
        print(f"spans written to {spans.relative_to(ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
