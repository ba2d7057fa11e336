#!/usr/bin/env python3
"""Blueprint lifecycle benchmark.

Builds the engine and the harness from source with sbt (once per checkout),
then runs one workload in one JVM and prints its result as the last line of
stdout:

    python3 bpbench/run.py --workload blueprint_small_files --seed 1 \
        --seconds 20 --trace 0

Workloads: blueprint_small_files and llm_operator_mix (listed in
BENCHMARK.json), and blueprint_large_files (run by hand). The mix reads the
sf0.001 tables kept in bpbench/data/ and checks each query's result against
its oracleSql with DuckDB, outside the timed region.

Everything the run writes stays under .bench_work/ in the checkout. Exits
non-zero, without a result line, when the engine sources are missing, the
build fails, the JVM fails or the result line lacks a listed metric.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
CLASSPATH = WORK / "classpath.txt"
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 175
MIX_TABLES = HERE / "data" / "sf0.001"
# A traced run reports every per-layer metric of BENCHMARK.json. Those of
# layers a workload does not exercise read 0.
NOT_EXERCISED = {
    "llm_operator_mix": ("blueprints.", "catalog.", "rename.", "transfer."),
    "blueprint_small_files": ("query.", "ext."),
    "blueprint_large_files": ("query.", "ext."),
}

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bpbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files.extend(p for p in r.rglob("*") if p.is_file())
    return max(p.stat().st_mtime for p in files if p.exists())


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files inside the checkout too
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp_dir()}"
    return env


def tmp_dir():
    d = WORK / "tmp"
    d.mkdir(parents=True, exist_ok=True)
    return d


def build(deadline):
    """Compiles engine + harness; returns the runtime classpath."""
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest_source_mtime():
        return CLASSPATH.read_text().strip()
    log("building engine and harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
        timeout=max(10, deadline - time.time() - 60))
    lines = [l for l in out.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    CLASSPATH.write_text(lines[-1])
    return lines[-1]


def run_jvm(cp, args, deadline, log_path):
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "bpbench.Main"] + args)
    with open(log_path, "w") as err:
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=err, text=True,
                             timeout=max(10, deadline - time.time()))
    if out.returncode != 0:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {out.returncode}")
    return [l for l in out.stdout.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-one", type=int, choices=[0, 1], default=0,
                    help="corrupt one uploaded file before its output check")
    a = ap.parse_args()

    start = time.time()
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit(f"engine sources not found under {ROOT}")
    if a.workload not in NOT_EXERCISED:
        raise SystemExit(f"unknown workload {a.workload}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    WORK.mkdir(exist_ok=True)
    built = CLASSPATH.exists()
    deadline = start + (RUN_LIMIT_S if built else FIRST_RUN_LIMIT_S)
    try:
        cp = build(deadline)
        logs = WORK / "logs"
        logs.mkdir(exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(WORK / "run"), "--corrupt-one", str(a.corrupt_one)]
        if a.workload == "llm_operator_mix":
            args += ["--sf-dir", str(MIX_TABLES)]
        lines = run_jvm(cp, args, deadline,
                        logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark did not finish in time")
    try:
        result = json.loads(lines[-1])
        context = json.loads(lines[-2])["context"]
    except (IndexError, ValueError, KeyError):
        raise SystemExit("no result line from the benchmark JVM")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    if a.workload == "llm_operator_mix":
        import mix_oracle
        bad = mix_oracle.check(MIX_TABLES, WORK / "run" / "mix_out",
                               WORK / "oracle")
        for b in bad:
            log(f"ORACLE MISMATCH {b}")
        result["failed"] += len(bad)
        result["correct"] = result["failed"] == 0
        context["oracle_mismatches"] = bad
        context["failed_ratio"] = result["failed"] / result["attempted"]
    listed = spec["per_layer" if a.trace else "end_to_end"]
    metrics = result["metrics"]
    for m in listed:
        if m["name"] not in metrics and m["name"].startswith(
                NOT_EXERCISED[a.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
    if set(metrics) != {m["name"] for m in listed}:
        raise SystemExit("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ {m['name'] for m in listed})}")
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
