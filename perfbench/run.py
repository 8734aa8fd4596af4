"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source (see build.py), starts one
JVM that runs the workload (perfbench.Main), prints every metric by name
with its unit, then, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
gated end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. All files the run makes stay under the build directory.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_TIMEOUT_S = 165
HEAP = "2g"
# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (the same list as org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def canary() -> float:
    """A fixed CPU-only job, timed: slower readings mean a contended box."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    dt = time.perf_counter() - t0
    assert acc >= 0
    return dt


def git_commit() -> str:
    if not (build.ROOT / ".git").exists():
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace: bool) -> list:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def java(classes: Path, args: list, cwd: Path, log: Path) -> int:
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", *opens,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail(path: Path, n: int = 40) -> str:
    try:
        return "\n".join(path.read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["dashboard", "ingest", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classes, digest = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_dir()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "work" / f"{tag}-{os.getpid()}"
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{tag}.log"
    result = out / "results" / f"{tag}.json"
    result.parent.mkdir(parents=True, exist_ok=True)
    result.unlink(missing_ok=True)
    work.mkdir(parents=True, exist_ok=True)

    if a.selftest:
        try:
            rc = java(classes, ["--selftest"], work, log)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(tail(log, 10))
        return rc

    before = canary()
    try:
        rc = java(classes, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", str(work / "data"), "--result", str(result)],
                  work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = canary()
    if rc != 0 or not result.is_file():
        print(f"perfbench: {tag} failed (exit {rc}); log {log}:\n{tail(log)}", file=sys.stderr)
        return 3

    res = json.loads(result.read_text())
    names = declared_metrics(bool(a.trace))
    if sorted(res["metrics"]) != sorted(names):
        print(f"perfbench: metrics {sorted(res['metrics'])} do not match "
              f"BENCHMARK.json {sorted(names)}", file=sys.stderr)
        return 4
    meta = dict(res["meta"], git_commit=git_commit(), source_sha256=digest,
                canary_before_s=before, canary_after_s=after)
    res["meta"] = meta
    result.write_text(json.dumps(res, indent=1))

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}")
    for k, v in meta.items():
        print(f"  meta {k} = {v}")
    for name, m in res["report"].items():
        print(f"  report {name} = {m['value']} {m['unit']}")
    for name, m in res["metrics"].items():
        print(f"  metric {name} = {m['value']} {m['unit']}")
    for f in res.get("failures", []):
        print(f"  failure {f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
