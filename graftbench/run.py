"""graft benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), runs one
workload in one JVM on `local[nproc]`, and prints as the last stdout line
one JSON object `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the `end_to_end` metrics of BENCHMARK.json,
with `--trace 1` the `per_layer` ones. Per-run details (session confs,
input digest, sizes, load average, check failures) go to
`.bench_build/results/`, each run's span file beside them.
`--selftest` runs every workload at toy size in both modes and asserts
that every metric is present, finite and non-negative and that every
check passes.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
SPEC = ROOT / "BENCHMARK.json"
JVM_TIMEOUT_S = 165
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec_metrics(trace: bool) -> dict:
    spec = json.loads(SPEC.read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classes: Path, workload: str, seed: int, seconds: float, trace: bool,
            scale: str) -> dict:
    """Run one workload in a fresh JVM; return its result object."""
    tag = f"{workload}-seed{seed}-trace{int(trace)}" + ("-toy" if scale == "toy" else "")
    work = OUT / "work" / f"{tag}-{os.getpid()}"
    results = OUT / "results"
    logs = OUT / "logs"
    for d in (work / "tmp", results, logs):
        d.mkdir(parents=True, exist_ok=True)
    jars = build.spark_jars()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'graftbench' / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--scale", scale,
              "--dir", str(work), "--out", str(results / f"{tag}.json")])
    log_path = logs / f"{tag}.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT,
                                    env=env)
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
    finally:
        # Also reached on SIGTERM/SIGINT (see main): never leave the JVM behind.
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail = log_path.read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{workload} exited with {proc.returncode} (log: {log_path})")
    return json.loads(lines[-1])


def validate(result: dict, trace: bool) -> dict:
    """Keep exactly the metrics BENCHMARK.json names for this mode, with
    its units; a missing or non-finite metric is a harness failure."""
    want = spec_metrics(trace)
    got = result["metrics"]
    missing = [n for n in want if n not in got]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    metrics = {}
    for name, unit in want.items():
        v = got[name]["value"]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {name} is not a finite number: {v}")
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def selftest(classes: Path) -> None:
    workloads = [w["name"] for w in json.loads(SPEC.read_text())["workloads"]]
    problems = []
    for w in workloads:
        for trace in (False, True):
            r = validate(run_jvm(classes, w, 7, 1, trace, "toy"), trace)
            bad = [n for n, m in r["metrics"].items() if m["value"] < 0]
            if bad:
                problems.append(f"{w} trace={int(trace)}: negative {bad}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w} trace={int(trace)}: {r['failed']} of {r['attempted']} "
                                "steps failed their checks")
            print(f"selftest {w} trace={int(trace)}: {len(r['metrics'])} metrics, "
                  f"{r['attempted']} steps, {r['failed']} failed", file=sys.stderr)
    if problems:
        fail("selftest failed:\n  " + "\n  ".join(problems), 1)
    print(json.dumps({"selftest": "ok", "workloads": workloads}))


def main() -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not SPEC.exists():
        fail("BENCHMARK.json not found at the repository root")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if args.selftest:
        selftest(classes)
        return
    names = [w["name"] for w in json.loads(SPEC.read_text())["workloads"]]
    if args.workload not in names:
        fail(f"--workload must be one of {names}")
    trace = args.trace == 1
    result = validate(run_jvm(classes, args.workload, args.seed, args.seconds, trace, "full"),
                      trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
