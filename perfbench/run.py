"""Skyline benchmark runner.

    python3 perfbench/run.py --workload batch_anti4d_dups --seed 7 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source (see build.py), runs one workload in a fresh JVM with Spark in
local[nproc] mode, prints every metric by name with its unit, and prints as
the last line one JSON object with the keys correct, attempted, failed and
metrics. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 its per-layer metrics. Everything the run writes stays under
.bench_build/perfbench in the working directory.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Matches org.apache.spark.launcher.JavaModuleOptions: Spark on JDK 17 needs
# these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed heap and young generation, so resident memory follows the
# program's live data rather than the collector's resizing decisions.
HEAP = "2g"
YOUNG = "512m"
RUN_LIMIT_S = 170


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(args: list, classes: Path, out_root: Path, limit_s: float) -> int:
    jars = build.spark_jars()
    tmp = out_root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={Path('perfbench/log4j2.properties').resolve()}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{classes}:{jars}/*", *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit_s:.0f} s, stopping it", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    # a terminated runner still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.loads(spec_path.read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; expected one of {workloads}")

    out_root = root / ".bench_build" / "perfbench"
    out_root.mkdir(parents=True, exist_ok=True)
    try:
        classes, stamp = build.build(root, out_root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    if a.selftest:
        sys.exit(0 if run_jvm(["perfbench.SelfTest"], classes, out_root, RUN_LIMIT_S) == 0 else 1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    work = out_root / "work" / f"{a.workload}-{os.getpid()}"
    result_file = work / "result.json"
    work.mkdir(parents=True, exist_ok=True)
    try:
        code = run_jvm(["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", str(work), "--out", str(result_file),
                        "--cache", str(out_root / "refs"), "--traces", str(out_root / "traces"),
                        "--stamp", stamp],
                       classes, out_root, RUN_LIMIT_S)
        if code != 0 or not result_file.is_file():
            fail(f"workload run failed (exit {code})", 1)
        raw = json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(raw["metrics"]) - {m["name"] for m in wanted}
    if unknown:
        fail(f"run produced metrics BENCHMARK.json does not list: {sorted(unknown)}", 1)
    metrics = {}
    for m in wanted:
        if m["name"] not in raw["metrics"] and not a.trace:
            fail(f"run did not produce metric {m['name']}", 1)
        # a traced run leaves out the layers its workload does not exercise
        value = raw["metrics"].get(m["name"], 0.0)
        if value is None:  # nothing to measure: every query of the run failed
            raw["failed"] = max(1, raw["failed"])
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for name, v in metrics.items():
        print(f"{name:34s} {v['value']:.6g} {v['unit']}")
    print(f"{'failed_frac':34s} {raw['failed'] / max(1, raw['attempted']):.6g} share"
          f"  ({raw['failed']} of {raw['attempted']})")
    print("detail " + json.dumps(raw.get("detail", {}), sort_keys=True))
    print(json.dumps({"correct": bool(raw["correct"]) and raw["failed"] == 0,
                      "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
