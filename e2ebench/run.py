"""End-to-end benchmark of the graft engine.

    python3 e2ebench/run.py --workload corpus_stream --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the program from source (see
build.py), runs one workload in one JVM (C1 code only) at
local[min(4, nproc)] or, for topic_pubsub, local[1], checks
its outputs against in-benchmark reference models, and prints one JSON
line last: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The full record of the run (samples,
drift, host record, spans) goes to .bench_build/e2ebench/results/.
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_LIMIT_S = 170

# The JVM options the program's own build runs it with (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_PROPS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.shuffle.sort.bypassMergeThreshold=1",
    "-Dspark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem",
    "-Dspark.sql.session.timeZone=UTC",
]

# C1 code only. C2 keeps recompiling for minutes (topic_pubsub's cycle
# time was still falling, 7.8 -> 4.3 s, after nine cycles), longer than
# any warm-up the time budget allows, so the window sat on the C2 curve,
# whose pace depends on how busy the host is. C1 compiles each method
# once, early, and compiling less also shortens set-up and warm-up.
JIT = ["-XX:TieredStopAtLevel=1"]


def _stop(signum, _frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    debug = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k.endswith("_DEBUG"))
    if debug:
        raise SystemExit(f"refusing to run with debug output enabled: {', '.join(debug)}")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")

    classes = build.build(root)
    jars = build.spark_jars(root)
    out_root = root / ".bench_build" / "e2ebench"
    work = out_root / f"run-{os.getpid()}-{int(time.time() * 1000)}"
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_PROPS + JIT
           + ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--result", str(result)])
    logf = work / "jvm.log"
    try:
        with open(logf, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 cwd=work, start_new_session=True)
            try:
                rc = p.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if p.poll() is None:  # timed out, or this script was stopped
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if rc != 0 or not result.is_file():
            sys.stderr.write(logf.read_text()[-4000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        rec = json.loads(result.read_text())
    finally:
        keep = out_root / "results"
        keep.mkdir(exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
        if result.is_file():
            shutil.copy(result, keep / f"{name}.json")
        elif logf.is_file():
            shutil.copy(logf, keep / f"{name}.log")
        shutil.rmtree(work, ignore_errors=True)

    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics, unmeasured = {}, []
    for m in listed:
        v = measured.get(m["name"])
        if v is None or not math.isfinite(v):
            # per-layer: a layer this workload does not exercise
            unmeasured.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    e2e = rec["end_to_end"]
    print(f"[e2ebench] {a.workload} seed={a.seed} cycles={rec['cycles']} "
          f"samples={rec['samples']} fold_samples={rec['fold_samples']} "
          f"drift={rec['drift']} attempted={rec['attempted']} failed={rec['failed']} "
          f"setup_reps_s={rec['setup_reps_s']} warmup_s={rec['warmup_s']:.1f} "
          f"host={rec['host']}", file=sys.stderr)
    print("[e2ebench] " + " ".join(f"{k}={v:.4g}" for k, v in sorted(e2e.items()) if v is not None),
          file=sys.stderr)
    if unmeasured and a.trace:
        print(f"[e2ebench] not exercised on {a.workload}: {', '.join(unmeasured)}", file=sys.stderr)
    # an end-to-end metric the run could not measure is a failed run
    correct = bool(rec["failed"] == 0 and rec["attempted"] > 0
               and (a.trace or not unmeasured))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
