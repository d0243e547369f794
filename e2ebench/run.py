"""End-to-end benchmark of the engine: one workload per invocation.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine from source (build.py), makes the workload's inputs from
the seed (cached by seed and build under .bench_build/e2ebench/inputs and
verified by checksum before use), runs the workload in a fresh JVM, checks its outputs,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. See README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

T0 = time.monotonic()
BENCH = ROOT / ".bench_build" / "e2ebench"
WORK = BENCH / "run"
HEAP = "2g"
WORKLOADS = ("ingest_http_pb", "analyze_traces")
JVM_OPTS = ["--add-opens=java.base/java.lang=ALL-UNNAMED",
            "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
            "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
            "--add-opens=java.base/java.io=ALL-UNNAMED",
            "--add-opens=java.base/java.net=ALL-UNNAMED",
            "--add-opens=java.base/java.nio=ALL-UNNAMED",
            "--add-opens=java.base/java.util=ALL-UNNAMED",
            "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
            "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
            "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
            "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
            "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
            "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
            "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false"]


def note(msg):
    sys.stderr.write(f"e2ebench: {time.monotonic() - T0:6.1f}s {msg}\n")


def fail(msg):
    sys.stderr.write(f"e2ebench: {msg}\n")
    sys.exit(2)


def java(classes, args, heap, log, timeout):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn256m", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           *JVM_OPTS, "-cp", build.classpath(classes), "e2ebench.Main", *map(str, args)]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=out, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def digest(d):
    """sha256 of every input file but the manifest, keyed by relative path."""
    out = {}
    for f in sorted(d.rglob("*")):
        if f.is_file() and f.name != "manifest.json":
            out[str(f.relative_to(d))] = hashlib.sha256(f.read_bytes()).hexdigest()
    return out


def cached(d, make):
    """Inputs in `d`, made once by `make(d)` and verified by checksum on reuse."""
    man = d / "manifest.json"
    if man.exists() and json.loads(man.read_text()) == digest(d):
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    if not make(d):
        shutil.rmtree(d, ignore_errors=True)
        log = WORK / "gen.log"
        sys.stderr.write(log.read_text()[-3000:] if log.exists() else "")
        fail(f"input generation into {d} failed")
    man.write_text(json.dumps(digest(d)))
    return d


def inputs(classes, workload, seed):
    """The seed's inputs for a workload."""
    log = WORK / "gen.log"
    if workload == "analyze_traces":
        def make(d):
            sql = WORK / "oracle.sql"
            if java(classes, ["oracle-sql", "dd_semantic_clusters", sql], "1g", log, 120) != 0:
                return False
            with open(log, "ab") as err:
                return subprocess.run([sys.executable, str(HERE / "gen_analyze.py"), str(seed),
                                       str(d), str(sql)], stdout=err, stderr=err).returncode == 0
    else:
        def make(d):
            return java(classes, ["gen-ingest", seed, d], "1g", log, 300) == 0
    # keyed by the build and the generator too: the truth comes from them
    key = hashlib.sha256(classes.name.encode() + (HERE / "gen_analyze.py").read_bytes())
    return cached(BENCH / "inputs" / workload / key.hexdigest()[:16] / str(seed), make)


def result(spec, res, trace):
    """The result line: every metric of one kind, named and ordered as in
    BENCHMARK.json. A per-layer metric that the workload does not exercise
    reads 0; a missing end-to-end metric is an error."""
    kind = "per_layer" if trace else "end_to_end"
    got = res["layer" if trace else "e2e"]
    metrics = {}
    for m in spec[kind]:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} missing or not a number")
            v = {"value": 0.0}
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    if WORK.exists():
        fail(f"residue from an earlier run at {WORK}; remove it and rerun")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        WORK.mkdir(parents=True)
        classes = build.build()
        note("built")
        d = inputs(classes, args.workload, args.seed)
        note("inputs ready")
        out = WORK / "result.json"
        log = WORK / "run.log"
        rc = java(classes, ["run", "--workload", args.workload, "--inputs", str(d),
                            "--work", str(WORK), "--seconds", str(args.seconds),
                            "--trace", str(args.trace), "--out", str(out)], HEAP, log, 150)
        if rc != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"{args.workload} run exited with {rc}")
        note("run done")
        res = json.loads(out.read_text())
        for e in res["errors"]:
            sys.stderr.write(f"e2ebench: check failed: {e}\n")
        line = json.dumps(result(spec, res, args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
