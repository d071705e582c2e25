#!/usr/bin/env python3
"""Run one measured run of one benchmark workload and print its result.

    python3 perfbench/run.py --workload churn_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into `.bench_build` (or
$CARGO_TARGET_DIR); later runs reuse the build until a source file changes.
Each run is a fresh JVM with its own tmpdir, Spark local dirs and warehouse.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it is the run's report: the
figures behind the metrics (tail percentile and sample count, failed
fraction, model AUC, host anchor, set-up repetitions, tracing overhead).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build")
    return d if d.is_absolute() else ROOT / d


def sources():
    """Every file whose change needs a rebuild."""
    for base in (ROOT / "src" / "main", BENCH / "src"):
        yield from (p for p in base.rglob("*") if p.is_file())
    for p in (ROOT / "build.sbt", BENCH / "build.sbt"):
        yield p
    for proj in (ROOT / "project", BENCH / "project"):
        yield from (p for p in proj.glob("*") if p.is_file())


def ensure_built(out):
    """Builds the engine and the harness; returns the run classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources to build under {ROOT}")
    cp_file = out / "classpath.txt"
    if cp_file.is_file():
        built = cp_file.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources() if p.exists()):
            return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    log = out / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "package", "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(lines[-1] + "\n")
    return lines[-1]


def run_jvm(cp, args, run_dir, trace):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else "java"
    tmp = run_dir / "tmp"
    local = run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={run_dir}"]
    if trace:
        # deep enough call sites to reach the engine frame that fired a job
        cmd.append("-Dspark.callstack.depth=200")
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0:
        tail = "".join(log.read_text(errors="replace").splitlines(True)[-40:])
        sys.stderr.write(tail)
        fail("run timed out" if rc is None else f"run failed (exit {rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="FILE",
                    help="write the query fingerprints of one pass to FILE instead of checking them")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail(f"{spec_file} missing")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")

    out = build_dir()
    cp = ensure_built(out)
    if not DATA.is_dir():
        fail(f"{DATA} missing")

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = out / "runs" / tag
    records = out / "records"
    records.mkdir(parents=True, exist_ok=True)
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    record = records / f"{tag}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
            "--run-dir", str(run_dir), "--data", str(DATA),
            "--expected", str(BENCH / "expected" / "fingerprints.tsv"),
            "--out", str(record)]
    if a.trace:
        args += ["--spans", str(records / f"{tag}.spans.jsonl")]
    if a.record_expected:
        args += ["--record-expected", str(Path(a.record_expected).resolve())]
    try:
        run_jvm(cp, args, run_dir, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec = json.loads(record.read_text())

    attempted, failed = rec["attempted"], rec["failed"]
    extras = rec["extras"]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": rec["cpus"],
        "failed_frac": failed / attempted if attempted else 1.0,
        "model_auc": extras.get("model_auc"),
        "latency_tail_pct": rec["latency_tail_pct"],
        "latency_tail_beyond": rec["latency_tail_beyond"],
        "latency_samples": rec["latency_samples"],
        "host_anchor_s": rec["host_anchor_s"] if a.trace else None,
        "host_cpu_stall_s": rec["host_cpu_stall_s"], "host_steal_s": rec["host_steal_s"],
        "gc_s": rec["gc_s"], "jit_s": rec["jit_s"], "peak_rss_mb": rec["peak_rss_mb"],
        "heap_live_mb": rec["heap_live_mb"],
        "setup_reps_s": rec["setup_reps_s"], "pass_walls_s": rec["pass_walls_s"],
        "pass_cpu_s": rec["pass_cpu_s"],
        "failures": rec["failures"][:20], "record": str(record.relative_to(ROOT))
        if record.is_relative_to(ROOT) else str(record),
    }
    if a.trace:
        plain = [json.loads(p.read_text())["wall_s"] for p in records.glob(f"{a.workload}-*-t0-*.json")]
        if plain:
            plain.sort()
            report["tracing_overhead_s"] = rec["wall_s"] - plain[len(plain) // 2]
        layer = dict(rec["per_layer"])
        layer.update(extras)
        layer["host.anchor_s"] = rec["host_anchor_s"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        report["untracked_layer_metrics"] = sorted(set(rec["per_layer"]) - set(metrics))
    else:
        metrics = {m["name"]: {"value": float(rec[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
