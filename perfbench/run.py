#!/usr/bin/env python3
"""Materialized-result benchmark of the query engine.

Usage (from the root of the repository):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine and the harness (perfbench/build.py), starts one JVM
that replays the workload's query ids (perfbench/workloads.json) against
local[nproc], and prints every metric by name and unit. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones of a run whose warm passes alternate untraced and traced.

Everything the run writes stays under .bench_build/ in the checkout:
fresh warehouse, graft warehouse and java.io.tmpdir directories per run
(deleted after disk_mb is measured), and the run's artifact (labels,
metrics, raw records, spans as JSON lines) under .bench_build/artifacts/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
HERE = ROOT / "perfbench"
BUILD = build.BUILD
DEADLINE_S = 170
HEAP = "2g"
# Nominal length of one timed pass: a run makes --seconds // PASS_S of
# them. A fixed pass count keeps the sample count, and with it the tail's
# percentile, the same on every run and commit.
PASS_S = 5.0
# A run is labelled as started under ambient load when, before its JVM
# starts, at least this many other threads are runnable (median of 5
# samples of /proc/loadavg over 0.4 s). The 1-minute load average is
# recorded too, but back-to-back runs inflate it with their own history.
AMBIENT_RUNNABLE = 1
# Spark on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def load_labels() -> dict:
    runnable = []
    for _ in range(5):
        fields = Path("/proc/loadavg").read_text().split()
        runnable.append(int(fields[3].split("/")[0]) - 1)  # minus this one
        time.sleep(0.1)
    return {"load1": os.getloadavg()[0],
            "runnable_others": statistics.median(runnable)}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def tree_bytes(dirs) -> int:
    return sum(f.stat().st_size for d in dirs for f in d.rglob("*")
               if f.is_file() and not f.is_symlink())


def check_results(checks, expected) -> list:
    """Ids whose cold-pass result does not match perfbench/expected.json."""
    bad = []
    for c in checks:
        exp = expected.get(c["id"])
        if exp is None:
            bad.append((c["id"], "no recorded result"))
        elif c["schema"] != exp["schema"] or c["rows"] != exp["rows"]:
            bad.append((c["id"], f"rows/schema {c['rows']} {c['schema']}"))
        elif exp["check"] == "digest" and c["digest"] != exp["digest"]:
            bad.append((c["id"], f"digest {c['digest']}"))
    return bad


def declared() -> tuple:
    """End-to-end metric names and per-layer modules in BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ([m["name"] for m in spec["end_to_end"]],
            sorted({m["name"].rsplit(".", 1)[0] for m in spec["per_layer"]
                    if m["name"].endswith(".construct_jobs")}))


def harness(classes, ids, seed, passes, trace, tag, deadline,
            extra=()) -> tuple:
    """Run the JVM harness once in fresh run directories. Returns the raw
    records, the spans file and the bytes the run left on disk."""
    run = BUILD / "runs" / tag
    art = BUILD / "artifacts"
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: run / k for k in ("warehouse", "graft", "tmp", "spark-local")}
    for d in dirs.values():
        d.mkdir(parents=True)
    art.mkdir(parents=True, exist_ok=True)
    raw_file, spans_file, log_file = (art / f"{tag}.raw.json",
                                      art / f"{tag}.spans.jsonl",
                                      art / f"{tag}.jvm.log")
    data = ROOT / json.loads((HERE / "workloads.json").read_text())["data"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dgraft.warehouse={dirs['graft']}",
           "-cp", f"{classes}:{build.spark_jars()}/*",
           "org.apache.spark.perfbench.Harness",
           f"sf={data}", f"ids={','.join(ids)}",
           f"seed={seed}", f"passes={passes}",
           f"trace={trace}",
           f"warehouse={dirs['warehouse']}",
           f"spark-local={dirs['spark-local']}",
           "watch=" + ":".join(str(dirs[k])
                                for k in ("warehouse", "graft", "tmp")),
           f"out={raw_file}", f"spans={spans_file}", *extra]
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=deadline)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded its deadline; log: {log_file}", 3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(log_file.read_text()[-4000:])
        fail(f"harness exited with {code}; log: {log_file}", 3)
    raw = json.loads(raw_file.read_text())
    disk = tree_bytes(dirs.values())
    shutil.rmtree(run, ignore_errors=True)
    return raw, spans_file, disk


def main() -> int:
    # SIGTERM unwinds like Ctrl-C, so the harness JVM is killed on the way.
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; "
             f"choose from {sorted(spec['workloads'])}")
    ids = spec["workloads"][a.workload]["ids"]
    passes = max(1, int(a.seconds // PASS_S))
    expected = json.loads((HERE / "expected.json").read_text())["ids"]
    e2e_names, modules = declared()
    labels = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "start": load_labels(), "nproc": len(os.sched_getaffinity(0)),
              "heap_limit": HEAP, "git_commit": git_commit()}

    classes, labels["source_sha256"] = build.ensure_built()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    raw, spans_file, disk = harness(
        classes, ids, a.seed, passes, a.trace, tag,
        DEADLINE_S - (time.monotonic() - t_start))
    labels["end"] = load_labels()
    labels["ambient_load"] = (labels["start"]["runnable_others"]
                              >= AMBIENT_RUNNABLE)
    labels.update(raw["labels"])

    samples = [s for p in raw["passes"] for s in p["samples"]]
    bad = check_results(raw["checks"], expected)
    errors = [(s["id"], s["error"]) for s in samples if not s["ok"]]
    attempted, failed = len(samples), len(errors) + len(bad)
    e2e, info = metrics.end_to_end(raw, disk, failed, attempted)
    result = {"labels": labels, "end_to_end": e2e, "info": info,
              "check_failures": bad, "errors": errors[:20]}
    if a.trace:
        spans = [json.loads(line) for line in
                 spans_file.read_text().splitlines() if line]
        result["per_layer"] = metrics.per_layer(raw, spans, modules,
                                                raw["labels"]["cores"])
    (BUILD / "artifacts" / f"{tag}.result.json").write_text(
        json.dumps(result, indent=1))

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={labels['nproc']} heap={HEAP} spark={labels['spark_version']} "
          f"commit={labels['git_commit']} load1={labels['start']['load1']:.2f}"
          f"->{labels['end']['load1']:.2f}"
          f"{' AMBIENT-LOAD' if labels['ambient_load'] else ''}")
    for name, (v, unit) in e2e.items():
        print(f"  {name:<16} {v:12.4f} {unit}" if v is not None
              else f"  {name:<16} {'n/a':>12} {unit}")
    pct = info["tail_percentile"]
    print(f"  query_tail_s is {f'p{pct:.1f}' if pct else 'undefined'} "
          f"({info['query_samples']} warm samples, "
          f"{info['warm_passes']} warm passes)")
    for ident, why in bad + errors:
        print(f"  FAILED {ident}: {why}")
    if a.trace:
        shown = result["per_layer"]
        for name, (v, unit) in sorted(shown.items()):
            if v:
                print(f"  {name:<28} {v:12.4f} {unit}")
    else:
        shown = {k: e2e[k] for k in e2e_names}
    print(json.dumps({
        "correct": not bad and not errors, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
