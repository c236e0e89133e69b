"""Metric arithmetic of the benchmark: everything perfbench/run.py reports
is computed here from the harness's raw records, so that it can be tested
on its own (perfbench/test_metrics.py)."""
import statistics

MB = 1e6
# Per-module layer metrics, reported for every module BENCHMARK.json names.
MODULE_METRICS = [
    ("construct_s", "s"), ("construct_jobs", "count"), ("exec_s", "s"),
    ("exec_jobs", "count"), ("task_s", "s"), ("core_util", "ratio"),
    ("shuffle_mb", "MB"),
]
# Per-workload layer metrics.
WORKLOAD_METRICS = [
    ("Tables.input_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.driver_gap_s", "s"), ("sources.output_mb", "MB"),
    ("sources.files_written", "count"), ("trace.overhead_s", "s"),
    ("self.construct_s", "s"),
    ("self.job_s", "s"), ("self.stage_s", "s"),
]


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile), or (None, None) with too few samples."""
    xs = sorted(values)
    k = len(xs) - beyond - 1
    if k < 0:
        return None, None
    return xs[k], 100.0 * (k + 1) / len(xs)


def core_util(task_s, exec_s, cores):
    """Share of `cores` the action kept busy: task time over wall x cores."""
    return task_s / (exec_s * cores) if exec_s > 0 else 0.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["endMs"] - span["startMs"] - covered(
        [(c["startMs"], c["endMs"]) for c in children],
        span["startMs"], span["endMs"])) / 1e3


def end_to_end(raw, disk_bytes, failed, attempted):
    """Metrics of one untraced run, with the tail's percentile and count."""
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    lat = [s["constructS"] + s["execS"]
           for p in warm for s in p["samples"] if s["ok"]]
    tail_s, pct = tail(lat)
    metrics = {
        "batch_s": (statistics.median(p["wallS"] for p in warm), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail_s, "s"),
        "setup_s": (raw["setup_s"], "s"),
        "cpu_s": (statistics.median(p["cpuS"] for p in warm), "s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
        "disk_mb": (disk_bytes / MB, "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    info = {"tail_percentile": pct, "query_samples": len(lat),
            "warm_passes": len(warm)}
    return metrics, info


def per_layer(raw, spans, modules, cores):
    """Layer metrics per traced pass of one traced run."""
    traced = [p for p in raw["passes"] if p["kind"] == "traced"]
    wall = {p["index"]: p["wallS"] for p in raw["passes"]}
    n = len(traced)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}

    def phase_of(job):
        parent = by_id.get(job["parent"])
        return parent["kind"] if parent else None

    out = {f"{m}.{k}": [0.0, u] for m in modules for k, u in MODULE_METRICS}
    out.update({k: [0.0, u] for k, u in WORKLOAD_METRICS})

    def add(name, v):
        if name in out:
            out[name][0] += v / n

    for s in spans:
        kind, mod, c = s["kind"], s["module"], s["counters"]
        if kind == "query":
            add("sources.output_mb", c.get("bytes_written", 0) / MB)
            add("sources.files_written", c.get("files_written", 0))
        elif kind == "construct":
            add(f"{mod}.construct_s", (s["endMs"] - s["startMs"]) / 1e3)
        elif kind == "execute":
            add(f"{mod}.exec_s", (s["endMs"] - s["startMs"]) / 1e3)
            add("exec.driver_gap_s", self_time(s, kids.get(s["id"], [])))
        elif kind == "job" and s["parent"] in by_id:
            phase = "construct" if phase_of(s) == "construct" else "exec"
            add(f"{mod}.{phase}_jobs", 1)
        elif kind == "stage" and mod:
            job = by_id[s["parent"]]
            add(f"{mod}.shuffle_mb", c.get("shuffle_write_bytes", 0) / MB)
            if phase_of(job) == "execute":
                add(f"{mod}.task_s", c.get("task_ms", 0) / 1e3)
            add("Tables.input_mb", c.get("input_bytes", 0) / MB)
            add("exec.spill_mb", c.get("spill_disk_bytes", 0) / MB)
        if kind in ("construct", "job", "stage") and mod:
            add(f"self.{kind}_s", self_time(s, kids.get(s["id"], [])))
    for m in modules:
        out[f"{m}.core_util"][0] = core_util(
            out[f"{m}.task_s"][0], out[f"{m}.exec_s"][0], cores)
    out["exec.gc_s"][0] = statistics.mean(p["gcS"] for p in traced)
    # Against the mean of the plain passes on either side, which cancels a
    # linear drift of pass times.
    out["trace.overhead_s"][0] = statistics.mean(
        p["wallS"] - (wall[p["index"] - 1] + wall[p["index"] + 1]) / 2
        for p in traced)
    return {k: tuple(v) for k, v in out.items()}
