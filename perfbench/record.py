#!/usr/bin/env python3
"""Record the expected result of every benchmark query id into
perfbench/expected.json, validated against the DuckDB oracle.

Usage (from the root of the repository):
    python3 perfbench/record.py

For each workload it runs the harness's cold pass (no warm passes) in
three configurations -- different core counts and seeds, hence different
shuffle layouts and id orders -- and records each id's row count, schema
and order-insensitive digest. The first configuration also writes every
result as parquet, with the ids' oracle SQL (SparkEntry.oracleSql), in
the layout tools/preflight.py reads; preflight then compares each result
with its oracle in DuckDB over the benchmark's own input tables.

An id is checked by digest when its oracle compare passes and its digest
repeats across the three configurations. Every other id (no oracle, or a
digest that does not repeat) is checked by row count and schema only;
expected.json says which and why.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

CONFIGS = [(4, 1), (2, 2), (3, 3)]  # (cores, seed)
VERDICTS = ("PASS", "FAIL", "NOORACLE")


def oracle_verdicts(data, dump) -> dict:
    """id -> (verdict, line) of tools/preflight.py over a dump directory:
    PASS, FAIL or NOORACLE (no oracle SQL declared)."""
    proc = subprocess.run(
        [sys.executable, str(build.ROOT / "tools" / "preflight.py"),
         str(data), str(dump)], capture_output=True, text=True)
    out = {}
    for line in proc.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in VERDICTS and rest:
            out[rest.split()[0].rstrip(":")] = (verdict, line)
    return out


def main() -> int:
    spec = json.loads((run.HERE / "workloads.json").read_text())
    data = build.ROOT / spec["data"]
    classes, _ = build.ensure_built()
    expected, problems = {}, []
    for name, wl in spec["workloads"].items():
        dump = build.BUILD / "record" / name
        shutil.rmtree(dump, ignore_errors=True)
        seen = {}
        for cores, seed in CONFIGS:
            extra = [f"cores={cores}"] + ([f"dump={dump}"] if not seen else [])
            raw, _, _ = run.harness(classes, wl["ids"], seed, 0, 0,
                                    f"record-{name}-c{cores}", 600, extra)
            failed = [s for s in raw["passes"][0]["samples"] if not s["ok"]]
            if failed:
                raise SystemExit(f"record: {name} failed: {failed}")
            for c in raw["checks"]:
                seen.setdefault(c["id"], []).append(c)
        verdicts = oracle_verdicts(data, dump)
        for ident, runs in sorted(seen.items()):
            first = runs[0]
            shapes = {(c["rows"], c["schema"]) for c in runs}
            if len(shapes) > 1:
                problems.append(f"{ident}: rows/schema differ {shapes}")
            entry = {"rows": first["rows"], "schema": first["schema"],
                     "digest": first["digest"]}
            verdict, line = verdicts.get(ident, ("FAIL", "no preflight line"))
            if verdict == "NOORACLE":
                entry.update(check="shape", oracle="none",
                             why="no DuckDB oracle (sketch id)")
            elif verdict == "FAIL":
                problems.append(f"{ident}: oracle mismatch: {line}")
                entry.update(check="shape", oracle="fail", why=line)
            elif len({c["digest"] for c in runs}) > 1:
                entry.update(check="shape", oracle="pass",
                             why="digest does not repeat between runs")
            else:
                entry.update(check="digest", oracle="pass")
            expected[ident] = entry
            print(f"{ident:<24} {entry['check']:<6} oracle={entry['oracle']}"
                  f" rows={entry['rows']}")
    out = {"data": spec["data"],
           "configs": [{"cores": c, "seed": s} for c, s in CONFIGS],
           "ids": expected}
    (run.HERE / "expected.json").write_text(json.dumps(out, indent=1) + "\n")
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
