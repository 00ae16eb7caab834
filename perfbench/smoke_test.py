#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the smallest scale.

    python3 perfbench/smoke_test.py

Runs every workload once (--scale smoke) and asserts that
  - the run succeeds, every end-to-end metric of BENCHMARK.json is printed
    with its unit, and no operation failed (error_rate 0);
  - the report line carries the workload's named metrics;
  - a traced run of each declared workload prints every per-layer metric
    with its unit, and the layer self-times cover the whole pass;
  - an export whose output lost one file is caught: the run exits
    non-zero with failed > 0.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
EXTRA = ["export_many_tables", "query_scan", "query_iterative"]
REPORT_KEYS = {
    "export": ["export_s", "export_rows_per_s", "out_bytes_per_row", "error_rate"],
    "query": ["suite_s", "query_s_p50", "error_rate"],
}


def run(workload, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--scale", "smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{workload} {extra}: no result (exit {p.returncode})")
    report = json.loads(lines[0])["report"] if len(lines) > 1 else {}
    return p.returncode, json.loads(lines[-1]), report


def check_metrics(result, declared, where):
    for m in declared:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{where}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} value"
    assert set(result["metrics"]) == {m["name"] for m in declared}, \
        f"{where}: unexpected metrics {set(result['metrics']) - {m['name'] for m in declared}}"


def main():
    declared = [w["name"] for w in SPEC["workloads"]]
    for w in declared + EXTRA:
        code, r, report = run(w)
        assert code == 0 and r["correct"] and r["failed"] == 0, (w, code, r)
        check_metrics(r, SPEC["end_to_end"], w)
        for m in SPEC["end_to_end"]:
            assert r["metrics"][m["name"]]["value"] > 0, (w, m["name"])
        for k in REPORT_KEYS[w.split("_")[0]]:
            assert k in report, (w, k)
        assert report["error_rate"] == 0, (w, report["error_rate"])
        print(f"ok  {w}: {r['attempted']} operations, all metrics present")

    for w in declared:
        code, r, report = run(w, "--trace", "1")
        assert code == 0 and r["failed"] == 0, (w, code, r)
        check_metrics(r, SPEC["per_layer"], f"{w} traced")
        cover = r["metrics"]["trace.coverage_pct"]["value"]
        assert cover >= 95, f"{w}: layers cover {cover:.1f}% of the pass"
        assert "tracing_overhead_pct" in report
        assert os.path.getsize(report["spans_file"]) > 0
        print(f"ok  {w} traced: {len(r['metrics'])} per-layer metrics, coverage {cover:.1f}%")

    code, r, _ = run("export_jdbc", "--corrupt-export")
    assert code != 0 and not r["correct"] and r["failed"] >= 1, (code, r)
    print(f"ok  corrupted export detected: {r['failed']} of {r['attempted']} failed")


if __name__ == "__main__":
    main()
