#!/usr/bin/env python3
"""Self-tests of the benchmark, on the smallest fixtures.

Usage (from the repository root):

    python3 perfbench/selftest.py [--testdata DIR]

0. BENCHMARK.json names the workloads and metrics that run.py reports.
1. Every workload, untraced and traced, on sf0.001: every metric is
   reported with its unit, no op fails, and the build's row and file
   counts repeat exactly from pass to pass.
2. The spans of a traced run form one tree per op, with self times.
3. A deliberately corrupted expected result is reported as failed.
4. Without the program's sources next to it the benchmark exits non-zero
   without printing a result.
5. A run leaves no file behind outside its ignored build directories and
   does not touch the fixtures.
Takes about ten minutes on a 4-core box.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import run
from workloads import BUILD_OP, WORKLOADS

SCALE = "sf0.001"
BUILD_DIRS = {"target", "__pycache__", ".bsp"}


def tree(root, skip=BUILD_DIRS):
    """Every file under root, with size and modification time, outside build dirs."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in skip
                       and not (d == "project" and Path(dirpath).name == "project")]
        for f in filenames:
            st = (Path(dirpath) / f).stat()
            out[str(Path(dirpath, f).relative_to(root))] = (st.st_size, st.st_mtime_ns)
    return out


def check_manifest():
    """BENCHMARK.json names the workloads and metrics run.py reports."""
    b = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert b["command"] == ["python3", f"{run.HERE.name}/run.py"], b["command"]
    assert all(w["name"] in WORKLOADS for w in b["workloads"]), b["workloads"]
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def check_metrics(result, units, label):
    assert result["correct"] and result["failed"] == 0, f"{label}: {result}"
    assert result["attempted"] >= 1, label
    assert set(result["metrics"]) == set(units), f"{label}: {sorted(result['metrics'])}"
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], f"{label}: {name} unit {m['unit']}"
        assert isinstance(m["value"], float) or isinstance(m["value"], int), f"{label}: {name}"


def check_spans(path, kinds):
    spans = [json.loads(line) for line in Path(path).read_text().splitlines()]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["kind"] == "op"]
    assert ops, "no op spans"
    for s in spans:
        assert s["self_s"] >= -0.005, f"negative self time: {s}"
        if s["kind"] == "op":
            assert s["parent"] == -1, s
        elif s["kind"] in ("construct", "execute"):
            assert by_id[s["parent"]]["kind"] == "op", s
        elif s["kind"] == "job":
            assert s["op"] >= 0, f"job outside any op: {s}"
    seen = {s["kind"] for s in spans}
    assert set(kinds) <= seen, seen


def duplicate_a_row(op, sql):
    """Drops the oracle's first row and repeats its second: same row count
    and types, different values."""
    return (f"(SELECT * FROM ({sql}) ORDER BY ALL OFFSET 1) UNION ALL "
            f"(SELECT * FROM ({sql}) ORDER BY ALL OFFSET 1 LIMIT 1)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--testdata", default=str(Path.home() / "testdata"))
    data = Path(ap.parse_args().testdata) / SCALE
    check_manifest()
    fixtures_before = tree(data)
    checkout_before = tree(run.ROOT)
    run.build()

    spans_file = Path(tempfile.mkdtemp(dir=run.HERE / "target")) / "spans.jsonl"
    for w in WORKLOADS:
        check_metrics(run.run(w, 1, 1, 0, data), run.END_TO_END, f"{w} untraced")
        traced = run.run(w, 1, 1, 1, data, spans_out=spans_file)
        check_metrics(traced, run.PER_LAYER, f"{w} traced")
        # a build op's children are its write and read-back commands
        check_spans(spans_file, ("op", "write", "sql", "job", "plan") if w == "warehouse_build"
                    else ("op", "construct", "execute", "sql", "job", "plan"))
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        if w == "warehouse_build":
            for k in ("io.files_written", "etl.rows_loaded"):
                assert m[k] > 0 and m[k] == m[f"cold.{k}"], f"{k} does not repeat: {m}"
        print(f"ok   {w}: every metric reported, no op failed", flush=True)
    shutil.rmtree(spans_file.parent)

    corrupted = run.run("warehouse_build", 1, 1, 0, data, corrupt=duplicate_a_row)
    assert not corrupted["correct"] and corrupted["failed"] == corrupted["attempted"], corrupted
    print(f"ok   a corrupted expected result fails the {BUILD_OP} check", flush=True)

    bare = Path(tempfile.mkdtemp(dir=run.HERE / "target"))
    shutil.copy(run.ROOT / "BENCHMARK.json", bare)
    shutil.copytree(run.HERE, bare / run.HERE.name,
                    ignore=shutil.ignore_patterns("target", ".work", "__pycache__", "project"))
    shutil.copytree(run.HERE / "project", bare / run.HERE.name / "project",
                    ignore=shutil.ignore_patterns("target", "project"))
    p = subprocess.run([sys.executable, f"{run.HERE.name}/run.py", "--workload",
                        "warehouse_build", "--seed", "1", "--seconds", "1", "--trace", "0",
                        "--testdata", str(data.parent)],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    shutil.rmtree(bare)
    print("ok   without the program's sources the run fails and prints no result", flush=True)

    assert tree(data) == fixtures_before, "the fixtures changed"
    left = set(tree(run.ROOT)) ^ set(checkout_before)
    assert not left, f"files left behind: {sorted(left)}"
    print("ok   nothing left behind; fixtures untouched")


if __name__ == "__main__":
    main()
