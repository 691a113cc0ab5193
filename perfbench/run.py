#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft warehouse library.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark driver with sbt when their sources
changed, then runs one workload in a fresh JVM with a single local[4]
Spark session, as one closed-loop client. With --trace 0 it prints the
end-to-end metrics, with --trace 1 the per-layer ones (from a run with a
SparkListener and a QueryExecutionListener attached). Every op's result is
checked against the DuckDB oracle once per run, outside the timed passes.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 when every
op ran and matched its oracle, 1 when some did not, 2 when the run could
not be made. See README.md for the workloads and the metrics.
"""
import argparse
import bisect
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from workloads import BUILD_OP, MEMO_FAMILY, MODULES, WORKLOADS, module_of, plan

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "launch.sha256"
# heap and young generation both fixed, so the collector's schedule
# follows the program's allocation, not heap growth or pause-time tuning
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
SETUP_PROBES = 1        # fresh JVMs that only build a session, besides the measuring one
RUN_LIMIT_S = 170       # a run past this is killed and fails

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_s": "s",
              "live_mb": "MiB"}

# per-layer metric -> unit; each is reported for the median traced warm
# pass, and with a "cold." prefix for the cold pass
LAYER_UNITS = {
    "entry.construct_s": "s", "entry.construct_jobs": "count", "entry.execute_s": "s",
    "memo.first_use_s": "s", "memo.later_use_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.in_job_s": "s", "spark.driver_gap_s": "s",
    "spark.task_s": "s", "spark.parallelism": "slots",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "io.read_bytes": "bytes", "io.read_records": "count", "io.write_s": "s",
    "io.write_bytes": "bytes", "io.write_records": "count", "io.files_written": "count",
    "etl.readback_s": "s", "etl.rows_loaded": "count",
    **{f"{m}.op_s": "s" for m in MODULES},
}
DRIVER_KINDS = ("op", "construct", "execute")
PER_LAYER = {**LAYER_UNITS, **{f"cold.{k}": u for k, u in LAYER_UNITS.items()},
             "trace.overhead": "ratio"}


class RunError(Exception):
    """The run could not be made; no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    yield ROOT / "build.sbt"
    yield from sorted((ROOT / "project").glob("*.properties"))
    yield from sorted((ROOT / "project").glob("*.sbt"))
    yield from sorted((ROOT / "src" / "main").rglob("*"))
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"
    yield from sorted((HERE / "src").rglob("*"))


def build():
    """Compiles the program and the driver unless the last build used the
    same sources; returns the classpath and the program's JVM options."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise RunError(f"no program sources next to {HERE.name}/ (build.sbt, src/main)")
    h = hashlib.sha256()
    for f in source_files():
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    digest = h.hexdigest()
    if not (LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == digest):
        log("building with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
            repos = Path.home() / ".sbt" / "repositories"
            if repos.is_file():
                opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts.strip()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "writeLaunch"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if r.returncode != 0 or not LAUNCH.is_file():
            raise RunError(f"sbt build failed (exit {r.returncode})")
        STAMP.write_text(digest)
    classpath, opts = LAUNCH.read_text().split("\n")[:2]
    jvm = [o for o in opts.split("\x01") if o and not o.startswith("-Xmx")]
    return classpath, jvm


# ---------------------------------------------------------------- JVM runs

class Jvm:
    """One driver JVM; `ready_s` is the time from spawn to its session being ready."""

    def __init__(self, launch, args, deadline):
        classpath, jvm_opts = launch
        cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
               f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
               f"-Dderby.system.home={WORK}", *jvm_opts,
               "-cp", classpath, "perfbench.Driver", *args]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
        self.deadline = deadline
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                                     stderr=sys.stderr, text=True, start_new_session=True)
        for line in self.proc.stdout:
            if line.strip() == "READY":
                self.ready_s = time.perf_counter() - t0
                break
        else:
            self.wait()
            raise RunError("driver JVM exited before its session was ready")

    def wait(self):
        try:
            self.proc.communicate(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.kill()
            raise RunError(f"driver JVM passed the {RUN_LIMIT_S} s run limit")
        if self.proc.returncode != 0:
            raise RunError(f"driver JVM exited with {self.proc.returncode}")

    def kill(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()


def run_workload(workload, seed, seconds, trace, data_dir, launch):
    """Runs the driver; returns (setup samples, records by type)."""
    deadline = time.monotonic() + RUN_LIMIT_S
    WORK.mkdir(parents=True)
    (WORK / "tmp").mkdir()
    setups = []
    for _ in range(SETUP_PROBES):
        probe = Jvm(launch, ["setup", str(WORK)], deadline)
        setups.append(probe.ready_s)
        probe.kill()  # only its start-up is measured
    plan_file = WORK / "plan.txt"
    plan_file.write_text(
        "\n".join(",".join(p) for p in plan(workload, seed, seconds, trace)) + "\n")
    out = WORK / "records.jsonl"
    main = Jvm(launch, ["run", str(data_dir), str(WORK), str(plan_file), str(trace), str(out)],
               deadline)
    setups.append(main.ready_s)
    try:
        main.wait()
    finally:
        main.kill()
    records = {"op": [], "summary": [], "span": [], "check": []}
    for line in out.read_text().splitlines():
        r = json.loads(line)
        records[r["type"]].append(r)
    return setups, records


# ---------------------------------------------------------------- metrics

def passes_of(ops):
    by_pass = {}
    for op in ops:
        by_pass.setdefault(op["pass"], []).append(op)
    return [by_pass[p] for p in sorted(by_pass)]


def end_to_end(setups, ops, summary):
    passes = passes_of(ops)
    warm = passes[1:]
    warm_ops = [op["op_s"] for p in warm for op in p]
    return {
        "setup_s": statistics.median(setups),
        "cold_s": sum(op["op_s"] for op in passes[0]),
        "warm_s": statistics.median(sum(op["op_s"] for op in p) for p in warm),
        "op_p50_s": statistics.median(warm_ops),
        "live_mb": live_heap_mb(summary) + summary["non_heap_mb"],
    }, warm_ops


def live_heap_mb(summary):
    """Median heap in use right after a collection, over every collection
    in the timed passes; the heap after the latest one if none ran."""
    samples = [mb for p in summary["pass_heap_mb"] for mb in p]
    return statistics.median(samples) if samples else summary["latest_heap_mb"]


def union_s(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0.0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def resolve_spans(spans):
    """Gives every span its parent, its self time, and the op and driver
    phase (construct or execute) it ran under, in place.

    The driver's op, construct and execute spans carry their parents. A job
    belongs to its SQL execution when it has one. Every other span belongs
    to the innermost driver span running when it started: with one client
    that is unambiguous. The listener's clock has millisecond resolution,
    so a span may appear to start up to 2 ms before its parent.
    """
    eps = 0.002
    for s in spans:
        if s["end"] is None:  # a job cut short by a failed op
            s["end"] = s["start"]
    by_id = {s["id"]: s for s in spans}
    sql_of = {s["link"]: s["id"] for s in spans if s["kind"] in ("sql", "write")}
    driver = sorted((s for s in spans if s["kind"] in DRIVER_KINDS), key=lambda s: s["start"])
    starts = [s["start"] for s in driver]
    for s in spans:
        if s["kind"] in DRIVER_KINDS:
            continue
        if s["kind"] == "job" and s["link"] in sql_of:
            s["parent"] = sql_of[s["link"]]
            continue
        # driver spans are an op followed by its phases, so the innermost
        # one holding a time is among the last few that start before it
        i = bisect.bisect_right(starts, s["start"] + eps) - 1
        while i >= 0 and driver[i]["end"] < s["start"] - eps and driver[i]["kind"] != "op":
            i -= 1
        ok = i >= 0 and driver[i]["end"] >= s["start"] - eps
        s["parent"] = driver[i]["id"] if ok else -1
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["self_s"] = (s["end"] - s["start"]) - union_s(kids, s["start"], s["end"])
        s["op"], s["phase"], up = -1, None, s
        while up is not None:
            if up["kind"] in ("construct", "execute") and s["phase"] is None:
                s["phase"] = up["kind"]
            if up["kind"] == "op":
                s["op"] = up["id"]
            up = by_id.get(up["parent"])


def op_layers(op, span, mine):
    """Per-layer figures of one traced op, from the spans under it."""
    jobs = [s for s in mine if s["kind"] == "job"]
    a = lambda key: sum(j["attrs"].get(key, 0.0) for j in jobs)  # noqa: E731
    dur = lambda kind: sum(s["end"] - s["start"] for s in mine if s["kind"] == kind)  # noqa: E731
    in_job = union_s([(j["start"], j["end"]) for j in jobs], span["start"], span["end"])
    return {
        "entry.construct_s": op["construct_s"],
        "entry.construct_jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "entry.execute_s": op["execute_s"],
        "spark.jobs": len(jobs), "spark.stages": a("stages"), "spark.tasks": a("tasks"),
        "spark.plan_s": dur("plan"),
        "spark.in_job_s": in_job,
        "spark.driver_gap_s": op["op_s"] - in_job,
        "spark.task_s": a("task_s"),
        "spark.shuffle_read_bytes": a("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": a("shuffle_write_bytes"),
        "spark.spill_bytes": a("spill_bytes"),
        "spark.gc_s": op["gc_s"],
        "io.read_bytes": a("read_bytes"), "io.read_records": a("read_records"),
        "io.write_s": dur("write"),
        "io.write_bytes": a("write_bytes"), "io.write_records": a("write_records"),
        "io.files_written": op["files"],
        "etl.readback_s": dur("sql") if op["name"] == BUILD_OP else 0.0,
        "etl.rows_loaded": op["rows"],
    }


def pass_layers(ops, by_id, under):
    """Per-layer totals of one traced pass."""
    total = dict.fromkeys(LAYER_UNITS, 0.0)
    paid = set()
    for op in ops:
        for k, v in op_layers(op, by_id[op["span"]], under.get(op["span"], [])).items():
            total[k] += v
        family = MEMO_FAMILY.get(op["name"])
        if family:
            total["memo.later_use_s" if family in paid else "memo.first_use_s"] += op["construct_s"]
            paid.add(family)
        total[f"{module_of(op['name'])}.op_s"] += op["op_s"]
    total["spark.parallelism"] = (
        total["spark.task_s"] / total["spark.in_job_s"] if total["spark.in_job_s"] else 0.0)
    return total


def per_layer(ops, spans):
    resolve_spans(spans)
    by_id = {s["id"]: s for s in spans}
    under = {}
    for s in spans:
        if s["op"] >= 0 and s["kind"] != "op":
            under.setdefault(s["op"], []).append(s)
    passes = passes_of(ops)
    traced = [pass_layers(p, by_id, under) for p in passes[1:] if p[0]["traced"]]
    # the first warm pass only settles the JVM before the traced cycle
    plain = [sum(op["op_s"] for op in p) for p in passes[2:] if not p[0]["traced"]]
    metrics = {k: statistics.median(t[k] for t in traced) for k in LAYER_UNITS}
    metrics.update({f"cold.{k}": v for k, v in pass_layers(passes[0], by_id, under).items()})
    traced_warm = statistics.median(
        sum(op["op_s"] for op in p) for p in passes[1:] if p[0]["traced"])
    metrics["trace.overhead"] = traced_warm / statistics.median(plain)
    return metrics


# ---------------------------------------------------------------- correctness

def check_outputs(data_dir, checks, corrupt=None):
    """Op name -> reason for every op whose result does not match its
    oracle. `corrupt` maps (op, oracle SQL) to a changed SQL; the self-test
    uses it to show that a wrong expected result is caught."""
    import check  # imported here: it loads dev/check_oracle.py from the program's checkout
    oracle = check.Oracle(data_dir, WORK / "duckdb")
    bad = {}
    for c in checks:
        for table, sql in c["oracles"].items():
            if corrupt and sql:
                sql = corrupt(c["name"], sql)
            if c["name"] == BUILD_OP:
                result = f"{c['result']}/{table}" if c["result"] else None
                # the facts are partitioned by a year column the oracle lacks
                drop = ("year",) if table.startswith("fact_") else ()
                why = oracle.compare(result, sql, drop=drop)
            else:
                why = oracle.compare(c["result"], sql)
            if why:
                bad[c["name"]] = f"{table}: {why}"
                break
    oracle.close()
    return bad


# ---------------------------------------------------------------- main

def run(workload, seed, seconds, trace, data_dir, corrupt=None, spans_out=None):
    """One benchmark run; returns the result object and prints a summary."""
    launch = build()
    if WORK.exists():
        shutil.rmtree(WORK)
    try:
        setups, rec = run_workload(workload, seed, seconds, trace, data_dir, launch)
        ops = rec["op"]
        if not ops or not rec["summary"]:
            raise RunError("driver wrote no measurements")
        t0 = time.monotonic()
        mismatched = check_outputs(data_dir, rec["check"], corrupt)
        log(f"oracle check took {time.monotonic() - t0:.1f} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    for op in ops:
        if op["error"]:
            log(f"pass {op['pass']} {op['name']} failed: {op['error']}")
    for name, why in sorted(mismatched.items()):
        log(f"{name} does not match its oracle: {why}")
    failed = sum(1 for op in ops if op["error"] or op["name"] in mismatched)
    e2e, warm_ops = end_to_end(setups, ops, rec["summary"][0])
    if trace:
        metrics, units = per_layer(ops, rec["span"]), PER_LAYER
        if spans_out:
            with open(spans_out, "w") as f:
                for s in rec["span"]:
                    f.write(json.dumps(s) + "\n")
    else:
        metrics, units = e2e, END_TO_END
    # the full set of end-to-end figures, for people; the JSON line is for tools
    p90 = (f"{statistics.quantiles(warm_ops, n=10)[-1]:.4f} s" if len(warm_ops) >= 100
           else f"not reported ({len(warm_ops)} samples, 100 needed)")
    print(f"{workload} seed={seed} passes={len(passes_of(ops))} "
          f"warm op samples={len(warm_ops)} "
          + " ".join(f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items())
          + f" op_p90_s={p90} failed_frac={failed / len(ops):.4f}"
          + f" peak_rss_mb={rec['summary'][0]['peak_rss_mb']:.1f} MiB"
          + f" pass_heap_mb={[[round(x) for x in p] for p in rec['summary'][0]['pass_heap_mb']]}")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--testdata", default=str(Path.home() / "testdata"),
                    help="directory holding the sf* fixture directories")
    ap.add_argument("--spans-out", help="write the traced run's spans here as JSON lines")
    a = ap.parse_args()
    data_dir = Path(a.testdata) / WORKLOADS[a.workload].scale
    try:
        if not (data_dir / "lineitem.parquet").is_file():
            raise RunError(f"no fixture tables in {data_dir}")
        result = run(a.workload, a.seed, a.seconds, a.trace, data_dir, spans_out=a.spans_out)
    except (RunError, subprocess.TimeoutExpired) as e:
        log(f"run failed: {e}")
        sys.exit(2)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
