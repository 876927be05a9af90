#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, end-to-end metrics with
tracing off, per-layer metrics from a traced run.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 1

The first run builds the engine and the harness with sbt (the harness is
the sbt project in perfbench/harness); later runs reuse the build while
the sources are unchanged. A run is one JVM, in its own empty
java.io.tmpdir that is removed afterwards. It makes three passes over
the workload's timed rows, in an order permuted by the seed, each on a
fresh session over an emptied tmpdir; wall_s and cpu_s are means over
the passes, and wall_s and setup_s are net of the CPU time the
hypervisor stole meanwhile. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md
for the metrics, the workloads and the trace.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CDS = WORK / "classes.jsa"
HARNESS = HERE / "harness"

# Per workload, the rows a run times. Full row lists live in the harness
# (Workloads.scala); `--rows full` times all of them.
WORKLOADS = json.loads((HERE / "workloads.json").read_text())

JVM_OPTS = [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms4g", "-Xmx4g", "-XX:+AlwaysPreTouch",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

PASSES = 3            # passes per JVM, each on its own session set-up
JVM_TIMEOUT_S = 150   # the passes over the timed rows, set-ups included
FULL_TIMEOUT_S = 1800 # the passes over every row
PHASES = {            # `graft: <phase>` job labels -> metric names
    "commit stats collection": "commit_stats",
    "cdf image build": "cdf_image",
    "dv position staging": "dv_staging",
    "group discovery": "group_discovery",
    "mv incremental merge": "mv_merge",
    "mv refresh commit": "mv_commit",
    "optimize compact": "optimize_compact",
}
ROW_TAG = "perfbench.row."
MB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                      timeout=840)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # class directories become jars, so the class-data archive covers them
    WORK.mkdir(exist_ok=True)
    entries = lines[-1].strip().split(os.pathsep)
    cp = os.pathsep.join(jar(Path(e), WORK / f"classes{i}.jar") if Path(e).is_dir() else e
                         for i, e in enumerate(entries))
    record_class_archive(cp)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def jar(directory, path):
    with zipfile.ZipFile(path, "w") as z:
        for f in sorted(directory.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(directory).as_posix())
    return str(path)


def record_class_archive(cp):
    """Dump the classes a session set-up loads into a class-data archive
    (JDK AppCDS), which roughly halves each run's cold JVM start. Runs
    without it if the JVM cannot write one."""
    CDS.unlink(missing_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="cds-", dir=WORK))
    try:
        res = run_bounded(harness_cmd(cp, tmp, f"-XX:ArchiveClassesAtExit={CDS}") + [
            "--workload", "olap", "--sf-dir", corpus_dir(), "--cpus", str(cpus()),
            "--only", "", "--out", str(tmp / "record.json")], timeout=240, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if res.returncode != 0 or not CDS.exists():
        log("no class-data archive; runs start without it")
        CDS.unlink(missing_ok=True)


def harness_cmd(cp, tmp, *jvm_flags):
    cds = [f"-XX:SharedArchiveFile={CDS}"] if CDS.exists() else []
    return ["java", *JVM_OPTS, *cds, *jvm_flags, f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Harness"]


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on
    timeout, and always wait for it."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out)


# ----------------------------------------------------------------- runs

def corpus_dir():
    """The sf0.1 corpus: $SPARK_GRAFT_SF_DIR, else the sf0.1 directory
    that TESTDATA.md documents."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", (ROOT / "TESTDATA.md").read_text())
        d = m.group(1) if m else ""
    d = d.rstrip("/")
    if not Path(d, "region.parquet").is_file():
        raise SystemExit(f"perfbench: sf0.1 corpus not found at '{d}'")
    return d


def calibration_probe():
    """Fixed single-thread CPU loop (seconds): a throttled window shows
    up here beside the numbers. A diagnostic, not a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def one_run(cp, workload, seed, trace, rows, passes=PASSES):
    """One JVM, `passes` passes, in a fresh tmpdir that is removed
    afterwards."""
    WORK.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    try:
        out = tmp / "record.json"
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
        cmd = harness_cmd(cp, tmp) + [
            "--workload", workload, "--seed", str(seed), "--sf-dir", corpus_dir(),
            "--cpus", str(cpus()), "--trace", "1" if trace else "0",
            "--passes", str(passes), "--out", str(out)]
        if rows is not None:
            cmd += ["--only", ",".join(rows)]
        res = run_bounded(cmd, timeout=JVM_TIMEOUT_S if rows else FULL_TIMEOUT_S,
                          cwd=tmp, env=env)
        if res.returncode != 0 or not out.exists():
            sys.stderr.write(res.stdout[-4000:])
            raise SystemExit(f"perfbench: harness exited with {res.returncode}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cpus():
    """Executor threads: one fewer than the CPUs this process may use, so
    the JIT compiler, GC and driver threads have a CPU of their own
    instead of preempting tasks."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n - 1)


# -------------------------------------------------------------- metrics

def latency(r):
    return r["build_s"] + r["action_s"]


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when no such percentile lies above
    the median (22 samples or fewer)."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - 11 if n - 11 > n // 2 else n - 1
    return v[k], 100.0 * (k + 1) / n, n


def check(record, expected):
    """Rows that threw or returned a count other than the expected one,
    in any pass."""
    bad = []
    for r in (r for p in record["passes"] for r in p["rows"]):
        exp = expected.get(r["name"])
        if r["error"] or exp is None or r["count"] != exp["count"]:
            bad.append((r["name"], r["count"], exp and exp["count"], r["error"]))
    return bad


def unstolen(seconds, ticks):
    """`seconds` less the share of it the hypervisor stole: `ticks` are
    the machine's [stolen, busy including stolen] CPU ticks over the
    interval. The work ran on the busy CPUs, so it lost that share of
    its time; 0 stolen (bare metal, a quiet host) leaves it unchanged."""
    stolen, busy = ticks
    return seconds * (1.0 - stolen / busy) if busy > 0 else seconds


def stolen_frac(rows):
    """Share of the busy CPU ticks the hypervisor stole over `rows`."""
    stolen, busy = (sum(r["ticks"][k] for r in rows) for k in (0, 1))
    return stolen / busy if busy > 0 else 0.0


def end_to_end(record, passes):
    """The end-to-end metrics over `passes`, and the per-row latency
    median and tail, which the run record keeps as diagnostics: over the
    few rows a run times, the order the seed picks moves them by more
    than any bound."""
    lat = [statistics.fmean(unstolen(latency(p["rows"][i]), p["rows"][i]["ticks"])
                            for p in passes)
           for i in range(len(passes[0]["rows"]))]
    t, pct, n = tail(lat)
    return {
        "wall_s": sum(lat),
        "cpu_s": statistics.fmean(p["cpu_s"] for p in passes),
        "setup_s": statistics.median(map(unstolen, record["setup_s"], record["setup_ticks"])),
        "peak_rss_mb": record["vm_hwm_mb"],
    }, {"query_p50_s": statistics.median(lat), "query_tail_s": t,
        "tail_percentile": pct, "n": n}


def union(intervals):
    """Merged, sorted intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals):
    return sum(e - s for s, e in union(intervals))


def minus(a, b):
    """Length of union(a) not covered by union(b)."""
    return covered(a) - covered(
        [(max(s1, s2), min(e1, e2)) for s1, e1 in union(a) for s2, e2 in union(b)])


def iso_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def per_layer(record):
    """Per-row and per-workload layer metrics plus the span list, from
    the run's last pass, the traced one."""
    t = record["trace"]
    record = dict(record["passes"][-1], jvm_start_ms=record["jvm_start_ms"],
                  trace_quiet=record["trace_quiet"])
    rows = record["rows"]
    row_of_tag = {f"{ROW_TAG}{r['index']}": r["name"] for r in rows}

    def row_of(tags):
        return next((row_of_tag[g] for g in tags or () if g in row_of_tag), None)

    def step_of(tags):
        return "action" if "perfbench.action" in (tags or ()) else "build"

    jobs, ends = {}, {}
    for e in t["jobs"]:
        if e["event"] == "start":
            jobs[e["job"]] = dict(e, row=row_of(e["tags"]))
        else:
            ends[e["job"]] = e
    for j in jobs.values():
        j["end_ms"] = ends.get(j["job"], j)["time_ms"]

    submits = {}
    stages = []
    for e in t["stages"]:
        key = (e["stage"], e["attempt"])
        if e["event"] == "submit":
            submits[key] = e
        elif key in submits:
            stages.append(dict(submits[key], **e, submit_ms=submits[key]["time_ms"],
                               row=row_of(submits[key]["tags"])))
    failed = {(f["stage"], f["attempt"]): f["count"] for f in t["failed_tasks"]}

    # the job that ran a stage: the latest-started job listing it that
    # was running when the stage was submitted
    by_stage = {}
    for j in sorted(jobs.values(), key=lambda j: j["time_ms"]):
        for s in j["stage_ids"]:
            by_stage.setdefault(s, []).append(j)
    ran = {}
    for s in stages:
        cands = [j for j in by_stage.get(s["stage"], ())
                 if j["time_ms"] <= s["submit_ms"] <= j["end_ms"]]
        s["job"] = cands[-1]["job"] if cands else None
        if s["job"] is not None:
            ran.setdefault(s["job"], set()).add(s["stage"])

    exec_tags = {e["execution_id"]: e["tags"] for e in t["executions"]}
    plans = [dict(p, row=row_of(exec_tags.get(p["execution_id"])))
             for p in t["plans"]]

    run_row = {}
    for j in jobs.values():
        m = re.search(r"runId = ([0-9a-f-]+)", j.get("description") or "")
        if m and j["row"]:
            run_row.setdefault(m.group(1), j["row"])
    batches = []
    for b in t["batches"]:
        d = b["duration_ms"]
        start = iso_ms(b["timestamp"])
        batches.append(dict(b, row=run_row.get(b["run_id"]), start_ms=start,
                            end_ms=start + d.get("triggerExecution", 0)))

    # engine phases: consecutive jobs of one row under one `graft:` label
    phases = []
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        d = j.get("description") or ""
        label = d[len("graft: "):] if d.startswith("graft: ") else None
        if label is None:
            continue
        p = phases[-1] if phases else None
        if p and p["label"] == label and p["row"] == j["row"] and p["last"] == j["job"] - 1:
            p["end_ms"], p["last"], p["jobs"] = max(p["end_ms"], j["end_ms"]), j["job"], p["jobs"] + 1
        else:
            phases.append({"label": label, "row": j["row"], "start_ms": j["time_ms"],
                           "end_ms": j["end_ms"], "last": j["job"], "jobs": 1})

    per_row = {}
    spans = [{"id": "pass", "parent": "run", "kind": "pass",
              "start_ms": record["pass_start_ms"], "end_ms": record["pass_end_ms"]},
             {"id": "run", "parent": None, "kind": "run",
              "start_ms": record["jvm_start_ms"], "end_ms": record["pass_end_ms"]}]
    built = record["builds"]
    for r in rows:
        name, i = r["name"], r["index"]
        start = r["start_ms"]
        mid = start + r["build_s"] * 1000.0
        end = start + latency(r) * 1000.0
        rj = [j for j in jobs.values() if j["row"] == name]
        rs = [s for s in stages if s["row"] == name]
        rp = [p for p in plans if p["row"] == name]
        rb = [b for b in batches if b["row"] == name]
        rph = [p for p in phases if p["row"] == name]
        job_iv = [(max(j["time_ms"], start), min(j["end_ms"], end)) for j in rj]
        phase_iv = [(p["start_ms"], p["end_ms"]) for p in rph]
        batch_iv = [(b["start_ms"], b["end_ms"]) for b in rb]
        plan_s = sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"] for p in rp) / 1e3
        exec_s = covered(job_iv) / 1e3
        arts = built.get(name, [])
        m = {
            "latency_s": latency(r),
            "operators.build_s": r["build_s"],
            "operators.action_s": r["action_s"],
            "operators.self_s": max(0.0, latency(r) - covered(job_iv + phase_iv + batch_iv) / 1e3 - plan_s),
            "plans.executions": len(rp),
            "plans.analysis_s": sum(p["analysis_ms"] for p in rp) / 1e3,
            "plans.optimization_s": sum(p["optimization_ms"] for p in rp) / 1e3,
            "plans.planning_s": sum(p["planning_ms"] for p in rp) / 1e3,
            "exec.jobs": len(rj),
            "exec.stages": len(rs),
            "exec.stages_skipped": sum(len(j["stage_ids"]) - len(ran.get(j["job"], ())) for j in rj),
            "exec.tasks": sum(s["tasks"] for s in rs),
            "exec.tasks_failed": sum(failed.get((s["stage"], s["attempt"]), 0) for s in rs),
            "exec.run_s": sum(s["run_ms"] for s in rs) / 1e3,
            "exec.cpu_s": sum(s["cpu_ns"] for s in rs) / 1e9,
            "exec.gc_s": sum(s["gc_ms"] for s in rs) / 1e3,
            "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in rs) / MB,
            "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in rs) / MB,
            "exec.spill_mb": sum(s["spill_disk_b"] for s in rs) / MB,
            "exec.input_mb": sum(s["input_b"] for s in rs) / MB,
            "exec.driver_only_s": latency(r) - exec_s,
            "exec.self_s": exec_s,
            "sources.phase_s": sum(p["end_ms"] - p["start_ms"] for p in rph) / 1e3,
            "sources.phase_jobs": sum(p["jobs"] for p in rph),
            **{f"sources.phase.{k}_s": sum(p["end_ms"] - p["start_ms"] for p in rph
                                           if p["label"] == label) / 1e3
               for label, k in PHASES.items()},
            "sources.output_mb": sum(s["output_b"] for s in rs) / MB,
            "sources.output_rows": sum(s["output_rows"] for s in rs),
            "sources.self_s": minus(phase_iv, job_iv) / 1e3,
            "streaming.batches": len(rb),
            "streaming.empty_batches": sum(1 for b in rb if b["input_rows"] == 0),
            "streaming.add_batch_s": sum(b["duration_ms"].get("addBatch", 0) for b in rb) / 1e3,
            "streaming.query_planning_s": sum(b["duration_ms"].get("queryPlanning", 0) for b in rb) / 1e3,
            "streaming.wal_commit_s": sum(b["duration_ms"].get("walCommit", 0) for b in rb) / 1e3,
            "streaming.offsets_s": sum(b["duration_ms"].get(k, 0) for b in rb for k in
                                       ("latestOffset", "getOffset", "getBatch",
                                        "setOffsetRange", "commitOffsets")) / 1e3,
            "streaming.input_rows": sum(b["input_rows"] for b in rb),
            "streaming.state_rows": sum(last_state(rb).values()),
            "streaming.self_s": minus(batch_iv, job_iv + phase_iv) / 1e3,
            "memo.builds": sum(1 for a in arts if a.startswith("memo:")),
            "staged.builds": sum(1 for a in arts if not a.startswith("memo:")),
            "trace.stray_jobs": sum(1 for j in rj if not start <= j["time_ms"] <= end),
        }
        per_row[name] = m
        rid = f"row{i}"
        spans += [{"id": rid, "parent": "pass", "kind": "row", "row": name,
                   "start_ms": start, "end_ms": end},
                  {"id": f"{rid}.build", "parent": rid, "kind": "build", "row": name,
                   "start_ms": start, "end_ms": mid},
                  {"id": f"{rid}.action", "parent": rid, "kind": "action", "row": name,
                   "start_ms": mid, "end_ms": end}]
        spans += [{"id": f"job{j['job']}", "parent": f"{rid}.{step_of(j['tags'])}",
                   "kind": "job", "row": name, "start_ms": j["time_ms"],
                   "end_ms": j["end_ms"], "description": j.get("description")} for j in rj]
        spans += [{"id": f"stage{s['stage']}.{s['attempt']}",
                   "parent": f"job{s['job']}" if s["job"] is not None else rid,
                   "kind": "stage", "row": name, "start_ms": s["submit_ms"],
                   "end_ms": s["time_ms"], "tasks": s["tasks"]} for s in rs]
        spans += [{"id": f"batch.{b['run_id']}.{b['batch']}", "parent": rid,
                   "kind": "batch", "row": name, "start_ms": b["start_ms"],
                   "end_ms": b["end_ms"], "input_rows": b["input_rows"]} for b in rb]
        spans += [{"id": f"{rid}.phase{k}", "parent": rid, "kind": "phase",
                   "row": name, "label": p["label"], "start_ms": p["start_ms"],
                   "end_ms": p["end_ms"], "jobs": p["jobs"]} for k, p in enumerate(rph)]

    def total(key):
        return sum(m[key] for m in per_row.values())

    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches if b["row"]]
    built_rows = [m["latency_s"] for n, m in per_row.items() if built.get(n)]
    summary = {k: total(k) for k in next(iter(per_row.values())) if k != "latency_s"}
    out_mb, out_rows = summary["sources.output_mb"], summary["sources.output_rows"]
    summary.update({
        "sources.bytes_per_row": out_mb * MB / out_rows if out_rows else 0.0,
        "streaming.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.batch_tail_ms": tail(trig)[0],
        "memo.build_rows_s": sum(built_rows),
        "memo.ride_rows_s": total("latency_s") - sum(built_rows),
        "staged.disk_mb": record["staged_disk_mb"],
        "jvm.gc_s": record["gc_s"],
        "jvm.heap_peak_mb": record["heap_peak_mb"],
        "trace.untagged_jobs": sum(
            1 for j in jobs.values() if j["row"] is None
            and record["pass_start_ms"] <= j["time_ms"] <= record["pass_end_ms"]),
    })
    extra = {
        "unlabelled_phases": sorted({p["label"] for p in phases} - set(PHASES)),
        "phases_fired": sorted({p["label"] for p in phases}),
        "plans_unattributed": sum(1 for p in plans if p["row"] is None),
        "batches_unattributed": sum(1 for b in batches if b["row"] is None),
        "trace_quiet": record["trace_quiet"],
    }
    return summary, per_row, spans, extra


def last_state(batches):
    """State rows held by each streaming query after its last batch."""
    last = {}
    for b in sorted(batches, key=lambda b: b["batch"]):
        last[b["run_id"]] = b["state_rows"]
    return last


# ----------------------------------------------------------------- main

def untraced_walls(workload, rows):
    """wall_s of the untraced runs of this workload recorded so far."""
    walls = []
    for f in (WORK / "records").glob(f"{workload}-{rows}-seed*-trace0.json"):
        walls.append(json.loads(f.read_text())["end_to_end"]["wall_s"])
    return walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20,
                    help="nominal pass length; the timed rows are sized to it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", choices=("timed", "full"), default="timed",
                    help="'full' runs every row of the workload")
    ap.add_argument("--passes", type=int, default=PASSES,
                    help="passes per run, each on a fresh session")
    args = ap.parse_args()
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    # a terminated run still stops its JVM (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: engine sources not found beside perfbench/")
    cp = build()
    rows = WORKLOADS[args.workload] if args.rows == "timed" else None
    expected = json.loads((HERE / "expected.json").read_text())
    record_dir = WORK / "records"
    record_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-{args.rows}-seed{args.seed}-trace{args.trace}"

    probe0 = calibration_probe()
    record = one_run(cp, args.workload, args.seed, bool(args.trace), rows, args.passes)
    probe1 = calibration_probe()
    passes = record["passes"]
    runs = [record]
    if args.trace:
        # overhead is measured against the median untraced wall_s; with
        # fewer than three untraced runs on record, make one now
        walls = untraced_walls(args.workload, args.rows)
        if len(walls) < 3:
            runs.append(one_run(cp, args.workload, args.seed, False, rows, args.passes))
            walls = [end_to_end(runs[-1], runs[-1]["passes"])[0]["wall_s"]]

    bad = [b for r in runs for b in check(r, expected)]
    for name, got, exp, err in bad:
        log(f"FAIL {name}: count {got}, expected {exp}{', ' + err if err else ''}")
    attempted = sum(len(p["rows"]) for r in runs for p in r["passes"])
    e2e, latency_info = end_to_end(record, passes)
    first = passes[0]
    run_record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "rows": args.rows, "passes": len(passes),
        "traced": bool(args.trace),
        "calibration_probe_s": [probe0, probe1],
        "row_starts": [{"name": r["name"], "start_ms": r["start_ms"],
                        "offset_s": (r["start_ms"] - first["pass_start_ms"]) / 1e3}
                       for r in first["rows"]],
        "row_latency_s": {r["name"]: [latency(p["rows"][i]) for p in passes]
                          for i, r in enumerate(first["rows"])},
        "pass_wall_s": [sum(latency(r) for r in p["rows"]) for p in passes],
        "pass_stolen_frac": [stolen_frac(p["rows"]) for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
        "end_to_end": e2e,
        "query_latency": latency_info,
        "setup_samples_s": record["setup_s"],
        "fail_frac": len(bad) / attempted,
        "failures": bad,
    }
    if args.trace:
        summary, per_row, spans, extra = per_layer(record)
        summary["trace.overhead_frac"] = e2e["wall_s"] / statistics.median(walls) - 1.0
        extra["overhead_base_runs"] = len(walls)
        run_record.update(per_layer=summary, trace_checks=extra, per_row=per_row)
        (record_dir / f"{stem}.spans.json").write_text(json.dumps(spans))
        metrics = summary
        log(f"trace: {len(spans)} spans, untagged jobs {summary['trace.untagged_jobs']}, "
            f"overhead {summary['trace.overhead_frac']:+.3f}, checks {extra}")
    else:
        metrics = e2e
    (record_dir / f"{stem}.json").write_text(json.dumps(run_record, indent=1))
    log(f"{args.workload} seed {args.seed} trace {args.trace}: " + ", ".join(
        f"{k}={v:.3f}" for k, v in e2e.items()) +
        f"; raw passes {' '.join(f'{w:.2f}' for w in run_record['pass_wall_s'])} s"
        f" ({' '.join(f'{f:.0%}' for f in run_record['pass_stolen_frac'])} stolen)"
        f"; probe {probe0:.3f}/{probe1:.3f} s")
    units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer")
             for m in json.loads((ROOT / "BENCHMARK.json").read_text())[key]}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
