#!/usr/bin/env python3
"""graft benchmark: build the library and harness from source, run one
workload, check its results, and print its metrics.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --report [--seconds 20] [--seed 1]
    python3 perfbench/run.py --pin

The first form prints a readable summary and, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones in BENCHMARK.json; with --trace 1 they are
the per-layer ones. --report runs every workload untraced and traced and
prints every metric with its unit plus the tracing overhead. --pin re-checks
the workload keys against DuckDB with scripts/oracle_check.py and rewrites
perfbench/digests.json. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics as M  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
DATA = BENCH / "data"
WORK = ROOT / "target" / "perfbench"
DIGESTS = BENCH / "digests.json"
CONF = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else {}

WORKLOADS = ("iterative", "ingest")
JVM_TIMEOUT_S = 170
# a fixed heap: peak RSS then reflects the run, not heap-resizing heuristics
JVM_HEAP = ["-Xms1g", "-Xmx1g"]
# the optimising JIT (C2) compiles a method after about a third of its
# default call and loop counts, so the library's hot code reaches its steady
# speed within the set-up instead of drifting down through the timed passes
JVM_JIT = ["-XX:Tier4InvocationThreshold=1500", "-XX:Tier4MinInvocationThreshold=200",
           "-XX:Tier4CompileThreshold=2000", "-XX:Tier4BackEdgeThreshold=15000"]
# served results after the last epoch must equal these batch keys
INGEST_BATCH = {"bm25": "text_bm25", "centroid": "emb_centroid_by_label"}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- build

def _source_stamp():
    """Size and mtime of every source file the build reads."""
    parts = []
    for base in (ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
                 HARNESS / "build.sbt", HARNESS / "project", HARNESS / "src"):
        paths = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in paths:
            st = p.stat()
            parts.append(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def build():
    """Compiles the library and the harness with sbt (offline) unless the
    sources are unchanged since the last build; returns the classpath."""
    if not (ROOT / "build.sbt").exists() or \
            not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        raise SystemExit("perfbench: the graft sources (build.sbt, src/main) "
                         "are not in this checkout; nothing to benchmark")
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    stamp = _source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path(os.path.expanduser("~/.sbt/repositories"))
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building graft and the harness with sbt ...")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = r.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and "graft-perfbench" not in l
          and os.pathsep in l and ".jar" in l]
    if r.returncode != 0 or not cp:
        log("\n".join(lines[-40:]))
        raise SystemExit(f"perfbench: build failed (sbt exit {r.returncode})")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp[-1]


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, seed, seconds, trace, keys=None):
    """Runs the harness once; returns (record, peak RSS in MB, work dir)."""
    work = WORK / f"run-{os.getpid()}-{workload}-{seed}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "record.json"
    cmd = ["java", *[a for p in ADD_OPENS for a in
                     ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           *JVM_HEAP, *JVM_JIT, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--data", str(DATA), "--work", str(work), "--out", str(out),
           "--cores", str(cores())]
    if keys:
        cmd += ["--keys", ",".join(keys)]
    with open(work / "jvm.log", "w") as errlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=errlog,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        timer = threading.Timer(
            JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        log("\n".join(tail))
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    peak_mb = usage.ru_maxrss / 1024.0  # Linux reports KiB
    return json.loads(out.read_text()), peak_mb, work


def check(record):
    """Correctness of the warm-up results against the pinned digests.
    Returns (checks attempted, list of failures)."""
    pinned = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    rows = Path(record["rows_dir"])

    def dig(name):
        p = rows / f"{name}.jsonl"
        return M.digest(p.read_text()) if p.exists() else None

    failures = list(record["warm_failures"])
    attempted = 0
    if record["workload"] == "ingest":
        for st in INGEST_BATCH:
            pre, post = dig(f"ingest.{st}.pre"), dig(f"ingest.{st}.post")
            want = pinned.get(INGEST_BATCH[st])
            attempted += 2
            if pre is None or pre != post:
                failures.append(f"ingest {st}: serve before compaction {pre} "
                                f"!= after {post}")
            if want is None or pre != want:
                failures.append(f"ingest {st}: served {pre} != batch key "
                                f"{INGEST_BATCH[st]} {want}")
    else:
        for key in sorted({o["name"] for o in record["ops"]}):
            attempted += 1
            got, want = dig(key), pinned.get(key)
            if want is None or got != want:
                failures.append(f"{key}: digest {got} != pinned {want}")
    return attempted, failures


def end_to_end(rec, peak_mb):
    """End-to-end metrics, plus the extra figures the summary prints."""
    lat = [o["s"] for o in rec["ops"]]
    m = {"setup_s": rec["session_s"] + rec["warm_s"],
         "pass_s": M.median(p_["s"] for p_ in rec["passes"]),
         "query_s_p50": M.median(lat),
         "peak_rss_mb": peak_mb}
    # the tail is printed only where a percentile above the median exists
    tail = M.tail_percentile(lat)
    if tail is not None:
        assert tail[0] > 50 and tail[1] >= m["query_s_p50"], tail
    p, tail_s, above = tail or (None, None, None)
    extra = {"query_s_tail": tail_s, "query_s_tail_percentile": p,
             "query_s_tail_samples_above": above,
             "query_s_samples": len(lat), "passes": len(rec["passes"]),
             "probe_before_s": rec["probe_before_s"],
             "probe_after_s": rec["probe_after_s"]}
    if rec["workload"] == "ingest":
        def kind(*ks):
            return [o["s"] for o in rec["ops"] if o["kind"] in ks]
        compact = {}
        for o in rec["ops"]:
            if o["kind"] == "compact":
                compact[o["pass"]] = compact.get(o["pass"], 0.0) + o["s"]
        extra.update({
            "append_s_p50": M.median(kind("append")),
            "serve_s_p50": M.median(kind("serve", "serve_compacted")),
            "compact_s": M.median(compact.values()),
            "store_bytes_per_row": M.median(
                s["bytes_post"] / s["rows"] for s in rec["stores"])})
    return m, extra


def per_layer(rec):
    """Per-layer metrics from a traced record: each is a per-pass total (or
    ratio), reported as the median over the run's passes."""
    cores_ = rec["cores"]
    spans = rec["spans"]
    selfs = M.self_times(spans)
    pass_spans = {s["pass"]: s for s in spans if s["name"] == "pass"}
    rows = []
    for p, ps in sorted(pass_spans.items()):
        lo, hi = ps["start"], ps["end"]
        wall = hi - lo
        jobs = [j for j in rec["jobs"] if lo <= j["start"] <= hi]
        qs = [q for q in rec["queries"] if lo <= q["start"] <= hi]
        ops = [o for o in rec["ops"] if o["pass"] == p]
        st = next((s for s in rec["stores"] if s["pass"] == p), None)
        phase = {k: [(s["start"], s["end"]) for s in spans
                     if s["pass"] == p and s["name"] == k]
                 for k in ("build", "action")}

        def jobs_in(k):
            return sum(1 for j in jobs
                       if any(a <= j["start"] <= b for a, b in phase[k]))

        def tot(k):
            return sum(j[k] for j in jobs)

        def opsum(*kinds):
            return sum(o["s"] for o in ops if o["kind"] in kinds)

        build_s = sum(o["build_s"] for o in ops)
        action_s = sum(o["action_s"] for o in ops)
        ckpt = [j for j in jobs if j["ckpt"]]
        row = {
            "ops.build_s": build_s, "ops.action_s": action_s,
            "ops.build_jobs": jobs_in("build"), "ops.action_jobs": jobs_in("action"),
            "ckpt.jobs": len(ckpt), "ckpt.s": sum(j["end"] - j["start"] for j in ckpt),
            "sched.jobs": len(jobs), "sched.stages": tot("stages_run"),
            "sched.stages_skipped": tot("stages") - tot("stages_run"),
            "sched.tasks": tot("tasks"),
            "sched.driver_gap_s": M.driver_gap(lo, hi, [(j["start"], j["end"]) for j in jobs]),
            "sched.slot_util": tot("run_s") / (wall * cores_) if wall > 0 else 0.0,
            "broadcast.jobs": sum(1 for j in jobs if j["broadcast"]),
            "plan.analysis_ms": sum(q["analysis_ms"] for q in qs),
            "plan.optimize_ms": sum(q["optimize_ms"] for q in qs),
            "plan.physical_ms": sum(q["physical_ms"] for q in qs),
            "plan.nodes": sum(q["nodes"] for q in qs),
            "plan.exchanges": sum(q["exchanges"] for q in qs),
            "tables.bytes_read": tot("bytes_read"),
            "tables.records_read": tot("records_read"),
            "shuffle.write_bytes": tot("shuffle_write_bytes"),
            "shuffle.read_bytes": tot("shuffle_read_bytes"),
            "shuffle.fetch_wait_s": tot("fetch_wait_s"),
            "spill.bytes": tot("spill_bytes"),
            "task.run_s": tot("run_s"), "task.cpu_s": tot("cpu_s"),
            "task.gc_s": tot("gc_s"), "task.sched_delay_s": tot("sched_delay_s"),
            "task.failed": tot("task_failed"),
            "pass.self_s": selfs[ps["id"]],
            "trace.pass_s": wall,
        }
        if st:  # the store layer exists only on ingest
            row.update({
                "store.append_s": opsum("append"),
                "store.serve_s": opsum("serve", "serve_compacted"),
                "store.compact_s": opsum("compact"),
                "store.bytes": st["bytes_post"],
                "store.files": st["files_post"],
                "store.write_amp": st["bytes_pre"] / st["input_bytes"],
                "store.rewrite_bytes": st["rewrite_bytes"]})
        rows.append(row)
    out = {k: M.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    out["session.start_s"] = rec["session_s"]
    out["session.warm_s"] = rec["warm_s"]
    return out


# units of the figures the summary prints beside BENCHMARK.json's metrics
SUMMARY_UNITS = {
    "query_s_tail": "s", "append_s_p50": "s", "serve_s_p50": "s",
    "compact_s": "s", "store_bytes_per_row": "B/row", "fail_ratio": "ratio",
    "probe_before_s": "s", "probe_after_s": "s", "cpu_steal_share": "ratio",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "B", "task.failed": "count",
    "store.append_s": "s", "store.serve_s": "s", "store.compact_s": "s",
    "store.bytes": "B", "store.files": "count", "store.write_amp": "ratio",
    "store.rewrite_bytes": "B"}


def units():
    u = dict(SUMMARY_UNITS)
    u.update({m["name"]: m["unit"]
              for m in CONF.get("end_to_end", []) + CONF.get("per_layer", [])})
    return u


def cpu_times():
    """The machine's cumulative CPU time per state from /proc/stat, or None
    where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def measure(cp, workload, seed, seconds, trace):
    """One run: returns (result line dict, all figures for the summary)."""
    cpu0 = cpu_times()
    rec, peak_mb, work = run_jvm(cp, workload, seed, seconds, trace)
    cpu1 = cpu_times()
    attempted, failures = check(rec)
    failed_ops = [o for o in rec["ops"] if not o["ok"]]
    failures += [f"{o['kind']}:{o['name']} pass {o['pass']}: {o['error']}"
                 for o in failed_ops]
    attempted += len(rec["ops"])
    failed = len(failures)
    e2e, extra = end_to_end(rec, peak_mb)
    figures = dict(e2e, **extra)
    figures["fail_ratio"] = failed / attempted
    figures["cpu_steal_share"] = M.steal_share(cpu0, cpu1)
    names = [m["name"] for m in CONF.get("per_layer" if trace else "end_to_end", [])]
    if trace:
        layer = per_layer(rec)
        figures.update(layer)
        chosen = layer
    else:
        chosen = e2e
    u = units()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": chosen[n], "unit": u[n]} for n in names}}
    for f in failures:
        log(f"perfbench: FAIL {f}")
    shutil.rmtree(work, ignore_errors=True)
    return result, figures


def summary(workload, figures, trace):
    u = units()
    print(f"== {workload} ({'traced' if trace else 'untraced'}, "
          f"local[{cores()}])")
    for k, v in figures.items():
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {k:<34} {shown:>16} {u.get(k, '')}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=CONF.get("run_seconds", 10))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not CONF:
        raise SystemExit("perfbench: BENCHMARK.json is missing")
    cp = build()
    if a.pin:
        import pin
        return pin.pin(cp, run_jvm)
    if a.report:
        for w in WORKLOADS:
            untraced, f0 = measure(cp, w, a.seed, a.seconds, False)
            summary(w, f0, False)
            traced, f1 = measure(cp, w, a.seed, a.seconds, True)
            summary(w, f1, True)
            print(f"  {'tracing overhead (pass_s)':<34} "
                  f"{f1['trace.pass_s'] / f0['pass_s'] - 1:>+16.2%}")
        return 0
    if not a.workload:
        ap.error("--workload is required")
    result, figures = measure(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    summary(a.workload, figures, bool(a.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
