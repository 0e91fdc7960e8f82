#!/usr/bin/env python3
"""graft benchmark runner: builds the engine and the harness from source,
runs one workload in one JVM, checks it, and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

The last line of stdout is {"correct", "attempted", "failed", "metrics"};
the line before it records provenance. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics of a traced run. See README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "harness"
WORKLOADS = ["lookup", "ingest_mutate", "gate_mix"]
RUN_LIMIT_S = 170  # one run, build excluded
BUILD_LIMIT_S = 850
HEAP = ["-Xms3g", "-Xmx3g"]
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "throughput_qps": "1/s", "storage_amp": "ratio",
}
PER_LAYER = {
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "scan.files_live": "count", "scan.files_planned": "count", "scan.pruned_frac": "frac",
    "scan.row_path_frac": "frac", "scan.records_read": "count", "scan.bytes_read": "bytes",
    "scan.records_per_row_out": "ratio",
    "exec.job_ms": "ms", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.exchanges": "count",
    "driver.ms": "ms",
    "commit.files_added": "count", "commit.files_removed": "count",
    "commit.bytes_written": "bytes", "commit.write_amp": "ratio",
    "commit.driver_ms": "ms", "commit.job_ms": "ms", "commit.snapshots": "count",
    "maint.ms": "ms", "maint.bytes_rewritten": "bytes",
    "maint.files_before": "count", "maint.files_after": "count",
    "gate.q51_ms": "ms",
    "gate.q161_ms": "ms", "gate.q179_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "setup.files_written": "count", "setup.bytes_written": "bytes",
    "trace.overhead_ms": "ms",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def corpus_dir(arg):
    """The sf0.1 corpus: --sf-dir, else the location TESTDATA.md documents."""
    if arg:
        return Path(arg)
    doc = ROOT / "TESTDATA.md"
    if doc.exists():
        for line in doc.read_text().splitlines():
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return Path(cells[2])
    fail("no corpus: pass --sf-dir or provide TESTDATA.md")


def source_digest():
    """Digest of everything the build reads: the engine and the harness."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.*"))
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    files += sorted((HARNESS / "src").rglob("*"))
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(out_dir, digest):
    """Compiles engine and harness with sbt once per source digest and
    returns the runtime classpath."""
    cp_file, stamp = out_dir / "classpath.txt", out_dir / "stamp"
    if stamp.exists() and stamp.read_text() == digest and cp_file.exists():
        return cp_file.read_text().strip()
    out_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = out_dir / "build.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             cwd=HARNESS, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        rc = wait(p, BUILD_LIMIT_S)
    lines = [l for l in log.read_text().splitlines() if l and not l.startswith("[")]
    if rc != 0 or not lines or "perfbench" not in lines[-1] and ".jar" not in lines[-1]:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc})")
    cp = ":".join(dict.fromkeys(lines[-1].strip().split(":")))  # first of duplicates wins
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def wait(p, limit):
    """Waits for a child started in its own session; kills its whole group
    when `limit` seconds pass or the wait is interrupted."""
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def on_signal(signum, _frame):
    """Turns SIGTERM/SIGINT into an exit that still runs cleanup."""
    sys.exit(128 + signum)


def check_gates(report, cache_dir):
    """Compares each gate's first-pass result with its DuckDB oracle, the
    way scripts/check.py does. An oracle's answer depends only on its SQL
    and the corpus, so it is computed once per checkout and reused.
    Returns (failed gates, notes)."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "scripts" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf = Path(report["sf_dir"])
    corpus = [(t, sf / f"{t}.parquet") for t in check.TABLES if (sf / f"{t}.parquet").exists()]
    stamp = "".join(f"{t}:{p.stat().st_size}:{p.stat().st_mtime_ns};" for t, p in corpus)
    con = None
    bad, notes = [], []
    for name, sql in sorted(report.get("oracle", {}).items()):
        files = sorted(Path(report["gate_dir"], name).glob("*.parquet"))
        if not files:
            bad.append(name); notes.append(f"{name}: no output"); continue
        cols, _, rows = check.table_rows(pa.concat_tables([pq.read_table(f) for f in files]))
        got = [cols, list(map(repr, rows))]
        key = hashlib.sha256((stamp + sql).encode()).hexdigest()[:20]
        cached = cache_dir / f"oracle-{key}.json"
        if cached.exists():
            exp = json.loads(cached.read_text())
        else:
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t, p in corpus:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            ecols, _, erows = check.table_rows(con.sql(sql).arrow())
            exp = [ecols, list(map(repr, erows))]
            cache_dir.mkdir(parents=True, exist_ok=True)
            cached.write_text(json.dumps(exp))
        if got != exp:
            bad.append(name); notes.append(f"{name}: differs from its oracle")
    return bad, notes


def main():
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=None, help="corpus directory (default: sf0.1)")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    sf = corpus_dir(a.sf_dir)
    if not all((sf / f"{t}.parquet").is_file() for t in ("orders", "lineitem", "documents")):
        fail(f"corpus {sf} is missing")

    out_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    digest = source_digest()
    cp = build(out_dir, digest)

    t_start = time.time()
    cpus = min(4, os.cpu_count() or 1)
    runs = ROOT / ".bench_runs"
    run_dir = runs / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # a per-run alias of the corpus: gates derive their warehouse from the
    # corpus path, so each run gets its own
    alias = run_dir / "sf"
    alias.symlink_to(sf.resolve(), target_is_directory=True)
    report_file = run_dir / "report.json"
    jvm_log = run_dir / "jvm.log"
    cmd = ["java", *OPENS, *HEAP, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC", "-cp", cp, "perfbench.Harness",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), str(run_dir), str(alias),
           str(cpus), str(report_file), str(out_dir / "cache")]
    report, rc = {}, None
    try:
        with open(jvm_log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            rc = wait(p, RUN_LIMIT_S - (time.time() - t_start))
        if report_file.exists():
            report = json.loads(report_file.read_text() or "{}")
        if rc != 0 or "end_to_end" not in report:
            sys.stderr.write(jvm_log.read_text()[-6000:])
            fail(f"harness failed (exit {rc})")
        report["sf_dir"] = str(alias)
        failed = int(report["failed"])
        notes = list(report.get("notes", []))
        if a.workload == "gate_mix":
            bad, more = check_gates(report, out_dir / "cache")
            notes += more
            if bad:  # every pass ran every gate, so every pass failed
                failed = int(report["attempted"])
        spans = run_dir / "spans.json"
        if spans.exists():
            trace_dir = ROOT / ".bench_out"
            trace_dir.mkdir(exist_ok=True)
            shutil.move(str(spans), trace_dir / f"trace-{a.workload}-{a.seed}.json")
    finally:
        warehouses = run_dir / "gate_warehouses.txt"
        if warehouses.exists():
            for w in warehouses.read_text().split():
                shutil.rmtree(w, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        if runs.exists() and not any(runs.iterdir()):
            runs.rmdir()

    values = report["layers"] if a.trace else report["end_to_end"]
    units = PER_LAYER if a.trace else END_TO_END
    missing = [m for m in units if m not in values]
    if missing:
        fail(f"metrics missing from the harness report: {missing}")
    lat = report["latencies_ms"]
    provenance = {
        "commit": git_commit(), "source_digest": digest, "nproc": os.cpu_count(),
        "local_n": cpus, "shuffle_partitions": cpus, "heap_flags": HEAP,
        "sf_dir": str(sf), "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "traced": bool(a.trace), "ops": report["ops"],
        "samples": len(lat), "latencies_ms": [round(x, 3) for x in lat],
        "warmup_ops": report["warmup_ops"],
        "warmup_levelled": report["warmup_levelled"],
        "warmup_batch_p50_ms": [round(x, 3) for x in report["warmup_batch_p50_ms"]],
        "window_s": report["window_s"],
        "session_s": report.get("session_s"), "phases_s": report.get("phases_s"),
        "fast_local_fs": report.get("fast_local_fs"), "notes": notes,
    }
    if a.trace:
        provenance["traced_latencies_ms"] = [round(x, 3) for x in report["traced_latencies_ms"]]
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": failed == 0, "attempted": int(report["attempted"]), "failed": failed,
        "metrics": {m: {"value": float(values[m]), "unit": u} for m, u in units.items()},
    }))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


if __name__ == "__main__":
    main()
