#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) and caches the classpath under
perfbench/.build; later runs reuse it while the sources are unchanged.
Each run works in its own directory under .perfbench_run/, which is
removed at the end; a traced run also keeps its span list under
.perfbench_out/.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. The line before it is the full
report: every metric the workload has, the output-check verdicts and the
tail percentiles used.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORKLOADS = ("bar_daily_cycle", "bar_analytics", "corpus_curation")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# engine build's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    singles = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               HERE / "build.sbt", HERE / "project" / "build.properties"]
    files = [p for p in singles if p.is_file()]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"engine sources not found under {ROOT}; run from the root of a full checkout")
    want = stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S).returncode
    lines = log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc {rc}); log in {log}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(want)
    return cps[-1]


def run_jvm(cp, args, run_dir, out_json):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--dir", str(run_dir), "--out", str(out_json),
            "--size", args.size]
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=str(run_dir / "index"),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not out_json.is_file():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-60:]) + "\n")
        fail(f"benchmark process failed (rc {rc})")
    return json.loads(out_json.read_text())


# ---- DuckDB oracle check, with the compare rules of tools/check_oracle.py:
# columns sorted by name, same row count, same arrow types, equal values
# row by row (NaN equal to NaN).

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def oracle_checks(info):
    import duckdb
    import pyarrow.parquet as pq

    fixture, outputs = Path(info["fixture_dir"]), Path(info["outputs_dir"])
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture / (t + '.parquet')}/*.parquet')")
    checks = []
    for name, sql in sorted(info.get("oracle_sql", {}).items()):
        detail = ""
        try:
            got = pq.read_table(str(outputs / name))
            got = got.select(sorted(got.column_names))
            exp = con.execute(sql).arrow()
            exp = exp.select(sorted(exp.column_names))
            if got.column_names != exp.column_names:
                detail = f"columns {got.column_names} vs {exp.column_names}"
            elif got.num_rows != exp.num_rows:
                detail = f"rows {got.num_rows} vs {exp.num_rows}"
            else:
                for c in got.column_names:
                    if str(got.schema.field(c).type) != str(exp.schema.field(c).type):
                        detail = f"type {c}: {got.schema.field(c).type} vs {exp.schema.field(c).type}"
                        break
                if not detail:
                    for i, (g, e) in enumerate(zip(got.to_pylist(), exp.to_pylist())):
                        bad = [c for c in got.column_names if _norm(g[c]) != _norm(e[c])]
                        if bad:
                            detail = f"row {i} col {bad[0]}: {g[bad[0]]!r} vs {e[bad[0]]!r}"
                            break
        except Exception as ex:  # a failing oracle is a failed check, not a crash
            detail = f"{type(ex).__name__}: {ex}"
        checks.append({"name": f"oracle_{name}", "ok": not detail, "detail": detail or f"{got.num_rows} rows"})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: minimal inputs, for the smoke test")
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = classpath()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        res = run_jvm(cp, args, run_dir, run_dir / "result.json")
        checks = res["checks"]
        if args.workload == "corpus_curation":
            checks += oracle_checks(res["info"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass

    if args.trace:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(
            json.dumps({"spans": res["spans"], "layer": res["layer"], "info": res["info"]}))

    bad_checks = sum(1 for c in checks if not c["ok"])
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + bad_checks
    e2e = dict(res["e2e"])
    e2e["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": e2e, "per_layer": res["layer"],
        "checks": checks, "failures": res["failures"],
        "info": {k: v for k, v in res["info"].items() if k not in ("oracle_sql", "fixture_dir", "outputs_dir")},
    }
    print(json.dumps(report))

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = res["layer"] if args.trace else e2e
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"workload {args.workload} did not report {missing}")
    metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
