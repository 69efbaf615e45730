#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload patron_poll --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 2 --trace 0 --size tiny

The first run compiles the engine and the harness with sbt (see
perfbench/build.sbt); later runs reuse the build until a source file
changes. Each run regenerates its inputs from --seed into a fresh
directory under .perfbench/runs/, measures for --seconds, checks the
outputs (record counts, Avro decoding, a bcrypt-verified sample, cross-pass
result checksums and the DuckDB oracles), prints a readable summary and,
as its last line, {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see perfbench/METRICS.md). It exits non-zero when a check
fails or the run cannot complete.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
WORKLOADS = ("patron_poll", "corpus_dedup")

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for base, dirs, names in os.walk(d):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def wait_group(cmd, cwd, out, deadline, what):
    """Run cmd in its own process group; kill the whole group at the
    deadline, and always wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} exceeded its time limit (log: {out.name})")


def build(deadline):
    """Compile with sbt when sources changed; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = wait_group(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                        BENCH, out, deadline, "build")
    with open(log) as f:
        lines = [ln.strip() for ln in f]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if rc != 0 or not cps:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def heap_mb():
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return min(2048, total_kb // 1024 // 4)


def run_jvm(classpath, args, run_dir, deadline):
    heap = heap_mb()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(run_dir, "jvm.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + classpath + "\n")
    # a fixed heap size keeps heap resizing out of the peak RSS
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            f"-Dperfbench.data={os.path.join(BENCH, 'data')}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), args.size, run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = wait_group(cmd, run_dir, log, deadline, "run")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        fail(f"JVM exited with {rc} (log: {run_dir}/jvm.log)")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_checks(result):
    """Compare saved query results with DuckDB on the same generated inputs,
    the engine's t2 convention: same columns, rows and exact values."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c], utc=True).dt.tz_localize(None)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{result['inputs_dir']}/documents.parquet/*.parquet')")
    checks = []
    for name, sql in sorted(result["oracle_sql"].items()):
        try:
            files = sorted(glob.glob(f"{result['results_dir']}/{name}/*.parquet"))
            got = canon(pd.concat([pd.read_parquet(p) for p in files], ignore_index=True))
            exp = canon(con.sql(sql).df())
            if list(got.columns) != list(exp.columns):
                raise AssertionError(f"columns {list(got.columns)} vs {list(exp.columns)}")
            if len(got) != len(exp):
                raise AssertionError(f"rows {len(got)} vs {len(exp)}")
            pd.testing.assert_frame_equal(got, exp, check_dtype=True, check_exact=True)
            checks.append({"name": f"oracle:{name}", "ok": True, "detail": f"{len(got)} rows"})
        except Exception as e:  # any mismatch or error is a failed check
            checks.append({"name": f"oracle:{name}", "ok": False,
                           "detail": f"{type(e).__name__}: {str(e)[:300]}"})
    return checks


# What each end-to-end metric measures, per workload, for the summary.
MEANING = {
    "patron_poll": {"wall_s": "backfill_s", "op_p50_s": "tick_p50_s"},
    "corpus_dedup": {"wall_s": "pass_s", "op_p50_s": "query_p50_s"},
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: 200 patrons and 100 documents derived from sf0.001")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources are not next to perfbench/; nothing to build")
    # the first run in a checkout compiles, which may take much longer
    first_build = not os.path.exists(os.path.join(STATE, "classpath.txt"))
    classpath = build(time.time() + 690 if first_build else deadline)
    if first_build:
        deadline = time.time() + DEADLINE_S

    runs = os.path.join(STATE, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(run_dir)
    result = run_jvm(classpath, args, run_dir, deadline)
    checks = result["checks"]
    if result.get("oracle_sql"):
        checks += oracle_checks(result)
    result["checks"] = checks
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)

    failed_checks = [c for c in checks if not c["ok"]]
    correct = not failed_checks and result["failed"] == 0
    e2e = result["end_to_end"]
    layers = result["per_layer"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"size={args.size} env={json.dumps(result['env'])}")
    def show(v):  # a metric of a failed operation is null
        return "n/a" if v is None else f"{v:.6g}"
    for name, m in e2e.items():
        alias = MEANING[args.workload].get(name)
        label = f"{name} ({alias})" if alias else name
        print(f"  {label} = {show(m['value'])} {m['unit']}")
    if "patrons_per_s" in result:
        print(f"  patrons_per_s = {show(result['patrons_per_s'])} 1/s "
              f"({result['backfill_records']} backfill records / wall_s)")
    print(f"  failed_ratio = {result['failed'] / result['attempted']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} operations)")
    if args.trace:
        for name, m in layers.items():
            print(f"  {name} = {show(m['value'])} {m['unit']}")
    print(f"  checks: {len(checks) - len(failed_checks)} of {len(checks)} passed")
    for c in failed_checks[:20]:
        print(f"  FAILED {c['name']}: {c['detail']}")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": layers if args.trace else e2e,
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
