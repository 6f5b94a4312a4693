#!/usr/bin/env python3
"""filesqlspark benchmark: one command, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/harness, sbt; the
build is skipped while sources are unchanged), generates the workload's
inputs from the seed (perfbench/gen.py), runs one Spark JVM that drives the
public API in a closed loop over a timed window whose size the seconds set,
then times the builder's open, checks every answer, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, including the tracing overhead. The trace itself is
written to .bench_work/traces/. See perfbench/README.md.
"""
import argparse
import gzip
import csv
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
RUN_LIMIT_S = 175.0
GUARD_WAIT_S = 60.0
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
OTHER_JVM_MARKERS = ("org.apache.spark", "sbt-launch", "xsbt.boot", "perfbench.Main")
CDS_ARCHIVE = "classes.jsa"
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))


# -------------------------------------------------------------- statistics
def percentile(xs, p):
    """Nearest-rank percentile; the 50th is the median."""
    if p == 50:
        return statistics.median(xs)
    s = sorted(xs)
    return s[max(0, math.ceil(round(p / 100 * len(s), 9)) - 1)]


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it: that of
    the eleventh-largest sample. Below twenty samples, the median."""
    return max(50.0, 100.0 * (n - 10) / n) if n else 50.0


def failed_op_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


def tally(result, check_errors):
    """(attempted, failed): operations the JVM ran, warm-up included, and
    those that raised or answered wrong, plus outputs that failed the
    checks made here (dumps, gate oracles). Those outputs come from
    operations already counted as attempted."""
    return result["attempted"], result["failed"] + len(check_errors)


def window(manifest, seconds):
    """Whole cycles of operation kinds a run times: fixed by --seconds and
    the workload's constants in gen.WINDOW, never by the program's speed."""
    n = max(manifest["min_cycles"], round(seconds / manifest["cycle_s"]))
    return min(n, manifest.get("max_cycles", n))


def end_to_end(result, setup_s):
    """End-to-end metrics of an untraced run, over every operation of its
    timed window. Operations/s is a cycle's operations over the median
    cycle wall, so one slow stretch of the run does not set it."""
    ops = [o for o in result["ops"] if not o["traced"]]
    if not ops:
        raise RuntimeError("no operation completed")
    lat = [o["ms"] for o in ops]
    p = tail_percentile(len(lat))
    return {
        "setup_s": (setup_s, "s"),
        "open_s": (statistics.median(result["opens_s"]), "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (percentile(lat, p), "ms"),
        "ops_per_s": (result["cycle"] / statistics.median(result["cycle_s"]), "1/s"),
    }, {"tail_percentile": p, "samples": len(lat)}


# -------------------------------------------------------------- host guard
def other_jvms():
    """Spark or sbt JVMs running beside this process (they skew timings)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            continue
        if args and os.path.basename(args[0].decode(errors="replace")) == "java":
            line = b" ".join(args).decode(errors="replace")
            if any(m in line for m in OTHER_JVM_MARKERS):
                found.append(int(pid))
    return found


def host_guard():
    deadline = time.time() + GUARD_WAIT_S
    while other_jvms():
        if time.time() > deadline:
            sys.exit(f"refusing to run: other Spark/sbt JVMs are running: {other_jvms()}")
        time.sleep(2)


# ------------------------------------------------------------------- build
def source_stamp(root):
    """Digest of every file the build reads, of the Spark jars it compiles
    and runs against, and of the JDK's version: a change to any of them
    rebuilds and records the class data sharing archive again."""
    paths = ["perfbench/harness/build.sbt", "perfbench/harness/project/build.properties"]
    for base in ("src/main", "perfbench/harness/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    for j in sorted(os.listdir(jars)) if os.path.isdir(jars) else []:
        st = os.stat(os.path.join(jars, j))
        h.update(f"{j} {st.st_size} {st.st_mtime_ns}".encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    return h.hexdigest()


def build(root):
    """Compile engine + harness with sbt unless the stamp is unchanged, then
    record a class data sharing archive from one short run: later JVMs map
    the Spark and engine classes from it instead of loading them from the
    jars, which takes 9 to 13 s off each run's set-up on a 4-cpu host.
    Returns the runtime classpath."""
    cp_file = os.path.join(root, BUILD_DIR, "harness", "classpath.txt")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log = os.path.join(root, BUILD_DIR, "build.log")
    with open(log, "wb") as lf:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=os.path.join(root, "perfbench", "harness"), env=env,
                            stdout=lf, stderr=subprocess.STDOUT, timeout=700).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (exit {rc}); see {log}")
    with open(cp_file) as g:
        classpath = g.read()
    archive = os.path.join(root, BUILD_DIR, CDS_ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    work = run_jvm(root, classpath, "point_queries", 0, 1.0, 0,
                   [f"-XX:ArchiveClassesAtExit={archive}"])[-1]
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run_jvm(root, classpath, workload, seed, seconds, trace, jvm_args):
    """Generate the inputs and run the benchmark JVM on them. Returns
    (result, manifest, generation seconds, set-up seconds, work directory):
    set-up is the wall time from the start of generation to the first timed
    operation."""
    started = time.time()
    work = os.path.join(root, WORK_DIR, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # a traced mutate_dump run also replays the pipeline gates
    manifest = gen.generate(workload, seed, work, gates=bool(trace) and workload == "mutate_dump")
    gen_s = time.time() - started
    cmd = (["java", "-Xms2g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"] + list(jvm_args)
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--work", work,
              "--cycles", str(window(manifest, seconds)), "--trace", str(trace),
              "--cpus", str(CPUS)])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch",
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(30.0, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed ({rc}); log kept in {log}")
    with open(res_path) as f:
        result = json.load(f)
    return result, manifest, gen_s, result["setup_end_epoch_s"] - started, work


# ------------------------------------------------------- checks in Python
def _table_sum(rows, amount_col):
    n, ids, total = 0, 0, 0.0
    for r in rows:
        n += 1
        ids += int(r["id"])
        total += float(r[amount_col]) if r[amount_col] not in ("", None) else 0.0
    return gen.canon_rows([(n, ids, total)])[0]


AMOUNT = {"accounts": "balance", "txns": "amount"}


def check_dumps(result, manifest):
    """Each dump must hold the table state the reference reached after the
    same number of steps, in CSV+gzip and in parquet; the XLSX its rows."""
    import duckdb
    errors = []
    for d in result.get("dumps", []):
        want = manifest["steps"][d["step"] - 1]["state"]
        for t, col in AMOUNT.items():
            with gzip.open(os.path.join(d["dir"], "csv", f"{t}.csv.gz"), "rt", newline="") as f:
                got = _table_sum(csv.DictReader(f), col)
            con = duckdb.connect()
            try:
                pq = con.execute(f"SELECT count(*), sum(id), sum({col}) FROM "
                                 f"'{os.path.join(d['dir'], 'parquet', t + '.parquet')}'").fetchall()
            finally:
                con.close()
            for fmt, g in (("csv.gz", got), ("parquet", gen.canon_rows(pq)[0])):
                if g != want[t]:
                    errors.append(f"dump@{d['step']} {t}.{fmt}: {g} != {want[t]}")
        with zipfile.ZipFile(os.path.join(d["dir"], "xlsx", "branches.xlsx")) as z:
            sheet = [n for n in z.namelist() if n.startswith("xl/worksheets/")][0]
            rows = z.read(sheet).decode().count("<row")
        if rows != manifest["xlsx_rows"] + 1:
            errors.append(f"dump@{d['step']} branches.xlsx: {rows} rows")
    return errors


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        return repr(v) if isinstance(v, float) else str(v)
    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def check_gates(result, tables):
    """Each gate's first output against its DuckDB oracle over the same
    parquet tables, `tables` being the manifest's "gates" entry (rows only
    for a gate without oracle SQL)."""
    import duckdb
    import pandas as pd
    errors = []
    for g, info in result.get("gates", {}).items():
        if not info["oracle"]:
            continue
        got = pd.read_parquet(info["dir"])
        con = duckdb.connect()
        try:
            for t in tables["tables"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(tables['input_dir'], t + '.parquet')}'")
            want = con.sql(info["oracle"]).df()
        finally:
            con.close()
        a, b = _norm(got), _norm(want)
        if list(a.columns) != list(b.columns) or len(a) != len(b) or not a.equals(b):
            errors.append(f"{g}: {len(a)} rows vs oracle {len(b)}")
    return errors


# -------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("no engine sources here: run from the root of a filesqlspark checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    host_guard()
    classpath = build(root)
    # -Xshare:on: a missing or rejected archive fails the run rather than
    # slowing it down unnoticed
    share = ["-Xshare:on", f"-XX:SharedArchiveFile={os.path.join(root, BUILD_DIR, CDS_ARCHIVE)}"]
    result, manifest, gen_s, setup_s, work = run_jvm(root, classpath, a.workload, a.seed,
                                                     a.seconds, a.trace, share)

    extra = check_dumps(result, manifest) if a.workload == "mutate_dump" else []
    if "gates" in manifest:
        extra += check_gates(result, manifest["gates"])
    attempted, failed = tally(result, extra)
    errors = list(result["failures"]) + extra

    if a.trace:
        layers = result["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        traces = os.path.join(root, WORK_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(traces, f"{a.workload}-s{a.seed}.json"))
        info = {"spans": int(layers.get("trace.spans", 0))}
    else:
        e2e, info = end_to_end(result, setup_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if "repeated" in result:
            info["repeated_share"] = result["repeated"] / info["samples"]
    info.update(workload=a.workload, seed=a.seed, cpus=CPUS, calib_s=result["calib_s"],
                failed_op_ratio=failed_op_ratio(attempted, failed),
                known_deviations=result["known_deviations"], gen_s=gen_s,
                **{k: result[k] for k in ("cycles", "jvm_boot_s", "spark_start_s", "warmup_s",
                                          "loop_s")})
    for e in errors[:10]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    print("[perfbench] " + json.dumps(info))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
