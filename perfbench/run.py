#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run compiles graft's sources and
the harness (perfbench/build.sbt); later runs reuse the build until a
source changes. The harness JVM writes its record to a per-run directory
under perfbench/.run/, which is deleted when the run ends. The last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The full record (run context, every figure,
the oracle report) goes to standard error and to
perfbench/out/<workload>-<seed>-trace<0|1>.json; a traced run's spans go
next to it as <...>.spans.jsonl.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JVM_TIMEOUT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(out)


def build():
    """Compiles graft and the harness unless the stamp matches; returns
    (classes dir, source hash)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "graftbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] compiling graft and the harness ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=880)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


def jvm_flags():
    """The forked-run JVM flags of the repository's build.sbt (the flags
    graft.Bench runs with), read from it so the harness JVM cannot drift
    from graft's own runs. `${sys.env.getOrElse("VAR", "default")}` resolves
    as it does there."""
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", sbt, re.S)
    if not opens or not opts:
        sys.exit("perfbench: build.sbt no longer carries the JVM flags the harness mirrors")
    code = re.sub(r"//[^\n]*", "", opts.group(1))
    flags = []
    for p in re.findall(r'"([\w./]+)"', opens.group(1)):
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    for lit in re.findall(r's?"((?:[^"$]|\$\{[^}]*\})*)"', code):
        flags.append(re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)", "(\w+)"\)\}',
                            lambda m: os.environ.get(m.group(1), m.group(2)), lit))
    need = ("-Xmx", "-XX:ReservedCodeCacheSize=", "-Dspark.sql.session.timeZone=UTC")
    if not all(any(f.startswith(n) for f in flags) for n in need) or any("$" in f for f in flags):
        sys.exit(f"perfbench: cannot read build.sbt's JVM flags (read {flags[-4:]})")
    return flags


def spark_jars():
    """The Spark jars directory the repository's build.sbt compiles against."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        sys.exit("perfbench: build.sbt no longer names its Spark jars directory")
    return m.group(1)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(run_dir):
    """Compares every captured analytics surface with its DuckDB oracle over
    the same generated tables: sorted column names, row count and the
    rounded, type-tagged values of the sorted rows. Returns
    (failures, report lines)."""
    import duckdb
    import pyarrow.dataset as pads
    out = os.path.join(run_dir, "work", "oracle_out")
    tables = open(os.path.join(run_dir, "work", "oracle_tables")).read().strip()
    con = duckdb.connect()
    for f in os.listdir(tables):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tables}/{f}/*.parquet')")

    def canon(rows):
        def cell(v):
            if isinstance(v, float):
                return ("f", repr(round(v, 9)))
            if v is None:
                return ("n",)
            return (type(v).__name__[:1], str(v))
        return sorted(tuple(cell(v) for v in r) for r in rows)

    failures, report = 0, []
    for name, sql in sorted(json.load(open(os.path.join(out, "oracle_sql.json"))).items()):
        try:
            rel = con.sql(sql)
            want_cols = list(rel.columns)
            want = rel.fetchall()
            tbl = pads.dataset(os.path.join(out, name)).to_table()
            got_cols = tbl.column_names
            got = [tuple(r[c] for c in got_cols) for r in tbl.to_pylist()]
        except Exception as e:  # an unreadable output or a broken oracle is a failure
            failures += 1
            report.append(f"FAIL {name}: {str(e).splitlines()[0][:160]}")
            continue
        if sorted(got_cols) != sorted(want_cols):
            failures += 1
            report.append(f"FAIL {name}: columns {sorted(got_cols)} vs {sorted(want_cols)}")
            continue
        g = canon([[r[got_cols.index(c)] for c in sorted(got_cols)] for r in got])
        w = canon([[r[want_cols.index(c)] for c in sorted(want_cols)] for r in want])
        if g == w:
            report.append(f"PASS {name} ({len(g)} rows)")
        else:
            failures += 1
            report.append(f"FAIL {name}: {len(g)} rows vs {len(w)} oracle rows, "
                          f"{sum(a != b for a, b in zip(g, w))} differ")
    return failures, report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft not found)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classes, digest = build()

    run_dir = os.path.join(BENCH, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    jars = spark_jars()
    cmd = (["java"] + jvm_flags()
           + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              # set-up time starts here: a rebuild is not set-up
              "--run-dir", run_dir, "--t0-ms", str(int(time.time() * 1000))])
    try:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:  # run() has killed the JVM
            sys.exit(f"perfbench: harness did not finish within {JVM_TIMEOUT_S} s")
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.exit(f"perfbench: harness exited with {proc.returncode}")
        res = json.load(open(result_path))
        attempted, failed = res["attempted"], res["failed"]
        out = os.path.join(BENCH, "out", f"{a.workload}-{a.seed}-trace{a.trace}")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), out + ".spans.jsonl")
        oracle = []
        if a.workload == "analytics":
            bad, oracle = oracle_check(run_dir)
            failed += bad
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run still uses it
            pass

    figures = res["per_layer"] if a.trace else res["end_to_end"]
    if a.trace:
        figures["failed_ratio"] = failed / attempted
    declared = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        v = figures.get(m["name"], 0.0)  # zero: the layer is off this workload's path
        metrics[m["name"]] = {"value": v if v is not None and math.isfinite(v) else 0.0, "unit": m["unit"]}
    context = res["context"]
    context.update(git_commit=git_commit(), source_sha256=digest)
    record = json.dumps({"record": {"context": context, "end_to_end": res["end_to_end"],
                                    "per_layer": res["per_layer"], "oracle": oracle}}, sort_keys=True)
    log(record)
    with open(out + ".json", "w") as fh:
        fh.write(record + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
