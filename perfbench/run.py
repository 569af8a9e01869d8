#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine together with the
harness in perfbench/ (sbt, offline) when their sources changed, runs one
workload in a fresh JVM, and prints the harness's result line last. All
inputs, scratch files and build outputs stay inside the checkout, under
$CARGO_TARGET_DIR or .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("zh_enrich", "zh_jdbc_writeback", "catalog_heavy")
# Per-layer metrics of layers a workload does not run, which read 0 on it:
# a name, or a prefix ending in ".". Any other metric of BENCHMARK.json a
# traced run does not report fails the run.
ZH = ("sources.scan_s", "operators.derive_structure_s", "functions.", "operators.apply_s")
JDBC = ("sources.jdbc_discover_s", "sources.jdbc_read_s", "operators.derive_s", "sinks.",
        "sources.rerun_read_s")
CATALOG = ("q01.", "st25.", "v26.")
BYPASSED = {
    "zh_enrich": JDBC + CATALOG,
    "zh_jdbc_writeback": ZH + CATALOG,
    "catalog_heavy": ZH + JDBC,
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compiles with sbt if the sources changed; returns the classpath."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "compile", "export Runtime/fullClasspath"],
                         BENCH, env, out, subprocess.STDOUT, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Runs a child in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def bypassed(workload, name):
    return any(name == b or (b.endswith(".") and name.startswith(b)) for b in BYPASSED[workload])


def canon(df):
    """Columns by name, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatches(run_dir):
    """Replays each catalog row's oracle SQL in DuckDB over the run's
    tables and compares it with the row's first result."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq
    with open(os.path.join(run_dir, "oracle", "manifest.json")) as fh:
        m = json.load(fh)
    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{m['tables']}/{t}.parquet')")
    bad = []
    for q, sql in sorted(m["queries"].items()):
        got = canon(pq.read_table(os.path.join(run_dir, "oracle", q)).to_pandas())
        exp = canon(con.execute(sql).df())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.append(f"{q}: columns {list(got.columns)} rows {len(got)}, "
                       f"oracle {list(exp.columns)} rows {len(exp)}")
            continue
        for col in got.columns:
            g, e = got[col].to_numpy(), exp[col].to_numpy()
            if np.issubdtype(g.dtype, np.number) and np.issubdtype(e.dtype, np.number):
                ok = np.allclose(g.astype(float), e.astype(float), rtol=1e-9, atol=1e-6)
            else:
                ok = [str(x) for x in g] == [str(x) for x in e]
            if not ok:
                bad.append(f"{q}: column {col} differs from the oracle")
                break
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found at {os.path.relpath(ENGINE, os.getcwd())}")

    work = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(work, exist_ok=True)
    cp = build(work)

    run_dir = os.path.join(work, "run", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, f"{a.workload}.log")
    # A fixed-size heap with fixed generation sizes keeps GC behaviour,
    # and with it peak RSS, the same from run to run. The heap asks for
    # transparent huge pages, which the kernel grants where it can.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:+UseTransparentHugePages", f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.work={run_dir}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    out_path = os.path.join(run_dir, "stdout")
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            try:
                code = run_child(cmd, ROOT, dict(os.environ), out, err, RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s; log in {log}")
        with open(out_path) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        mismatches = []
        if a.workload == "catalog_heavy" and lines and lines[-1].startswith("{\"correct\""):
            mismatches = oracle_mismatches(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not lines or not lines[-1].startswith("{\"correct\""):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{a.workload} printed no result (exit {code}); log in {log}")
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace == "1")
    if a.trace == "1":
        for k in want:
            if bypassed(a.workload, k) and k not in result["metrics"]:
                result["metrics"][k] = {"value": 0, "unit": want[k]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {[k for k in want if k in got and got[k] != want[k]]}")
    for m in mismatches:
        print(f"perfbench: oracle check failed: {m}", file=sys.stderr)
    if mismatches:
        result["correct"] = False
    result["metrics"] = {k: result["metrics"][k] for k in want}
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.stdout.flush()
    if code != 0 or not result["correct"]:
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
