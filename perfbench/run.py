#!/usr/bin/env python3
"""Benchmark of the repo's feature-selection engine and a sample of its
oracle-gated queries. See perfbench/README.md.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ifs --seed 1 --seconds 10 \
        --trace 0

The first run builds the engine and this package with sbt and records the
classpath in `.bench_build/`; later runs reuse that build while the sources
are unchanged. The last line of standard output is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`. The exit code is not 0
when an answer is wrong or the run could not complete.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "perfbench")
# Time limits: a run must end within 180 s, or 900 s when it builds.
BUILD_LIMIT_S = 700
JVM_LIMIT_S = 145
# Oracle bounds: one DuckDB oracle once filled ~20 GB of temp disk.
ORACLE_LIMIT_S = 15
ORACLE_TEMP = "2GB"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SAFE_TYPES = {"BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN", "TIMESTAMP",
              "DATE", "INTEGER"}

# Per-workload JVM flags. The gate pass runs C1 alone: each pass makes
# Spark generate and compile 150-220 new classes (codegen compiles do not
# hit the cache between calls), and under the default tiered compiler the
# C2 threads then keep 2-3 of 4 cores busy for the whole run, so a gate's
# time measured the race between the compiler threads and Spark's main
# thread. With C1 alone the compiler threads use about half a core.
JVM_FLAGS = {"gates_sf0.1": ["-XX:TieredStopAtLevel=1"]}

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, limit, what, **kw):
    """Run `cmd` in its own process group and return (exit code, stdout).
    On timeout the whole group is killed, so no child outlives the run.
    """
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{what} did not finish within {limit} s")
    return p.returncode, out


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for d in ("src/main", "perfbench/src"):
        files += sorted(os.path.relpath(p, ROOT) for p in glob.glob(
            os.path.join(ROOT, d, "**", "*"), recursive=True)
            if os.path.isfile(p))
    h = hashlib.sha256()
    for f in files:
        p = os.path.join(ROOT, f)
        if not os.path.isfile(p):
            fail(f"missing {f}: run from the root of a full checkout")
        h.update(f.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            same, cp = fh.read() == stamp, fc.read()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        code, out = run(cmd, BUILD_LIMIT_S, "the build", cwd=BENCH_DIR,
                        env=env, stderr=log)
        log.write(out)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (exit {code}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def fixture_dir():
    """The sf0.1 tables, at the location TESTDATA.md documents."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
    if not m:
        fail("TESTDATA.md names no sf0.1 directory")
    d = m.group(1).rstrip("/")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"sf0.1 tables not found in {d}")
    return d


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(round(r[i], 9) if isinstance(r[i], float) else r[i]
                         for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def check_oracles(work, data):
    """Compare each dumped gate with its DuckDB oracle, as
    tools/check_oracle.py does. Returns {gate: "pass"|"fail: …"|
    "unchecked: …"}; an oracle that runs out of its time or disk bound is
    unchecked, not failed.
    """
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    out = {}
    for name in sorted(os.listdir(os.path.join(work, "dumps"))):
        files = glob.glob(os.path.join(work, "dumps", name, "*.parquet"))
        if name not in oracle:
            out[name] = "unchecked: no oracle"
            continue
        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                     "temp_directory": tmp,
                                     "max_temp_directory_size": ORACLE_TEMP})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data}/{t}.parquet'")
        t0 = time.monotonic()
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            want = con.execute(oracle[name]).fetchall()
            want_cols = [d[0] for d in con.description]
            want_t = {r[0]: r[1] for r in con.execute(
                f"DESCRIBE {oracle[name]}").fetchall()}
        except Exception as e:  # interrupted or out of temp space
            out[name] = f"unchecked: oracle did not finish ({e})"[:300]
            continue
        finally:
            timer.cancel()
        rel = f"read_parquet({files!r})"
        got = con.execute(f"SELECT * FROM {rel}").fetchall()
        got_cols = [d[0] for d in con.description]
        got_t = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM {rel}").fetchall()}
        con.close()
        gc, g = canon(got, got_cols)
        wc, w = canon(want, want_cols)
        if gc != wc:
            out[name] = f"fail: columns {gc} != oracle {wc}"
        elif any(got_t.get(c) != want_t.get(c) for c in gc):
            out[name] = "fail: column types differ from the oracle's"
        elif any(t not in SAFE_TYPES for t in want_t.values()):
            out[name] = "fail: oracle output type outside the portable set"
        elif g != w:
            out[name] = f"fail: {len(g)} rows vs oracle {len(w)}, or values"
        else:
            out[name] = (f"pass ({len(g)} rows, oracle and compare "
                         f"{time.monotonic() - t0:.1f} s)")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = build()
    data = fixture_dir() if a.workload.startswith("gates") else "-"
    cores = min(4, os.cpu_count() or 1)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", "-Xmx4g", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    java += JVM_FLAGS.get(a.workload, [])
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
             str(a.seconds), str(a.trace), work, data, str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code, out = run(java, JVM_LIMIT_S, "the JVM", cwd=work, stderr=log)
    sys.stdout.write(out)
    res_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res_file):
        shutil.copy(os.path.join(work, "jvm.log"),
                    os.path.join(BUILD, "last_failed_jvm.log"))
        fail(f"JVM exited {code}; see .bench_build/last_failed_jvm.log")
    with open(res_file) as fh:
        res = json.load(fh)

    failed = res["failed"]
    if os.path.isdir(os.path.join(work, "dumps")):
        for gate, verdict in check_oracles(work, data).items():
            print(f"[perfbench] oracle {gate}: {verdict}")
            if verdict.startswith("fail"):
                failed += 1
    attempted = res["attempted"]
    correct = failed == 0

    for line in res["notes"]:
        print(f"[perfbench] {line}")
    print(f"[perfbench] {a.workload} seed={a.seed} cores={cores} "
          f"rounds={res['rounds']} timed={res['timed_s']:.1f}s "
          f"host-steal={res['steal_s'] or 0:.1f}s "
          f"flagged={res['flagged']} session={res['session_s']:.2f}s "
          f"prepare=" + ",".join(f"{x:.2f}" for x in res["prepare_s"])
          + f"s warm-up={res['warmup_s']:.2f}s rounds(s)="
          + ",".join(f"{x:.3f}" for x in res["round_s"]))

    print("[perfbench] ops (name s jobs): " + ", ".join(
        f"{k} {w:.2f} {j}" for k, w, j in res["ops"]))
    values = {
        "op_s": res["op_s"],
        "setup_s": res["setup_s"],
        "live_heap_mb": res["live_heap_mb"],
        "ok_ratio": (attempted - failed) / attempted,
    }
    last = os.path.join(BUILD, f"untraced-{a.workload}-{a.seed}.json")
    if a.trace:
        values = {m["name"]: res["per_layer"].get(m["name"], 0.0)
                  for m in spec["per_layer"]}
        values["trace.op_s"] = res["op_s"]
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)["op_s"]
            print(f"[perfbench] tracing overhead: op_s {res['op_s']:.3f}s "
                  f"traced vs {base:.3f}s untraced, same seed: "
                  f"{100 * (res['op_s'] / base - 1):+.1f}%")
        else:
            print("[perfbench] tracing overhead: no untraced run of this "
                  "workload and seed to compare with")
        if a.workload.startswith("ifs"):
            for op in ("conv", "alt_vector", "alt_blocked"):
                r = values.get(f"feature.{op}.jobs_vs_model", 0.0)
                if r:
                    print(f"[perfbench] feature.{op}.jobs_vs_model = {r:.2f} "
                          f"({values[f'feature.{op}.jobs']:.0f} jobs per fit "
                          f"vs BASELINE.md's reference model)")
    else:
        with open(last, "w") as fh:
            json.dump({"op_s": res["op_s"]}, fh)
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = values[m["name"]]
        if v is None or (isinstance(v, float) and math.isnan(v)):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"[perfbench] {m['name']} = {v:.6g} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
