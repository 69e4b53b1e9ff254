#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in a single JVM on local[4], checks the outputs and prints one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload declared --seed 1 --seconds 1 --trace 1
    python3 perfbench/run.py --smoke

Run it from the root of a checkout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def spark_jars():
    """Spark ships its jars (scala-compiler included); the sbt build names the
    same directory as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    return main + bench


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark into .bench_build/classes, once
    per source digest."""
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, jars, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"[build] compiled {len(files)} sources in {time.time() - t0:.1f} s")
    return classes, jars, digest


def run_jvm(classes, jars, workload, seed, seconds, trace, smoke, work, sf):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"), os.path.join(jars, "*")])
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "graft.perfbench.Main",
        workload, str(seed), str(seconds), str(trace), "1" if smoke else "0", work] + ([sf] if sf else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=ROOT)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{workload}: JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        # nothing the JVM started may outlive it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for line in out.splitlines():
        if line.startswith("["):
            log(line)
    problems = [l for l in err.splitlines() if l.startswith("[perfbench]")]
    for l in problems:
        print(l, file=sys.stderr)
    path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(path):
        print(err[-4000:], file=sys.stderr)
        fail(f"{workload}: JVM exited {proc.returncode}")
    return json.load(open(path))


# ------------------------------------------------------------ oracle checks

def canon(df):
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype in (np.float64, np.float32):
            df[c] = df[c].astype(np.float64).round(4)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_frames(sp, oc):
    """The `tools/compare.py` compare: sorted columns, floats rounded to 4, rows sorted."""
    import numpy as np
    sp, oc = canon(sp), canon(oc)
    if len(sp) != len(oc) or list(sp.columns) != list(oc.columns):
        return False, f"rows {len(sp)}/{len(oc)} cols {list(sp.columns)}/{list(oc.columns)}"
    for c in sp.columns:
        a, b = sp[c], oc[c]
        if a.dtype == np.float64:
            ok = np.allclose(a.fillna(-1e300), b.astype(np.float64).fillna(-1e300), atol=1e-9)
        else:
            ok = (a.astype(str).values == b.astype(str).values).all()
        if not ok:
            return False, f"column {c} differs"
    return True, f"{len(sp)} rows"


def oracle_checks(result):
    """Returns (attempted, failed, detail lines)."""
    entries = result.get("oracle", [])
    if not entries:
        return 0, 0, []
    import duckdb
    import pandas as pd
    attempted, failed, lines = 0, 0, []
    for e in entries:
        if "sql" in e:
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT CAST(regexp_extract(url, '([0-9]+)$', 1) AS BIGINT) AS doc_id, "
                f"text FROM read_parquet('{e['corpus']}/*.parquet')")
            oc = con.sql(e["sql"]).df()
            sp = pd.DataFrame([(int(r[0]), float(r[1])) for r in e["rows"]], columns=["doc_id", "score"])
            ok, why = same_frames(sp, oc)
            ok = ok and len(oc) > 0
            attempted += 1
            failed += 0 if ok else 1
            lines.append(f"{e['name']}: {'OK' if ok else 'FAIL'} ({why})")
        elif "declared_out" in e:
            con = duckdb.connect()
            for p in glob.glob(os.path.join(e["sf"], "*.parquet")):
                con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
            oracles = json.load(open(os.path.join(e["declared_out"], "oracle_sql.json")))
            for name in sorted(oracles):
                attempted += 1
                files = sorted(glob.glob(os.path.join(e["declared_out"], name, "*.parquet")))
                try:
                    sp = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                    ok, why = same_frames(sp, con.sql(oracles[name]).df())
                except Exception as ex:  # a missing or unreadable result is a failure
                    ok, why = False, f"{type(ex).__name__}: {ex}"
                failed += 0 if ok else 1
                if not ok:
                    lines.append(f"declared.{name}: FAIL ({why})")
            lines.append(f"declared oracle: {attempted - failed}/{attempted} OK")
    return attempted, failed, lines


# ------------------------------------------------------------ fingerprints

def testdata_digest(sf):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()


def fingerprint_checks(result, sf):
    want = json.load(open(os.path.join(HERE, "fingerprints.json")))
    got = {"generator": result["info"].get("probe_sha256")}
    if sf:
        got["testdata." + os.path.basename(os.path.normpath(sf))] = testdata_digest(sf)
    bad = [f"{k}: {v} != expected {want.get(k)}" for k, v in got.items() if want.get(k) != v]
    return got, bad


def default_sf(scale):
    """The test-data directory of a scale factor, as TESTDATA.md names it."""
    doc = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        m = re.search(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", open(doc).read())
        if m:
            return m.group(1)
    return None


def environment(result, digest, seed):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    return dict(result["info"].get("env", {}), nproc=os.cpu_count(), git_commit=commit or "n/a (not a git checkout)",
                source_sha256=digest, seed=seed, sizes=result["info"].get("sizes"))


# ------------------------------------------------------------ main

def one_run(args, classes, jars, digest, smoke=False):
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    sf = (args.sf or default_sf("0.001" if smoke else "0.1")) if args.workload == "declared" else None
    if args.workload == "declared" and not (sf and os.path.isdir(sf)):
        fail("declared needs the test-data directory (--sf)")
    res = run_jvm(classes, jars, args.workload, args.seed, args.seconds, args.trace, smoke, work, sf)
    o_att, o_fail, o_lines = oracle_checks(res)
    for l in o_lines:
        log(f"[{args.workload}] oracle {l}")
    prints, bad = fingerprint_checks(res, sf)
    for k in ("corpus_sha256", "queries_sha256"):
        if k in res["info"]:
            prints[k] = res["info"][k]
    log(f"[{args.workload}] fingerprints {json.dumps(prints, sort_keys=True)}")
    for b in bad:
        print(f"perfbench: fingerprint mismatch: {b}", file=sys.stderr)
    checks = res.get("checks", [])
    attempted = res["attempted"] + o_att
    failed = res["failed"] + o_fail + len(bad)
    env = environment(res, digest, args.seed)
    log(f"[{args.workload}] env {json.dumps(env, sort_keys=True)}")
    log(f"[{args.workload}] failed_frac {failed / max(1, attempted):.6f} ({failed} of {attempted} "
        f"operations and checks; {len(checks)} JVM checks, {o_att} oracle compares)")
    # no checks at all would be a silently empty run, not a correct one
    correct = failed == 0 and len(checks) + o_att > 0 and all(c["ok"] for c in checks)

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        metrics = {m["name"]: {"value": float(res["per_layer"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in res["e2e"]]
        if missing:
            fail(f"{args.workload}: no value for {missing}")
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    os.makedirs(RESULTS, exist_ok=True)
    stem = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}")
    json.dump(dict(res, env=env, correct=correct, attempted=attempted, failed=failed, oracle=o_lines),
              open(stem + ".json", "w"))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, stem + ".spans.jsonl")
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def smoke(classes, jars, digest):
    """All four workloads at tiny sizes, traced, with every check; then the
    trace report. Exit 0 only if everything passed."""
    ok = True
    t0 = time.time()
    for w in ("serve", "build", "ingest", "declared"):
        a = argparse.Namespace(workload=w, seed=1, seconds=2, trace=1, sf=None)
        out = one_run(a, classes, jars, digest, smoke=True)
        log(f"[smoke] {w}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
        ok = ok and out["correct"]
    subprocess.run([sys.executable, os.path.join(HERE, "trace_report.py")], check=True)
    log(f"[smoke] {'PASS' if ok else 'FAIL'} in {time.time() - t0:.0f} s")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["serve", "build", "ingest", "declared"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", help="test-data directory for the declared workload "
                    "(default: the sf0.1 directory of TESTDATA.md; sf0.001 in smoke mode)")
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, all workloads, all checks")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    classes, jars, digest = build()
    if args.smoke:
        smoke(classes, jars, digest)
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(one_run(args, classes, jars, digest)), flush=True)


if __name__ == "__main__":
    main()
