#!/usr/bin/env python3
"""Repository benchmark: builds the engine from source, runs one workload,
checks its answers, and prints one JSON result as the last stdout line.

    python3 perfbench/run.py --workload search-mix --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The build (scalac over src/main/scala and
perfbench/scala, against the Spark jars) goes to .bench_build/ and is reused
while the sources are unchanged; each run works in .bench_build/run/ and
removes it afterwards. Workloads are described in BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ["search-mix", "analytics"]
# JDK 17 module opens Spark needs outside spark-submit (as build.sbt sets)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170
# the tables are fixed, like the test tables they stand for: the serving
# corpus is the sf0.1 embeddings table (2,000 x 64d), the analytics tables
# are the sf0.01 set
DATA_SEED = 42
CORPUS_SF = 0.1
ANALYTICS_SF = 0.01


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark installation's jars, which carry the Scala compiler too:
    $SPARK_HOME, else the installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"engine sources not found under {main}; run from a repository checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile the engine and the harness unless the stamp says they are current."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", fresh,
                        "-classpath", os.path.join(jars, "*"), "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.0f}s", file=sys.stderr)


def java(jars, work, main_args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main"] + main_args)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log.close()
        fail(f"run exceeded {timeout}s")
    log.close()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {p.returncode}")
    return out


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def oracle_check(data, out, work):
    """Each analytics result against its DuckDB replay over the same tables.
    Returns one message per mismatch. The tables are fixed, so a replay that
    reads nothing of the run's own (q87 reads its layout) is kept in
    .bench_build/oracle/ and reused: the q124 replay alone takes ~12 s."""
    import duckdb
    import pandas as pd
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings", "lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        tables = f"{DATA_SEED}/{ANALYTICS_SF}/" + hashlib.sha256(fh.read()).hexdigest()

    def replay(sql):
        path = os.path.join(BUILD, "oracle", hashlib.sha256((tables + sql).encode()).hexdigest())
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = con.execute(sql).df()
        if work not in sql:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            df.to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        return df

    errors = []
    for name in sorted(oracle):
        try:
            got = canon(pd.read_parquet(os.path.join(out, name)))
            exp = canon(replay(oracle[name]))
        except Exception as e:  # an unreadable result or a failing replay
            errors.append(f"{name}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            errors.append(f"{name}: shape {list(got.columns)}x{len(got)} vs {list(exp.columns)}x{len(exp)}")
            continue
        for c in got.columns:
            bad = next((i for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                        if not same(x, y)), None)
            if bad is not None:
                errors.append(f"{name}: col {c} row {bad}: {got[c][bad]!r} vs {exp[c][bad]!r}")
                break
    return errors


def same(x, y):
    if x is None and y is None:
        return True
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    if isinstance(x, float) or isinstance(y, float):
        return x is not None and y is not None and abs(float(x) - float(y)) <= 1e-9
    return str(x) == str(y)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            out = java(jars, work, ["--self-test"], RUN_TIMEOUT_S)
            sys.stdout.write(out)
            return
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        t0 = time.time()
        sys.path.insert(0, HERE)
        import datagen
        data = os.path.join(work, "data")
        if a.workload == "analytics":
            datagen.generate(data, DATA_SEED, ANALYTICS_SF)
        else:
            datagen.generate(data, DATA_SEED, CORPUS_SF, tables=["embeddings"])
        args += ["--data", data]
        out = java(jars, work, args, RUN_TIMEOUT_S - (time.time() - t0))
        lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in out.splitlines()
                 if l.startswith("PERFBENCH_")}
        if "PERFBENCH_RESULT" not in lines:
            fail("harness printed no result")
        summary = json.loads(lines["PERFBENCH_SUMMARY"])
        result = json.loads(lines["PERFBENCH_RESULT"])
        if a.workload == "analytics":
            t1 = time.time()
            errors = oracle_check(data, os.path.join(work, "out"), work)
            summary["phases_s"]["oracle_check"] = time.time() - t1
            summary["oracle_mismatches"] = errors
            with open(os.path.join(work, "out", "oracle_sql.json")) as fh:
                result["attempted"] += len(json.load(fh))
            result["failed"] += len(errors)
            result["correct"] = result["correct"] and not errors
        summary["phases_s"]["run_py_total"] = time.time() - t0
        print(json.dumps(summary))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
