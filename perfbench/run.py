#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/harness depends on the root
build); later runs reuse the build while the sources are unchanged.
Each run then:

1. generates the workload's inputs from the shared sf0.1 tables with
   perfbench/gen.py and the seed (the program sees only these files);
2. runs the harness (perfbench.Main) in one JVM: set-up, warm pass,
   timed passes, box canary (see perfbench/README.md);
3. checks correctness: batch outputs against their DuckDB oracle
   (SparkEntry.oracleSql), index serves against the direct scan (done in
   the harness);
4. prints the input sizes and the box record, then as the last line one
   JSON object: correct, attempted, failed and the metrics of
   BENCHMARK.json (end-to-end ones with --trace 0, per-layer ones with
   --trace 1).

The sf0.1 tables are read from $PERFBENCH_SF_DIR, else from the sf0.1
directory named in the repository's TESTDATA.md, else ~/testdata/sf0.1.
Everything the run writes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import duckdb

START = time.monotonic()
READY = [START]  # when the build was done: the run's own time counts from here
ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = BENCH / ".work"
DEADLINE_S = 170  # a run ends within 180 s of its build being done

# workload -> (copies of sf0.1, tables the workload reads, harness heap)
WORKLOADS = {
    "beam_core_10x": (10, "region,nation,customer,supplier,part,orders,lineitem,events,documents", "4g"),
    "index_ingest_serve": (1, "documents,embeddings", "3g"),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {time.monotonic() - START:6.1f}s {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "harness" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    files += [BENCH / "harness" / "build.sbt", BENCH / "harness" / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no program sources next to the benchmark (build.sbt, src/main)")
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    with open(WORK / "build.log", "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH / "harness", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    text = (WORK / "build.log").read_text()
    if r.returncode != 0:
        sys.stderr.write(text[-4000:])
        fail("build failed")
    cp = [l for l in text.splitlines() if l and not l.startswith("[")][-1]
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def source_dir():
    """The shared sf0.1 tables: $PERFBENCH_SF_DIR, else the sf0.1 directory
    the repository's TESTDATA.md names, else ~/testdata/sf0.1."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return Path(os.environ["PERFBENCH_SF_DIR"])
    doc = ROOT / "TESTDATA.md"
    named = re.findall(r"`([^`]*/sf0\.1)/?`", doc.read_text()) if doc.is_file() else []
    return Path(named[0]) if named else Path.home() / "testdata" / "sf0.1"


def generate(workload, seed, data):
    copies, tables, _ = WORKLOADS[workload]
    src = source_dir()
    if not (src / "lineitem.parquet").is_file():
        fail(f"sf0.1 tables not found at {src} (set PERFBENCH_SF_DIR)")
    cmd = [sys.executable, str(BENCH / "gen.py"), "--src", str(src), "--out", str(data),
           "--seed", str(seed), "--copies", str(copies), "--tables", tables]
    if workload == "index_ingest_serve":
        cmd.append("--index-plan")
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        fail("input generation failed")
    return json.loads(r.stdout.strip().splitlines()[-1])


def harness(cp, workload, data, out, seconds, trace, nproc):
    heap = WORKLOADS[workload][2]
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dspark.local.dir={WORK / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", str(data),
            "--out", str(out), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--nproc", str(nproc)]
    left = DEADLINE_S - (time.monotonic() - READY[0])
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)

    def stop(signum, frame):  # a run stopped from outside stops its JVM too
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        rc = proc.wait(timeout=max(10, left - 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness ran past the run's deadline")
    if rc != 0:
        fail(f"harness exited with {rc}")
    return json.loads((out / "result.json").read_text())


NUMERIC = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
           "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE"}


def fingerprint(con, rel):
    """Row count and an order-independent hash of a relation's rows, its
    columns taken by name: numbers compare as DOUBLE (so BIGINT equals
    HUGEINT and DECIMAL equals DOUBLE, as Python equality in
    tools/compare.py has it), everything else as text."""
    cols = sorted(zip(rel.columns, rel.types), key=lambda c: c[0].lower())
    exprs = [f'CAST("{c}" AS DOUBLE) + 0.0' if str(t) in NUMERIC or str(t).startswith("DECIMAL")
             else f'CAST("{c}" AS VARCHAR)' for c, t in cols]
    con.register("fp_rel", rel)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})::HUGEINT), 0) "
                       "FROM fp_rel").fetchone()
    return [c.lower() for c, _ in cols], n, h


def oracle_check(data, out, workload):
    """Each batch output against its DuckDB oracle (SparkEntry.oracleSql):
    same column names, same number of rows and the same multiset of rows
    (see fingerprint). Returns the operations that differ."""
    oracle = json.loads((out / "oracle_sql.json").read_text())
    bad = []
    for op, sql in sorted(oracle.items()):
        con = duckdb.connect()  # a failed statement aborts the connection's transaction
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.execute("SET memory_limit = '3GB'")
        for t in WORKLOADS[workload][1].split(","):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        try:
            got = fingerprint(con, con.sql(f"SELECT * FROM read_parquet('{out}/results/{op}/*.parquet')"))
            want = fingerprint(con, con.sql(sql))
            if got != want:
                raise ValueError(f"spark {got[:2]} vs oracle {want[:2]}")
        except Exception as e:  # a failing oracle is a failed operation
            log(f"{op}: oracle mismatch: {str(e)[:300]}")
            bad.append(op)
        con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = build()
    READY[0] = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    data, out = WORK / "data", WORK / "out" / args.workload
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    log("generating inputs")
    inputs = generate(args.workload, args.seed, data)
    log("running the harness")
    print(json.dumps({"inputs": inputs}), flush=True)
    res = harness(cp, args.workload, data, out, args.seconds, args.trace == 1, nproc)
    attempted, failed = res["attempted"], res["failed"]
    log("checking outputs")
    if (out / "oracle_sql.json").exists():  # a batch workload
        for op in oracle_check(data, out, args.workload):
            # every execution of op failed: the warm pass that wrote the
            # checked output and the timed ones, less those the harness
            # already counted as failed
            failed += res["executions"].get(op, 0) + 1 - res["failures"].get(op, 0)
    shutil.rmtree(data, ignore_errors=True)
    log("done")
    print(json.dumps({"box": res["box"], "passes": res["passes"]}), flush=True)

    values = dict(res["e2e"], ok_ratio=1.0 - failed / attempted)
    values.update(res["layer"])
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in want}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
