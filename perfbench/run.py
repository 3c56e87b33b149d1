#!/usr/bin/env python3
"""Benchmark of the graft engine: the telemetry pipeline and a gate slice.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_live, gates (see perfbench/NOTES.md).

The first run in a checkout compiles the program (src/main/scala) together
with the benchmark's own Scala files (perfbench/src) into .bench_build/;
later runs reuse the classes while the sources are unchanged. Each run is
one JVM. Its outputs are checked (pipeline tables against the generator's
oracle in the JVM; gate results against DuckDB running the gate's oracle
SQL, here). The last stdout line is one JSON object:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A traced run is preceded by an untraced run of the same seed, the
reference for trace_overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
DATA = HERE / "data" / "sf0.1"
WORKLOADS = ("pipeline_live", "gates")
RUN_BUDGET_S = 170  # all JVMs of one invocation, after the build
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution with jars/")
    return sorted((Path(home) / "jars").glob("*.jar"))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"program sources not found under {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile program + benchmark once per source state; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return classes
    compiler = [j for j in jars if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler/library/reflect jars not found in SPARK_HOME/jars")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-classpath", os.pathsep.join(map(str, jars)),
         "-Ybackend-parallelism", "4"] + [str(f) for f in srcs],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (BUILD / "stamp").write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, args, work, deadline):
    cpus = len(os.sched_getaffinity(0))
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx4g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + opts + [
        "-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]),
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), str(work), str(DATA), str(cpus)]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        rc = "timeout"
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = work / "result.json"
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        print(tail, file=sys.stderr)
        fail(f"workload JVM ended with {rc}")
    return json.loads(result.read_text())


def check_gates(res, work):
    """Compare every gate output with DuckDB running its oracle SQL on the
    same tables, using the scripts/check.py normalization. The expected
    side is computed once per (gate, SQL) and cached in the build dir."""
    sys.path.insert(0, str(ROOT / "scripts"))
    sys.dont_write_bytecode = True  # leave no __pycache__ next to check.py
    import check  # noqa: E402  (the repository's oracle comparison)
    import duckdb
    import pyarrow.dataset as ds

    oracle = json.loads((work / "oracle_sql.json").read_text())
    cache = BUILD / "gates_expected"
    cache.mkdir(parents=True, exist_ok=True)
    con = None
    outcome = {}
    for gate, sql in sorted(oracle.items()):
        key = hashlib.sha256((sql + str(DATA)).encode()).hexdigest()[:16]
        f = cache / f"{gate}-{key}.json"
        if not f.is_file():
            if con is None:
                con = duckdb.connect()
                for t in DATA.glob("*.parquet"):
                    con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            cols, rows = check.table_rows(con.execute(sql).fetch_arrow_table())
            f.write_text(json.dumps({"cols": cols, "rows": rows}))
        want = json.loads(f.read_text())
        got_cols, got_rows = check.table_rows(
            ds.dataset(str(work / "gates_out" / gate), format="parquet").to_table())
        want_rows = [tuple(r) for r in want["rows"]]
        if got_cols != want["cols"]:
            outcome[gate] = f"columns {got_cols} vs oracle {want['cols']}"
        elif len(got_rows) != len(want_rows):
            outcome[gate] = f"{len(got_rows)} rows vs oracle {len(want_rows)}"
        else:
            bad = [(a, b) for a, b in zip(got_rows, want_rows) if a != b]
            outcome[gate] = (f"{len(bad)}/{len(got_rows)} rows differ; first "
                             f"spark={bad[0][0]} oracle={bad[0][1]} (cols {got_cols})"
                             if bad else None)
    return outcome


def run_checked(classes, jars, args, deadline):
    """One JVM run plus the output checks made here; returns
    (result, problems, failed, findings, work dir)."""
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    res = run_jvm(classes, jars, args, work, deadline)
    problems = list(res["problems"])
    failed = res["failed"]
    findings = []
    if args.workload == "gates":
        timed = {kv.split("=")[0] for kv in res["info"]["gate_s"].split(",")}
        for gate, bad in check_gates(res, work).items():
            if bad is None:
                continue
            if gate in timed:
                failed += 1
                problems.append(f"{gate}: {bad}")
            else:
                findings.append(f"{gate}: {bad}")
    return res, problems, failed, findings, work


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    if args.workload == "gates" and not DATA.is_dir():
        fail(f"gate tables not found under {DATA.relative_to(ROOT)}")
    deadline = time.time() + RUN_BUDGET_S
    if args.trace:
        # Reference: the same seed untraced, right before the traced run.
        ref, ref_problems, _, _, _ = run_checked(
            classes, jars, argparse.Namespace(**{**vars(args), "trace": 0}), deadline)
    res, problems, failed, findings, work = run_checked(classes, jars, args, deadline)
    if args.trace:
        problems += [f"untraced reference: {p}" for p in ref_problems]
        # Seconds per operation, traced over untraced.
        plain = ref["metrics"]["throughput_per_s"]["value"]
        traced = res["metrics"]["throughput_per_s"]["value"]
        res["per_layer"]["trace_overhead"] = {"value": plain / traced, "unit": "ratio"}
        res["info"]["trace_overhead_base"] = (
            f"untraced throughput_per_s {plain:.4f} / traced {traced:.4f}, seed {args.seed}")

    attempted = res["attempted"]
    for k, v in res["info"].items():
        print(f"info {k} = {v}")
    for f in findings:
        print(f"finding (known, not a timed operation) {f}")
    for p in problems:
        print(f"FAILED CHECK {p}")
    print(f"latency_p50_s = {res['latency_p50_s']:.6g} s (reported, not bounded)")
    for name, m in res["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(f"metric failed_ratio = {failed}/{attempted}")
    if args.trace:
        for name, m in res["per_layer"].items():
            print(f"layer {name} = {m['value']:.6g} {m['unit']}")
        print(f"spans written to {(work / 'spans.jsonl').relative_to(ROOT)}")
    metrics = res["per_layer"] if args.trace else res["metrics"]
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
