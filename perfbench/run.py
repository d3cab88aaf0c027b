#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Run from the repository root. It compiles graft's main sources together
with the harness in `perfbench/src` (cached under `.bench_build/`),
generates every input from the seed, runs one closed-loop JVM client on
`local[<cores>]`, checks the outputs, and prints as its last stdout line
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). It exits 1 when an output is wrong. See DESIGN.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import check  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
START = time.monotonic()
# a run must end within 180 s once the classes are built
RUN_LIMIT_S = 170

BENCH_SF, CHECK_SF = 0.1, 0.01
SETUPS = 5
STREAM_BATCH_DOCS = 100
# The batch workload's fixed query set: relational, data-quality and
# multimodal queries, then corpus queries (DESIGN.md).
QUERIES = [
    "q4_star_join", "q47_posexplode", "q3_join_agg", "dq_unique_check",
    "mm_stats",
    "dedup_exact", "dedup_minhash_lsh", "decon_pairs_13gram", "ta_fingerprint",
]
SETUP_QUERY = "q47_posexplode"
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench {time.monotonic() - START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def build(jars):
    """Compiles graft + harness with scalac; returns the classes dir."""
    srcs = sorted((ROOT / "src" / "main").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))
    if not any((ROOT / "src" / "main").rglob("*.scala")):
        sys.exit("perfbench: graft sources not found under src/main")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "DONE").exists():
        return out
    log(f"compiling {len(srcs)} sources")
    tmp = Path(f"{out}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    subprocess.run(cmd + [str(p) for p in srcs], check=True,
                   stdout=sys.stderr, timeout=800)
    (tmp / "DONE").touch()
    for old in BUILD.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def etl_config(seed, data, sink):
    """ReadFormat orders + lineitem -> SqlTransform join/agg -> WriteFormat.
    The seed picks the two-year order-date window. The SQL is valid in
    both Spark and DuckDB, which checks the sink."""
    start = 1995 + seed % 4
    sql = (
        "SELECT o.o_orderpriority, l.l_returnflag, COUNT(*) AS n_lines, "
        "CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty, "
        "CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
        " AS gross_cents, MAX(l.l_shipdate) AS last_ship "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        f"WHERE o.o_orderdate >= TIMESTAMP '{start}-01-01 00:00:00' "
        f"AND o.o_orderdate < TIMESTAMP '{start + 2}-01-01 00:00:00' "
        "GROUP BY o.o_orderpriority, l.l_returnflag")
    return sql, f"""
name = etl-orders
version = "1.0"
components = [
  {{ name = read_orders, component_type = source,
     class_path = "graft.components.ReadFormat",
     config {{ format = parquet, path = "{data}/orders.parquet", output_view = orders }}
     retry {{ max_attempts = 2, initial_delay_seconds = 0.1, jitter = 0.0 }} }},
  {{ name = read_lineitem, component_type = source,
     class_path = "graft.components.ReadFormat",
     config {{ format = parquet, path = "{data}/lineitem.parquet", output_view = lineitem }} }},
  {{ name = revenue, component_type = transformation,
     class_path = "graft.components.SqlTransform",
     depends_on = [read_orders, read_lineitem],
     config {{ output_view = revenue, sql = "{sql}" }} }},
  {{ name = write_revenue, component_type = sink,
     class_path = "graft.components.WriteFormat", depends_on = [revenue],
     config {{ format = parquet, input_view = revenue, path = "{sink}", mode = overwrite }} }}
]
"""


def prepare(workload, seed, seconds, work):
    """Generates the run's inputs; returns extra harness arguments."""
    if workload == "batch":
        data, check_data = work / "data", work / "check_data"
        gen.tables(str(data), seed, BENCH_SF)
        gen.tables(str(check_data), seed, CHECK_SF)
        sql, etl = etl_config(seed, data, work / "sink_etl")
        (work / "etl.conf").write_text(etl)
        (work / "etl.sql").write_text(sql)
        return {"data": data, "check_data": check_data,
                "queries": ",".join(QUERIES), "setup_query": SETUP_QUERY,
                "config": work / "etl.conf"}
    # a fold takes far longer than a second: this is more than a run folds
    n = 4 + int(seconds)
    gen.stream_batches(str(work / "batches"), seed, n, STREAM_BATCH_DOCS)
    return {"stream_batches": work / "batches",
            "batch_docs": STREAM_BATCH_DOCS}


def run_jvm(classes, jars, workload, args, work, kv, out, deadline):
    cores = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    argv = {"workload": workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "setups": SETUPS,
            "work": work, "out": out, "op_timeout_s": 60, **kv}
    # no hsperfdata file: the run writes nothing outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m", *OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main",
           *[f"{k}={v}" for k, v in argv.items()]]
    with open(work / "jvm.log", "w") as jl:
        p = subprocess.Popen(cmd, stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + RUN_LIMIT_S - 10
    outdir = BUILD / "out"
    outdir.mkdir(parents=True, exist_ok=True)
    work = BUILD / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        kv = prepare(args.workload, args.seed, args.seconds, work)
        log(f"inputs generated for seed {args.seed}; starting harness")
        res = run_jvm(classes, jars, args.workload, args, work, kv,
                      outdir / f"result-{args.workload}.json", deadline)
        failures = list(res["check_failures"])
        if args.workload == "batch":
            failures += check.check_queries(str(work / "check_data"),
                                            str(work / "check_out"))
            con = check.connect(str(work / "data"))
            why = check.compare(con, str(work / "sink_etl" / "*.parquet"),
                                (work / "etl.sql").read_text())
            if why:
                failures.append(f"etl pipeline sink: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        log(f"FAILED op: {e}")
    for f in failures:
        log(f"WRONG output: {f}")
    attempted = res["attempted"] + len(failures)
    failed = res["failed"] + len(failures)
    log(f"{args.workload} seed={args.seed} rounds={res['rounds']} "
        f"samples={res['samples']} attempted={attempted} failed={failed} "
        f"failed_frac={failed / max(attempted, 1):.4f} "
        f"setup_runs_s={[round(x, 3) for x in res['setup_runs_s']]}")
    # the run's identity and accounting, for compare.py and for people;
    # the result object stays the last line
    print(json.dumps({"perfbench_run": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "attempted": attempted, "failed": failed,
        "failed_frac": failed / max(attempted, 1), "rounds": res["rounds"],
        "samples": res["samples"], "setup_runs_s": res["setup_runs_s"],
        "phase_s": res["phase_s"], "op_median_s": res["op_median_s"],
        "op_samples_s": res["op_samples_s"],
        "failures": res["errors"] + failures}}))
    kind = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["end_to_end"]
    metrics = {}
    for m in SPEC[kind]:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if v is not None else 0.0,
                              "unit": m["unit"]}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
