#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one engine process.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It builds the engine and the harness
(``build.py``), generates the seeded inputs (``datagen.py``), runs the
workload in one JVM on ``local[nproc]`` (``src/Bench.scala``), checks every
op's output (``checks.py``), and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). Everything it writes
goes under ``.bench_build/`` and ``.bench_work/`` in the checkout. See
README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ["warehouse_sql", "medallion_etl"]
STAR_SF = 0.1
# The star schema is one fixed dataset; warehouse_sql's seed permutes op order.
STAR_SEED = 42
CRM_CUSTOMERS = 2000
# The tables warehouse_sql's `load_inputs` op scans; medallion_etl ingests
# its CSVs instead.
INGEST_TABLES = {"warehouse_sql": ["orders", "lineitem"], "medallion_etl": []}
JVM_TIMEOUT_S = 165
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("ops_ok_ratio", "ratio"), ("peak_rss_mb", "MB"),
              ("ingest_rows_per_s", "rows/s"), ("pipeline_s", "s")]
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise SystemExit("perfbench: no MemTotal in /proc/meminfo")


def source_tag(checkout):
    """The git commit when the checkout is a repository, else a digest of the
    engine and benchmark sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=checkout, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for root in ("src", "perfbench"):
        for dirpath, _, files in sorted(os.walk(os.path.join(checkout, root))):
            for name in sorted(files):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "tree-" + h.hexdigest()[:16]


def cached_dir(path, make):
    """Generate into ``path`` once; a half-written directory never survives."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        result = make(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(result or {}, f)
        os.replace(tmp, path)
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated benchmark unwinds, so the compiler or engine it started is
    # killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    checkout = os.getcwd()
    classpath = build.build(checkout)
    work = os.path.join(checkout, ".bench_work")
    gen_tag = hashlib.sha256(open(os.path.join(HERE, "datagen.py"), "rb").read()).hexdigest()[:12]

    def make_star(d):
        datagen.gen_star(d, STAR_SF, STAR_SEED)
        import pyarrow.parquet as pq
        return {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
                for t in checks.TABLES}

    star_tag = f"star-sf{STAR_SF}-{gen_tag}"
    star_dir = os.path.join(work, "data", star_tag)
    star_meta = cached_dir(star_dir, make_star)
    crm_dir = os.path.join(work, "data", f"crm-{a.seed}-{CRM_CUSTOMERS}-{gen_tag}")
    planted = cached_dir(crm_dir, lambda d: datagen.gen_crm(d, a.seed, CRM_CUSTOMERS))
    ingest_tables = INGEST_TABLES[a.workload]
    ingest_rows = (planted["csv_rows"] if a.workload == "medallion_etl"
                   else sum(star_meta[t] for t in ingest_tables))

    cores = os.cpu_count() or 1
    mem_kb = mem_total_kb()
    # a quarter of the host's memory, within [1, 8] GiB
    heap_mb = max(1024, min(8192, mem_kb // 4096))

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed heap and young generation with the parallel
           # collector, so the resident set (peak_rss_mb) does not wander
           # with G1's adaptive region use
           + [f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 4}m",
              "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
              f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", star_dir, "--csv", crm_dir,
              "--work", run_dir, "--ingest-rows", str(ingest_rows),
              "--ingest-tables", ",".join(ingest_tables)])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH"])
    log_path = os.path.join(run_dir, "engine.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: engine timed out after {JVM_TIMEOUT_S} s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: engine exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    wrong = checks.check_queries(res["oracles"], os.path.join(run_dir, "verify"), star_dir,
                                 os.path.join(work, "oracle"), star_tag)
    if a.workload == "medallion_etl":
        wrong.update(checks.check_medallion(os.path.join(run_dir, "warehouse", "verify"),
                                            crm_dir, planted))
    errors = {}
    for op in res["ops"]:
        if op["error"]:
            errors.setdefault(op["name"], op["error"])
    # every execution of an op that raised or answered wrong is a failure, so
    # one wrong query moves ops_ok_ratio by its share of the ops
    attempted = len(res["ops"])
    failed = sum(1 for op in res["ops"] if op["error"] or op["name"] in wrong)
    for name, why in sorted(errors.items()):
        print(f"perfbench: FAILED {name}: {why}")
    for name, why in sorted(wrong.items()):
        print(f"perfbench: WRONG {name}: {why}")

    e2e = dict(res["e2e"], ops_ok_ratio=1.0 - failed / attempted)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "mem_total_kb": mem_kb, "heap_mb": heap_mb, "jdk": res["java_version"],
        "spark": res["spark_version"], "commit": source_tag(checkout),
        "platform": platform.platform(),
        "cpu_steal_pct": res["steal_pct"], "measured_steal_pct": res["measured_steal_pct"],
        "op_tail_percentile": res["tail_percentile"],
        "timed_ops": res["timed_ops"], "timed_passes": res["timed_passes"],
        "setup_walls": res["setup_walls"], "pass_walls": res["pass_walls"],
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "errors": errors, "wrong": wrong, "metrics": metrics,
                   "ops": res["ops"]}, f, indent=1)
    print("perfbench: " + json.dumps(stamp))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
